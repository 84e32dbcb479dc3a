package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Sources

/** Multimodal-column plumbing (SURVEY.md §2 "Multimodal"): media
  * payloads ride as opaque `binary` columns with typed metadata
  * structs; decode/feature-extraction runs per-partition over the
  * binary batches. The actual media decode is STUBBED (no image/audio
  * libs in this environment) with a deterministic fake — the Spark
  * plumbing (schema, batching, partition-level execution) is real.
  *
  * Scale posture: payloads never shuffle — metadata extraction and
  * chunk sampling are narrow; anything that aggregates works on the
  * extracted (small) features, not the bytes.
  */
object BinaryPipeline {

  /** m01_binary_meta — attach a binary payload + typed metadata and
    * extract per-row byte-level stats (octet length, content digest,
    * first codepoint). Oracle-checked: the binary is the UTF-8 text. */
  def binaryMeta(documents: DataFrame): DataFrame =
    documents
      .withColumn("payload", col("text").cast("binary"))
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        length(col("text")).as("n_chars_actual"),
        sha2(col("payload"), 256).as("payload_sha"),
        ascii(substring(col("text"), 1, 1)).as("first_code"))
      .orderBy("doc_id")

  /** m02_chunk_sample — deterministic fixed-stride chunk sampling over
    * binary payloads (the "every Nth frame" pattern): 64-byte chunks,
    * keep every 4th, surface chunk index + size + digest. */
  def chunkSample(documents: DataFrame, chunkBytes: Int = 64, stride: Int = 4): DataFrame =
    documents
      .withColumn("payload", col("text").cast("binary"))
      // empty payloads have no chunks; without the guard
      // sequence(0, -1) DESCENDS and emits phantom chunk indices
      .filter(length(col("payload")) > 0)
      .withColumn("chunk", explode(filter(
        transform(
          sequence(lit(0), floor((length(col("payload")) - 1) / chunkBytes).cast("int")),
          i => struct(i.as("chunk_idx"),
            substring(col("payload"), i * chunkBytes + 1, lit(chunkBytes)).as("bytes"))),
        s => s.getField("chunk_idx") % stride === 0)))
      .select(
        col("doc_id"),
        col("chunk.chunk_idx").as("chunk_idx"),
        length(col("chunk.bytes")).as("chunk_bytes"),
        sha2(col("chunk.bytes"), 256).as("chunk_sha"))
      .orderBy("doc_id", "chunk_idx")

  /** m03_media_manifest — per-source payload manifest: the media-lake
    * inventory report (counts, byte totals, size extremes) that drives
    * partition planning for a decode fleet. */
  def mediaManifest(documents: DataFrame): DataFrame =
    documents
      .withColumn("n_bytes", octet_length(col("text")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bytes").cast("long")).as("total_bytes"),
        min("n_bytes").as("min_bytes"),
        max("n_bytes").as("max_bytes"))
      .orderBy("source")

  /** m04_modality_route — magic-byte routing: classify each payload by
    * its leading bytes and report per-route volume, the dispatch step
    * that sends each modality to its decode fleet. On these text
    * payloads the "magic bytes" are the first codepoint's class; a
    * binary corpus swaps the CASE arms for real signatures (0xFFD8
    * JPEG, 'RIFF' WAV, ...) — the routing plumbing is identical. */
  /** The m04 routing rule as an expression — shared by every operator
    * that reports per-modality (m04, m09). */
  private def routeExpr: org.apache.spark.sql.Column =
    when(col("first_code") === 123, "json")          // '{'
      .when(col("first_code") === 60, "markup")      // '<'
      .when(col("first_code").between(48, 57), "numeric")
      .when(col("first_code").between(65, 90) ||
        col("first_code").between(97, 122), "prose")
      .otherwise("other")

  def modalityRoute(documents: DataFrame): DataFrame =
    documents
      .withColumn("first_code", ascii(substring(col("text"), 1, 1)))
      .withColumn("route", routeExpr)
      .groupBy("route")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(octet_length(col("text")).cast("long")).as("total_bytes"))
      .orderBy("route")

  /** m05_payload_dedup — exact payload-level dedup across the media
    * lake: group on the content digest so the shuffle carries a
    * 32-byte key, never the payload; keep the smallest doc_id per
    * identical blob and report copies + bytes reclaimed. This is the
    * blob-store dedup pass that runs BEFORE any decode fleet — at
    * 100 TB it's one scan + one digest-keyed aggregation. */
  def payloadDedup(documents: DataFrame): DataFrame =
    documents
      .withColumn("payload", col("text").cast("binary"))
      .groupBy(sha2(col("payload"), 256).as("payload_sha"))
      .agg(
        min("doc_id").as("keep_doc_id"),
        count(lit(1)).as("n_copies"),
        // copies of the same digest have identical length, so
        // reclaimed bytes = (copies-1) x payload size
        ((count(lit(1)) - 1) * max(length(col("payload")))).as("bytes_saved"))
      .select("keep_doc_id", "payload_sha", "n_copies", "bytes_saved")
      .orderBy("keep_doc_id")

  /** m06_chunk_dedup — chunk-level NEAR-dup candidates between
    * payloads: where m05 catches byte-identical blobs, this catches
    * blobs sharing content blocks (truncated uploads, re-muxed
    * containers, appended metadata) by fingerprinting every
    * non-overlapping `chunkBytes` block and pairing payloads that
    * share ≥ `minShared` distinct blocks — d09's shared-shingle logic
    * lifted to binary. Only (doc_id, 8-byte chunk hash) pairs shuffle;
    * `dfCap` drops degenerate hot blocks (zero runs, shared headers)
    * before the pair join so a common block can't go quadratic —
    * non-binding at test SF, mirrored in the oracle. */
  def chunkDedup(documents: DataFrame, chunkBytes: Int = 64,
                 minShared: Int = 2, dfCap: Long = 1000L): DataFrame = {
    val keyed = documents
      .withColumn("payload", col("text").cast("binary"))
      .filter(length(col("payload")) > 0) // see chunkSample: sequence(0,-1) descends
      .select(col("doc_id"), explode(
        transform(
          sequence(lit(0), floor((length(col("payload")) - 1) / chunkBytes).cast("int")),
          i => xxhash64(substring(col("payload"), i * chunkBytes + 1, lit(chunkBytes)))))
        .as("h"))
      .distinct()
    // persisted (tracked): the (doc_id, hash) relation is read three
    // times (df count + both pair-join sides) — without it the chunk
    // explode runs three times, and accurate stats let the planner
    // pick a shuffle join over a mis-estimated broadcast at scale;
    // released by the caller's Caches.release()
    graft.Caches.tracked(keyed)
    val eligible = keyed.groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, dfCap))
      .select("h")
    val cand = keyed.join(eligible, "h")
    cand.as("a").join(cand.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** m09_storage_savings — the CAPACITY-PLANNING report for a
    * content-addressed block store, per modality: logical bytes vs
    * the bytes a `chunkBytes`-block dedup store would actually hold
    * (each distinct block stored once), and the resulting dedup
    * ratio. m05 reports what payload-level dedup reclaims, m06/m07
    * find WHO shares content — this answers the storage owner's
    * question "how big is the lake after block dedup, per tier".
    *
    * Scale posture: one scan; blocks shuffle as (route, 8-byte hash,
    * block length) — never the block bytes — into a two-level
    * aggregation (distinct blocks, then per-route sums). Block
    * identity is the 64-bit content hash (collision odds
    * ~|blocks|²/2⁶⁴, the m06 convention — the oracle groups on block
    * CONTENT and agrees). Empty payloads carry no blocks and are
    * excluded from every column (spec-pinned). dedup_ratio is one
    * IEEE division of integer-exact sums, bit-equal cross-engine. */
  def storageSavings(documents: DataFrame, chunkBytes: Int = 64): DataFrame = {
    val routed = graft.Caches.tracked(documents
      .withColumn("payload", col("text").cast("binary"))
      .filter(length(col("payload")) > 0)
      .withColumn("first_code", ascii(substring(col("text"), 1, 1)))
      .withColumn("route", routeExpr)
      .select(col("route"), col("payload")))
    val per = routed.groupBy("route").agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("payload")).cast("long")).as("total_bytes"))
    val uniq = routed
      .select(col("route"), explode(
        transform(
          sequence(lit(0), floor((length(col("payload")) - 1) / chunkBytes).cast("int")),
          i => struct(
            xxhash64(substring(col("payload"), i * chunkBytes + 1, lit(chunkBytes))).as("h"),
            least(lit(chunkBytes), length(col("payload")) - i * chunkBytes).as("blen"))))
        .as("b"))
      .select(col("route"), col("b.h").as("h"), col("b.blen").as("blen"))
      .groupBy("route", "h").agg(max("blen").as("blen"))
      .groupBy("route").agg(
        count(lit(1)).as("n_unique_blocks"),
        sum(col("blen").cast("long")).as("unique_bytes"))
    per.join(uniq, "route")
      .withColumn("dedup_ratio",
        col("total_bytes").cast("double") / col("unique_bytes").cast("double"))
      .select("route", "n_docs", "total_bytes", "n_unique_blocks",
        "unique_bytes", "dedup_ratio")
      .orderBy("route")
  }

  /** m07_cdc_dedup — SHIFT-INVARIANT chunk-level payload near-dup:
    * m06's fixed-stride blocks are position-anchored, so ONE inserted
    * byte (a prepended header, a re-muxed container atom) re-aligns
    * every later block and the pair goes dark — the binary analogue of
    * the fixed span grid t20 repaired for text. Here chunk boundaries
    * come from content-defined chunking (`graft_cdc_hashes`: gear
    * rolling hash, boundary where the hash masks to zero), so after an
    * insertion the chunk stream re-synchronizes and the shared content
    * keeps fingerprinting identically. Pairing logic is m06's
    * unchanged: distinct (doc_id, chunk hash), df-capped hot-hash
    * guard, hash-keyed self-join, ≥ `minShared` shared chunks.
    *
    * Scale posture: identical to m06 — payload bytes never shuffle
    * (chunking is one compiled pass at the scan), only (doc_id,
    * 8-byte hash) pairs cross exchanges, and the forced-cut maxLen
    * inside the expression bounds chunk count per payload. Rows-only:
    * CDC boundaries are not ANSI-SQL-expressible; the spec plants the
    * one-byte-prefix case and proves m06 misses it while this catches
    * it. */
  /** The (doc_id, CDC chunk hash) relation m07/m10/m16 share — ONE
    * compiled chunking pass over the payloads, tracked for reuse (the
    * d24 preShingled seam applied to bytes). */
  private[graft] def cdcKeyed(documents: DataFrame, minLen: Int,
                              maskBits: Int): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    graft.Caches.tracked(documents
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        explode(expr(s"graft_cdc_hashes(payload, $minLen, $maskBits)")).as("h"))
      .distinct())
  }

  def cdcDedup(documents: DataFrame, minLen: Int = 16, maskBits: Int = 5,
               minShared: Int = 2, dfCap: Long = 1000L,
               preKeyed: Option[DataFrame] = None): DataFrame = {
    // three readers (df count + both pair-join sides) — see chunkDedup;
    // preKeyed threads m16's shared chunking scan
    val keyed = preKeyed.getOrElse(cdcKeyed(documents, minLen, maskBits))
    val eligible = keyed.groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, dfCap))
      .select("h")
    val cand = keyed.join(eligible, "h")
    cand.as("a").join(cand.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** m10_chunk_containment — VERSION-LINEAGE detection over CDC
    * chunks: the directional d18 measure applied to payloads —
    * C(a→b) = |chunks(a) ∩ chunks(b)| / |chunks(a)| ≥ threshold flags
    * payload a as substantially CONTAINED in b (an earlier version, a
    * truncated upload, a file embedded inside an archive/container),
    * the asymmetric verdict m07's symmetric shared-count cannot
    * express: appending a tail to a file leaves the original 100%
    * contained while the pair's Jaccard and the reverse direction
    * dilute arbitrarily. CDC boundaries (m07's content-defined cuts)
    * make the chunk sets shift-robust, so an inserted prefix doesn't
    * break the containment signal the way fixed-grid chunks (m06)
    * would.
    *
    * Scale posture: m07's exactly — payload bytes never shuffle
    * (chunking is one compiled `graft_cdc_hashes` pass at the scan),
    * only (doc_id, 8-byte hash) pairs cross exchanges, hot chunks
    * df-capped; each unordered pair is enumerated once and both
    * directions derive from the one pair row (the d18 shape).
    * Rows-only: CDC boundaries are not ANSI-SQL-expressible; the spec
    * plants the appended-tail lineage case and pins the direction. */
  def chunkContainment(documents: DataFrame, threshold: Double = 0.8,
                       minChunks: Int = 4, minLen: Int = 16, maskBits: Int = 5,
                       dfCap: Long = 1000L,
                       preKeyed: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1.0,
      s"chunkContainment: threshold must be in (0,1], got $threshold")
    // three readers — see chunkDedup; preKeyed threads m16's shared scan
    val keyed = preKeyed.getOrElse(cdcKeyed(documents, minLen, maskBits))
    val counts = keyed.groupBy("doc_id").agg(count(lit(1)).as("nch"))
    val eligible = keyed.groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, dfCap))
      .select("h")
    val cand = keyed.join(eligible, "h")
    val pairs = cand.as("a").join(cand.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    val dirs = pairs.select(col("id_a").as("doc_id"), col("id_b").as("in_doc"), col("shared"))
      .unionByName(pairs.select(col("id_b").as("doc_id"), col("id_a").as("in_doc"), col("shared")))
    dirs.join(counts, "doc_id")
      .filter(col("nch") >= minChunks &&
        col("shared") / col("nch") >= threshold)
      .select(col("doc_id"), col("in_doc"), col("shared"), col("nch"),
        graft.Num.stableRound(col("shared") / col("nch"), 4).as("containment"))
      .orderBy("doc_id", "in_doc")
  }

  /** m08_feature_dedup — the multimodal near-dup MANIFEST over
    * DECODED features: the missing edge between the decode stub and
    * the dedup/ANN stack. Payloads run through `decodeFeatures` (the
    * one declared codec seam — a real deployment plugs image/audio
    * decode + a feature net there) and every payload gets its
    * feature-space nearest neighbour via the SAME IVF kNN self-join
    * as a07, flagged `is_dup` at `threshold`. A re-encoded or
    * metadata-patched media file whose bytes differ (invisible to
    * m05's exact hash and to m07's byte-level CDC) flags against its
    * original whenever the decoder maps both near the same features —
    * embed-then-ANN-join is how image/audio dedup is actually done at
    * scale, and the manifest form (one row per payload, filter
    * `is_dup` to act) is what a curation pass consumes; on a corpus
    * with no feature-duplicates the manifest is still the full
    * nearest-neighbour report, never empty.
    *
    * Scale posture: inherits a07's — the cell id is the only join
    * key, candidate volume Σ|cell|·nprobe, never n²; the decode pass
    * is `decodeFeatures`' partition-at-a-time map. Rows-only: stub
    * features are not ANSI-SQL-expressible; the spec plants
    * byte-identical payloads (feature-identical ⇒ mutual NN at cos
    * 1.0, is_dup true). */
  def featureDedup(documents: DataFrame, threshold: Double = 0.99,
                   featureDim: Int = 8): DataFrame = {
    // tracked: knnJoin reads the feature frame for centroid training,
    // the query side and the corpus side — uncached, the decode map
    // (a real codec + feature net in production) would run 3-4x
    val feats = graft.Caches.tracked(decodeFeatures(documents, featureDim)
      .select(col("doc_id").as("vec_id"), col("feature").as("embedding")))
    graft.ann.Ann.knnJoin(feats, k = 1)
      .select(col("query_id").as("doc_id"), col("neighbor_id").as("nn_id"),
        col("cos_sim"), (col("cos_sim") >= threshold).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Feature schema a real media decoder would produce. */
  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("mime", StringType),
    StructField("n_bytes", IntegerType),
    StructField("feature", ArrayType(FloatType))))

  /** Decode + feature-extract over binary payloads, partition-at-a-time
    * (the Scala analogue of mapInPandas batch UDFs). STUB: a real
    * deployment decodes media and runs a feature net here; this
    * environment has no codecs, so features are a deterministic fake
    * derived from the bytes. The batch shape, schema and partition
    * behavior are the real thing. */
  def decodeFeatures(documents: DataFrame, featureDim: Int = 8): DataFrame = {
    val spark = documents.sparkSession
    val rdd = documents
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"), col("payload"))
      .rdd.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          // --- STUB DECODER: replace with image/audio decode + model ---
          val feat = Array.tabulate(featureDim) { j =>
            var h = 1125899906842597L
            var i = j
            while (i < bytes.length) { h = h * 31 + bytes(i); i += featureDim }
            (h % 1000).toFloat / 1000f
          }
          // -------------------------------------------------------------
          Row(id, "text/plain", bytes.length, feat.toSeq)
        }
      }
    spark.createDataFrame(rdd, featureSchema).orderBy("doc_id")
  }

  /** m11_payload_entropy — per-payload Shannon entropy (bits/byte)
    * via the compiled `graft_byte_entropy` histogram pass, plus the
    * storage-routing verdict m09's capacity math wants: payloads near
    * 8 bits/byte are already compressed/encrypted/media — recompressing
    * them in the block store burns CPU for ~zero savings — while
    * structured text (~4–5) and low-entropy padding are the
    * compression wins. Thresholds are the standard file-carving
    * heuristics (≥ 7.2 high, < 2.0 degenerate). Scan-speed narrow
    * pass, payload bytes never shuffle; rows-only (log is
    * transcendental — SURVEY §5), spec pins a float-for-float twin
    * and the exact power-of-two cases. */
  def payloadEntropy(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents
      .withColumn("payload", col("text").cast("binary"))
      // compute the histogram pass ONCE per row, and route on the SAME
      // 4-dp value entropy_bits shows — a payload at 7.19996 must not
      // display 7.2 while routing "compress" (threshold-margin rows
      // would look inconsistent, and the triple evaluation was 3x the
      // scan cost for nothing)
      .withColumn("entropy_bits",
        graft.Num.stableRound(expr("graft_byte_entropy(payload)"), 4))
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        col("entropy_bits"),
        when(col("entropy_bits") >= 7.2, "store_raw")
          .when(col("entropy_bits") < 2.0, "degenerate")
          .otherwise("compress").as("route"))
      .orderBy("doc_id")
  }

  /** m12_payload_blockhash — byte-level NEAR-duplicate pairs via the
    * 64-bit block-mean perceptual hash (graft_blockhash, compiled):
    * the exact tier (m05 whole-payload, m06/m07 chunk) misses a
    * payload whose few edited bytes changed every chunk boundary
    * hash's content; the block-mean fingerprint moves only the bits
    * whose block means cross the global mean, so lightly-edited copies
    * sit within a small hamming radius. (On decoded media the same
    * hash runs over pixels/samples — the m08 decode seam; byte-level
    * is what an opaque store computes without codecs.)
    *
    * Candidate generation is the d04 pigeonhole: 4 disjoint 16-bit
    * key blocks — a pair within hamming ≤ 3 shares at least one
    * unchanged block — so the self-join runs on (block, key) buckets
    * and only (doc_id, hash) pairs cross the exchange; exact hamming
    * verifies candidates. All integer arithmetic (the hash compares
    * means by cross-multiplication) → deterministic with no rounding
    * protocol. */
  def payloadBlockhash(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, s"4-block pigeonhole keys are exact only to hamming 3, got $maxHamming")
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val hashed = documents
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"), expr("graft_blockhash(payload)").as("bh"))
    val banded = hashed.select(col("doc_id"), col("bh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("blk"),
          expr(s"(bh >> ${16 * b}) & 65535").as("key"))): _*)).as("band"))
      .select(col("doc_id"), col("bh"), col("band.blk"), col("band.key"))
    val a = banded.select(col("blk"), col("key"),
      col("doc_id").as("doc_a"), col("bh").as("bh_a"))
    val b = banded.select(col("blk"), col("key"),
      col("doc_id").as("doc_b"), col("bh").as("bh_b"))
    a.join(b, Seq("blk", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "bh_a", "bh_b").distinct()
      .withColumn("hamming", expr("bit_count(bh_a ^ bh_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** m13_blockhash_clusters — m12's pair report RESOLVED: connected
    * components over the perceptual near-dup graph, one (doc_id,
    * cluster_id, is_canonical) verdict per payload — what a capacity
    * job actually consumes (m12 tells you A~B and B~C; dedup keeps
    * ONE of {A,B,C}, which needs the transitive closure). Reuses
    * d07's size-adaptive resolver verbatim (local union-find below
    * the edge limit, distributed min-label propagation above —
    * `Dedup.clustersFromPairs`): the pair graph is the hamming-bounded
    * m12 output, so only (id, id) edges reach the resolver, never
    * payloads. Min-id canonical, singletons label themselves —
    * schema-identical to d07, so downstream keep/drop steps (d08's
    * shape) compose unchanged. */
  def blockhashClusters(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    graft.dedup.Dedup.clustersFromPairs(
      documents.select(col("doc_id")),
      payloadBlockhash(documents, maxHamming))

  /** sink_chunk_store — a CONTENT-ADDRESSED block store (the
    * dedup-at-rest m05/m06/m09 only ever measured): payloads split at
    * the CDC gear-hash cut points (`graft_cdc_bounds` — shift-
    * invariant, so an inserted byte re-chunks only its neighborhood
    * and every other chunk keeps its identity), chunk bytes store
    * ONCE per distinct hash in `chunks/`, and each payload persists
    * only its ordered hash list in `recipes/` — identical or
    * near-identical payloads (versions, re-uploads, files-in-
    * archives) share storage automatically. Reassembly is exact by
    * construction: the bounds cover every byte (the store variant
    * always emits the tail chunk the fingerprint variant drops), and
    * [[readChunkStore]] concatenates each doc's chunks in position
    * order. At 100 TB the recipes table is the only per-doc state
    * (16 bytes per chunk reference); the chunks table carries each
    * distinct block once — the m09 savings made real instead of
    * reported. Chunk identity is xxhash64 of the chunk bytes
    * (collision odds negligible at block counts; the canonical-pick
    * min() makes a collision deterministic, not silent corruption of
    * a random doc). */
  private def chunkExplode(documents: DataFrame, minLen: Int,
                           maskBits: Int): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("bd", expr(s"graft_cdc_bounds(payload, $minLen, $maskBits)"))
      .withColumn("bounds", expr(
        "CASE WHEN size(bd) = 0 THEN array() ELSE " +
          "transform(sequence(0, size(bd) div 2 - 1), i -> " +
          "struct(element_at(bd, CAST(2*i+1 AS INT)) AS start, " +
          "element_at(bd, CAST(2*i+2 AS INT)) AS len)) END"))
      .select(col("doc_id"),
        posexplode(col("bounds")).as(Seq("pos", "b")),
        expr("substring(payload, b.start + 1, b.len)").as("chunk"))
      .withColumn("chunk_hash", xxhash64(col("chunk")))
  }

  def writeChunkStore(documents: DataFrame, path: String,
                      minLen: Int = 32, maskBits: Int = 6,
                      batchId: Option[Long] = None): Unit = {
    // a seed rewrites the legacy root layout: any snapshot generations
    // from the store's previous life must go first, or a stale pointer
    // would redirect readers to pre-reseed data (Snapshots.clear doc)
    val rootP = new org.apache.hadoop.fs.Path(path)
    graft.sources.Snapshots.clear(
      rootP.getFileSystem(documents.sparkSession.sparkContext.hadoopConfiguration),
      rootP)
    // one chunking pass feeds both tables
    val exploded = chunkExplode(documents, minLen, maskBits).localCheckpoint(true)
    val recipes = exploded.select("doc_id", "pos", "chunk_hash")
    val chunks = exploded.groupBy("chunk_hash").agg(min(col("chunk")).as("bytes"))
    // the two relations read the same checkpointed chunking pass and
    // are otherwise independent — overlap the writes (graft.Par)
    graft.Par.jobs(
      () => Sources.writeBatch(recipes, path + "/recipes", batchId, seeding = true),
      () => Sources.writeBatch(chunks, path + "/chunks", batchId, seeding = true))
  }

  /** Append a batch of payloads to an existing chunk store, the
    * streaming-ingest half of the store lifecycle (s37): recipes land
    * under the [[Sources.writeBatch]] replay protocol (a re-fired
    * trigger overwrites itself), and chunk bytes append ONLY for
    * hashes the store doesn't already hold (one anti-join against
    * the store's hash column — never its bytes), which makes the
    * chunk side both batch-proportional AND replay-idempotent: a
    * replayed batch's hashes already exist, so zero chunk rows
    * re-land. The store must be batch-seeded
    * (`writeChunkStore(..., batchId = Some(-1))`). */
  def appendChunkStore(batch: DataFrame, path: String, batchId: Long,
                       minLen: Int = 32, maskBits: Int = 6): Unit = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // both relations resolve from ONE snapshot-generation read and the
    // append lands in the CURRENT generation — after a vacuum publishes
    // a new one, later triggers write (and anti-join against) the live
    // copy, which is what makes replay-after-vacuum converge
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, Seq(chunksPath, recipesPath)) =
      graft.sources.Snapshots.resolve(fs, rootP, Seq("chunks", "recipes"))
    require(graft.Fs.exists(spark, recipesPath.toString),
      s"$path holds no chunk store; seed it with writeChunkStore(batchId = Some(...))")
    val exploded = chunkExplode(batch, minLen, maskBits).localCheckpoint(true)
    Sources.writeBatch(exploded.select(col("doc_id"), col("pos"), col("chunk_hash")),
      recipesPath.toString, Some(batchId), seeding = false)
    val existing = spark.read.parquet(chunksPath.toString).select("chunk_hash")
    exploded.groupBy("chunk_hash").agg(min(col("chunk")).as("bytes"))
      .join(existing, Seq("chunk_hash"), "left_anti")
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").partitionBy("batch_id").parquet(chunksPath.toString)
  }

  /** Exact reassembly from the chunk store: recipes join the chunk
    * table on content hash, each doc's chunks concatenate in position
    * order (position is unique per doc → deterministic fold). Docs
    * whose payload was empty have no recipe rows — callers left-join
    * and coalesce to empty, the documented contract.
    *
    * Re-uploads: a batch-seeded store may hold the SAME doc_id under
    * several batch_id partitions (appendChunkStore only overwrites its
    * own batch's partition — the replay protocol). Reassembly keeps
    * only each doc's LATEST batch_id recipe set (last-writer-wins, the
    * version semantics the append docstring promises); superseded
    * versions' chunk bytes stay in the content-addressed table, which
    * is harmless (hash-addressed, never concatenated without a recipe)
    * and reclaimable by a vacuum that anti-joins surviving recipes. */
  /** The store's LIVE (chunks, recipes) locations under the snapshot
    * pointer — one generation read, both relations coherent. This is
    * the address every direct inspection (specs, ops tooling) must
    * use once a vacuum has published: the legacy root copies survive
    * one publish as the racing-reader grace window, so a raw
    * `path + "/chunks"` read can land on the stale generation. */
  private[graft] def chunkStorePaths(spark: org.apache.spark.sql.SparkSession,
                                     path: String): (String, String) = {
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, Seq(c, r)) =
      graft.sources.Snapshots.resolve(fs, rootP, Seq("chunks", "recipes"))
    (c.toString, r.toString)
  }

  def readChunkStore(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    // one generation read covers both relations: a vacuum publishing
    // mid-read can never hand this reader new chunks with old recipes
    val (chunksPath, recipesPath) = chunkStorePaths(spark, path)
    val raw = Sources.readParquet(spark, recipesPath)
    val recipes =
      if (raw.columns.contains("batch_id")) {
        val latest = raw.groupBy("doc_id")
          .agg(max(col("batch_id")).as("batch_id"))
        raw.join(latest, Seq("doc_id", "batch_id")).drop("batch_id")
      } else raw
    recipes
      .join(Sources.readParquet(spark, chunksPath).select("chunk_hash", "bytes"),
        "chunk_hash")
      .groupBy("doc_id")
      .agg(expr("aggregate(array_sort(collect_list(struct(pos, bytes))), " +
        "CAST('' AS BINARY), (acc, x) -> concat(acc, x.bytes))").as("payload"))
  }

  /** m15_chunk_vacuum — reclaim the chunk store's garbage: re-uploads
    * supersede a doc's recipe set (readChunkStore keeps only the
    * latest batch), leaving the OLD version's recipe rows and any
    * chunk bytes no live recipe references — this maintenance verb
    * drops both and reports what it reclaimed (one row:
    * chunks/bytes/recipe rows before-after). Chunk liveness is one
    * semi-join of the chunk table against the live recipes' distinct
    * hashes — content addressing makes "is anything still pointing at
    * this" a key lookup, never a byte comparison. Corpus-proportional
    * by nature (it rewrites the store minus garbage — the OPTIMIZE
    * cost class, run on a maintenance cadence), single-writer like
    * every store maintenance verb. Safe under the replay protocol: a
    * later-replayed trigger re-lands its recipe partition and its
    * chunk anti-join re-appends any bytes the vacuum removed, so
    * replay after vacuum converges to the same readable store.
    *
    * Crash safety and reader isolation ride the snapshot-pointer
    * protocol ([[graft.sources.Snapshots]]): survivors land
    * COMPLETELY and DURABLY under the next snapshot generation, then
    * both tables publish together via ONE atomic marker-file create.
    * A reader racing the publish resolves both relations from one
    * generation read — old-everything or new-everything, never new
    * chunks under old recipes — and there is no instant where either
    * directory is missing (the two windows the r19 rename-swap
    * publish still had). A crash before the marker leaves an
    * unreferenced staging generation the next vacuum clears; a crash
    * after it leaves at most a stale previous generation the next
    * publish GCs. Nothing rides executor memory — never the
    * localCheckpoint shape, which at 100 TB would pin a second full
    * copy of the chunk BYTES in block-manager storage and lose the
    * only copy to an executor death mid-rewrite. */
  def vacuumChunkStore(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, Seq(chunksCur, recipesCur)) =
      graft.sources.Snapshots.resolve(fs, rootP, Seq("chunks", "recipes"))
    val recipesRaw = spark.read.parquet(recipesCur.toString)
    val batched = recipesRaw.columns.contains("batch_id")
    val live =
      if (batched) {
        val latest = recipesRaw.groupBy("doc_id")
          .agg(max(col("batch_id")).as("batch_id"))
        recipesRaw.join(latest, Seq("doc_id", "batch_id"))
      } else recipesRaw
    val chunks = spark.read.parquet(chunksCur.toString)
    val keepChunks = chunks.join(live.select("chunk_hash").distinct(),
      Seq("chunk_hash"), "left_semi")
    val stage = graft.sources.Snapshots.stageNext(fs, rootP, gen)
    val chunksNew = new Path(stage, "chunks")
    val recipesNew = new Path(stage, "recipes")
    // the two staged writes and the two before-stats are four
    // independent jobs (before-stats read the ORIGINAL generation,
    // untouched under the staged one) — overlap them (graft.Par);
    // the publish still happens only after every staged write landed.
    // Nothing is pinned in executor memory and the report never reads
    // unpublished paths.
    var before: org.apache.spark.sql.Row = null
    var recipesBefore = 0L
    graft.Par.jobs(
      () =>
        if (batched)
          keepChunks.write.mode("overwrite").partitionBy("batch_id")
            .parquet(chunksNew.toString)
        else keepChunks.write.mode("overwrite").parquet(chunksNew.toString),
      () =>
        if (batched)
          live.write.mode("overwrite").partitionBy("batch_id")
            .parquet(recipesNew.toString)
        else live.write.mode("overwrite").parquet(recipesNew.toString),
      () => before = chunks
        .agg(count(lit(1)).as("n"), coalesce(sum(length(col("bytes"))), lit(0L)).as("b"))
        .head,
      () => recipesBefore = recipesRaw.count())
    graft.sources.Snapshots.publish(fs, rootP, gen + 1, Seq("chunks", "recipes"))
    var after: org.apache.spark.sql.Row = null
    var recipesAfter = 0L
    graft.Par.jobs(
      () => after = spark.read.parquet(chunksNew.toString)
        .agg(count(lit(1)).as("n"), coalesce(sum(length(col("bytes"))), lit(0L)).as("b"))
        .head,
      () => recipesAfter = spark.read.parquet(recipesNew.toString).count())
    Seq((before.getLong(0), after.getLong(0), before.getLong(1) - after.getLong(1),
      recipesBefore - recipesAfter))
      .toDF("chunks_before", "chunks_after", "bytes_reclaimed",
        "recipe_rows_removed")
  }

  /** m14_chunk_store — the store's roundtrip report: build, reassemble,
    * compare byte-for-byte against the original payloads. One row per
    * doc (n_chunks, n_bytes, roundtrip_ok) — the verification a real
    * capacity migration runs before deleting raw blobs. */
  /** m16_payload_sweep — the d24 provenance matrix for PAYLOADS: one
    * row per doc with a SURVIVOR-AWARE flag per byte regime — exact
    * (m05's digest groups), CDC near-dup (m07's shift-invariant
    * shared-chunk pairs, resolved to cluster canonicals — minus any
    * pair a lineage direction claims, which routes to the lineage
    * regime whose dominance order knows which side of an asymmetric
    * pair survives), directional lineage (m10's chunk containment,
    * routed through d22's acyclic dominance order so the survivor of
    * a mutual pair is never flagged), perceptual (m12/m13's
    * block-mean-hash clusters) — and a
    * precedence-ordered verdict. This is what a media-curation owner
    * reads before deleting bytes: which MECHANISM would remove each
    * payload, and what survives all four. A flag means "this regime
    * would REMOVE the doc", never "this doc collides" — canonicals
    * and dominators keep.
    *
    * Plan shape: the two CDC regimes (near + lineage) share ONE
    * compiled chunking scan via the preKeyed seam (the d24
    * preShingled lesson — sharing is structural, not left to
    * cache-manager plan canonicalization); the exact flag is one
    * digest aggregation; perceptual is m13's pigeonhole path. Flags
    * compose by doc_id left-joins, so cost = sum of the regimes'
    * SCALE paths, never a product and never a quadratic baseline.
    * Precedence (strongest evidence first): exact > near (byte chunks
    * shared) > contained (lineage) > perceptual (lossy fingerprint);
    * "keep" = all four passed. Rows-only: CDC boundaries and the
    * block-mean hash are compiled natives — the spec plants one
    * positive per regime and pins the matrix. */
  def payloadSweep(documents: DataFrame, containThreshold: Double = 0.8,
                   maxHamming: Int = 3, minShared: Int = 2,
                   minChunks: Int = 4, minLen: Int = 16, maskBits: Int = 5,
                   dfCap: Long = 1000L): DataFrame = {
    val docs = documents.select(col("doc_id"), col("text"))
    val exactGroups = docs
      .withColumn("payload", col("text").cast("binary"))
      .groupBy(sha2(col("payload"), 256).as("h"))
      .agg(min("doc_id").as("canon"))
    val exactFlag = docs
      .select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("h"))
      .join(exactGroups, "h")
      .select(col("doc_id"), (col("doc_id") =!= col("canon")).as("exact_dup"))
    val keyed = cdcKeyed(docs, minLen, maskBits)
    val lineageDirs = graft.Caches.tracked(
      chunkContainment(docs, containThreshold, minChunks,
        minLen, maskBits, dfCap, preKeyed = Some(keyed)))
    // a pair ANY lineage direction claims routes to the lineage regime
    // and is EXCLUDED from near clustering: m07's shared-count pairing
    // fires on truncation pairs too, and the near regime's min-id
    // canonical would then remove the CONTAINER while its fragment
    // survives — the lineage regime's dominance order is the one that
    // knows which side of an asymmetric pair to keep
    val lineagePairs = lineageDirs.select(
      least(col("doc_id"), col("in_doc")).as("doc_a"),
      greatest(col("doc_id"), col("in_doc")).as("doc_b")).distinct()
    val nearPairs = cdcDedup(docs, minLen, maskBits, minShared, dfCap,
        preKeyed = Some(keyed))
      .join(lineagePairs, Seq("doc_a", "doc_b"), "left_anti")
    val near = graft.dedup.Dedup.clustersFromPairs(docs.select("doc_id"), nearPairs)
      .select(col("doc_id"), (!col("is_canonical")).as("near_dup"))
    // lineage flag rides d22's dominance rule over the m10 directions:
    // drop a doc contained in a STRICTLY dominating payload (more
    // chunks, ties to the smaller id) — acyclic by construction, so a
    // mutual-containment pair keeps its dominant side
    val counts = keyed.groupBy("doc_id").agg(count(lit(1)).as("nch"))
    val contained = lineageDirs
      .join(counts.select(col("doc_id").as("in_doc"), col("nch").as("n_in")),
        "in_doc")
      .filter(col("n_in") > col("nch") ||
        (col("n_in") === col("nch") && col("in_doc") < col("doc_id")))
      .select(col("doc_id")).distinct()
      .withColumn("contained", lit(true))
    val perceptual = blockhashClusters(docs, maxHamming)
      .select(col("doc_id"), (!col("is_canonical")).as("perceptual_dup"))
    docs.select("doc_id")
      .join(exactFlag, Seq("doc_id"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .join(contained, Seq("doc_id"), "left_outer")
      .join(perceptual, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        coalesce(col("contained"), lit(false)).as("contained"),
        coalesce(col("perceptual_dup"), lit(false)).as("perceptual_dup"))
      .withColumn("verdict",
        when(col("exact_dup"), "exact")
          .when(col("near_dup"), "near")
          .when(col("contained"), "contained")
          .when(col("perceptual_dup"), "perceptual")
          .otherwise("keep"))
      .orderBy("doc_id")
  }

  def chunkStoreRoundtrip(documents: DataFrame, path: String,
                          minLen: Int = 32, maskBits: Int = 6): DataFrame = {
    writeChunkStore(documents, path, minLen, maskBits)
    val spark = documents.sparkSession
    val rebuilt = readChunkStore(spark, path)
      .select(col("doc_id"), col("payload").as("rebuilt"))
    documents
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"), col("payload"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        length(col("payload")).as("n_bytes"),
        (col("payload") === coalesce(col("rebuilt"), expr("CAST('' AS BINARY)")))
          .as("roundtrip_ok"))
      .join(spark.read.parquet(path + "/recipes")
        .groupBy("doc_id").agg(count(lit(1)).as("n_chunks")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        col("n_bytes"), col("roundtrip_ok"))
      .orderBy("doc_id")
  }
}
