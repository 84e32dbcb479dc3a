package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Num.stableRound

/** Deduplication operators for LLM-training-data pipelines (beyond the
  * reference's surface; SURVEY.md §2 "Deduplication").
  *
  * Scale posture (100 TB): exact dedup groups on a 128-bit content
  * hash, never the full text; near-dup candidate generation goes
  * through shingle/band buckets so the only fact-fact join is
  * bucket-local. At production scale add a document-frequency cap on
  * shingles (drop shingles appearing in >p docs) — that bounds bucket
  * fan-out at a small recall cost; left uncapped here because the
  * oracle checks exact-equivalence.
  */
object Dedup {

  /** d01_exact_dedup — exact duplicate removal: keep the smallest
    * doc_id per identical text. Groups on md5(text) so the shuffle
    * carries 16-byte keys, not documents. */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
      .select("doc_id", "dup_cnt")
      .orderBy("doc_id")

  /** Hashed shingle sets: 64-bit chained-XXH64 of each word 3-gram,
    * never materializing shingle strings (collision odds
    * ~|shingles|^2 / 2^64 are negligible for counting). The hash loop
    * is the native `graft_shingle_hashes` expression — the
    * transform/array_distinct formulation runs on Spark 4's
    * interpreted HOF path and was the dominant cost of every near-dup
    * operator. Scans.spreadIfNarrow spreads the CPU-heavy shingle
    * build across the cluster only when the input arrives as a few
    * large unsplittable files (a single parquet row group cannot be
    * split by config); a pre-split 100 TB scan passes through with no
    * text exchange. */
  def withShingleHashes(documents: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    graft.Scans.spreadIfNarrow(documents, col("doc_id"))
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .filter(size(col("toks")) >= n)
      .withColumn("sh", expr(s"graft_shingle_hashes(toks, $n)"))
  }

  /** Capped shingle sets: drop shingles whose document frequency
    * exceeds `dfCap` before any pair generation. A single hot shingle
    * ("in the of") otherwise creates one quadratic bucket in the
    * inverted-index join — the classic straggler at 100 TB. The hot
    * set is tiny by construction (few shingles exceed the cap), so it
    * broadcast-anti-joins away; the DF count itself is one extra
    * partial-agg pass over (sh_h, count). Jaccard is then defined over
    * the capped shingle universe — d02 and d03 stay exactly equal
    * under the same cap. */
  private[graft] def cappedShingleSets(documents: DataFrame,
                                       dfCap: Option[Long]): DataFrame = {
    val sets = withShingleHashes(documents).select(col("doc_id"), col("sh"))
    dfCap match {
      case None => sets
      case Some(p) =>
        val e = sets.select(col("doc_id"), explode(col("sh")).as("sh_h"))
        val hot = e.groupBy("sh_h").agg(count(lit(1)).as("df"))
          .filter(col("df") > p).select("sh_h")
        e.join(broadcast(hot), Seq("sh_h"), "left_anti")
          .groupBy("doc_id").agg(collect_list(col("sh_h")).as("sh"))
    }
  }

  /** d02_ngram_jaccard — exact all-pairs near-dup detection: explode
    * shingles, self-join on shingle (the inverted-index join), count
    * shared shingles per pair, exact Jaccard >= threshold.
    * This is the correctness baseline the LSH path must reproduce. */
  def ngramJaccard(documents: DataFrame, threshold: Double = 0.8,
                   dfCap: Option[Long] = None): DataFrame = {
    val e = cappedShingleSets(documents, dfCap)
      .select(col("doc_id"), size(col("sh")).as("nsh"), explode(col("sh")).as("sh_h"))
    // exact-safe size prefilter: j >= t implies min(na,nb)/max(na,nb)
    // >= t, so prune mismatched-size pairs INSIDE the join, before the
    // pair-count shuffle (+0.5 margin makes the fp comparison safe on
    // integer sizes — never prunes a qualifying pair)
    val sizeOk = col("a.nsh") * threshold <= col("b.nsh") + 0.5 &&
      col("b.nsh") * threshold <= col("a.nsh") + 0.5
    // shuffle_hash hint: the post-explode estimate is the pre-explode
    // scan bytes, so the planner broadcasts millions of exploded
    // shingle rows — a single-threaded driver-side hash build that
    // measured 6x slower than the shingle-key shuffle join even at
    // sf0.1 (at corpus scale estimates grow with the input and the
    // planner lands on the same shuffle join by itself)
    val pairs = e.as("a")
      .join(e.as("b").hint("shuffle_hash"),
        col("a.sh_h") === col("b.sh_h") && col("a.doc_id") < col("b.doc_id") && sizeOk)
      .groupBy(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .withColumn("jaccard", col("shared") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), stableRound(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** d03_minhash_lsh — MinHash + banded LSH near-dup detection, the
    * scale path: 64 minhashes per doc (xxhash64 keyed by permutation
    * index), 16 bands x 4 rows, candidate pairs from band-bucket
    * collisions only, then exact-Jaccard verification so the output
    * equals d02's at the same threshold (P[miss] ~2e-4 per true pair
    * at exactly j = 0.8; ~4e-8 at the j >= 0.9 regime this corpus
    * has; raise numHashes/bands for tighter regimes — signatures are
    * one compiled loop per doc, so extra hashes cost only CPU).
    * The pair join touches only band-bucket collisions — at 100 TB the
    * band table is the only shuffled artifact (doc_id + 2 longs). */
  def minHashLsh(documents: DataFrame, threshold: Double = 0.8,
                 numHashes: Int = 64, bands: Int = 16,
                 dfCap: Option[Long] = None): DataFrame =
    minHashPairs(documents, threshold, numHashes, bands, dfCap)
      .orderBy("doc_a", "doc_b")

  /** Unsorted verified near-dup pairs — the shared core of d03 and
    * d07. Consumers that only need the pair set (cluster resolution)
    * skip d03's presentation-level global sort. */
  private[graft] def minHashPairs(documents: DataFrame, threshold: Double = 0.8,
                                  numHashes: Int = 64, bands: Int = 16,
                                  dfCap: Option[Long] = None,
                                  preShingled: Option[DataFrame] = None): DataFrame = {
    // tracked cache: the shingle sets feed both the signature build
    // and the verify join. Operators return lazy plans, so the cache
    // must outlive this call; Caches.release() (Verify/Bench/spec
    // cadence) drops it once the caller's action has run. A caller
    // running several regimes over the SAME corpus (d24) passes the
    // one tracked relation via `preShingled` so the tokenize+explode
    // pass is structurally shared, not left to plan canonicalization.
    val shingled = preShingled.getOrElse(
      graft.Caches.tracked(cappedShingleSets(documents, dfCap)))
    // signature build: one narrow graft_minhash_bands call per doc —
    // all permutation minima and band hashes in a single compiled
    // loop. No explode, no shuffle, no per-agg-column Janino compile
    // (the previous 64-min-agg-column formulation paid ~2 s of codegen
    // compile and shuffled every shingle row into agg buffers).
    val sig = shingled
      .select(col("doc_id"), size(col("sh")).as("nsh"),
        posexplode(expr(s"graft_minhash_bands(sh, $numHashes, $bands)"))
          .as(Seq("bi", "bh")))
    // same exact-safe size prefilter as d02: prunes the (numerous)
    // low-jaccard band collisions before the array_intersect verify
    val sizeOk = col("x.nsh") * threshold <= col("y.nsh") + 0.5 &&
      col("y.nsh") * threshold <= col("x.nsh") + 0.5
    val cand = sig.as("x")
      .join(sig.as("y").hint("shuffle_hash"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id") && sizeOk)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sets = shingled.select(col("doc_id"), col("sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared") / (size(col("sh_a")) + size(col("sh_b")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), stableRound(col("jaccard"), 4).as("jaccard"))
  }

  /** d11_dedup_against — INCREMENTAL near-dup: verified pairs between
    * a new batch and the existing corpus only — the ingestion shape (a
    * nightly crawl lands against a petabyte corpus whose corpus×corpus
    * dedup is already done, so the join must touch only batch×corpus
    * collisions, never re-pair the corpus with itself). Same compiled
    * signature build and exact-Jaccard verify as d03, but the band
    * join is ASYMMETRIC: batch signatures on one side, corpus
    * signatures on the other — corpus self-pairs structurally cannot
    * form, and the per-band work is |batch|-proportional. Shingle
    * universe (and dfCap) are computed over batch ∪ corpus so Jaccard
    * means the same thing on both sides. */
  def dedupAgainst(newDocs: DataFrame, corpus: DataFrame, threshold: Double = 0.8,
                   numHashes: Int = 64, bands: Int = 16,
                   dfCap: Option[Long] = None): DataFrame = {
    val (shingled, sig) = taggedPipeline(newDocs, corpus, numHashes, bands, dfCap)
    crossSidePairs(shingled, sig, threshold)
      .orderBy("new_doc", "corpus_doc")
  }

  /** sink_dedup_index — PERSIST the corpus half of d11's derivation,
    * making incremental dedup actually incremental: `dedupAgainst`
    * re-shingles and re-fingerprints the ENTIRE corpus on every batch
    * (fine per call, fatal as a nightly loop at 100 TB — the corpus
    * side dwarfs the batch side by construction). This sink runs that
    * derivation ONCE, writing two tables under `path`:
    * `shingles/` (doc_id, sh — the exact-verify side) and
    * `sig/` (doc_id, nsh, bi, bh — the band-candidate side,
    * partitioned by band index so a probe's band-i keys prune to the
    * bi=i directory). [[dedupAgainstIndex]] then probes at
    * |batch|-proportional cost with ZERO corpus text reads.
    *
    * Storage is the honest trade: `sig` is numHashes/bands rows per
    * doc (constant), `shingles` is ~one 8-byte hash per corpus token
    * — comparable to the text itself, the price of exact-Jaccard
    * verification ([[writeDedupSignatureIndex]] is the shipped
    * constant-bytes-per-doc alternative scoring by MinHash
    * estimation). The index is
    * immutable by design — admitted batches append via the same sink
    * (the a12 append pattern); dfCap is not offered here because the
    * cap's document frequencies are union-wide and an immutable index
    * cannot know future batches (cap at build time against the corpus
    * DF instead). */
  def writeDedupIndex(corpus: DataFrame, path: String,
                      numHashes: Int = 64, bands: Int = 16,
                      batchId: Option[Long] = None): Unit = {
    val sets = graft.Caches.tracked(
      withShingleHashes(corpus).select(col("doc_id"), col("sh")))
    val sig = sets.select(col("doc_id"), size(col("sh")).as("nsh"),
      posexplode(expr(s"graft_minhash_bands(sh, $numHashes, $bands)"))
        .as(Seq("bi", "bh")))
    // the two relations are independent once `sets` is cached — write
    // them concurrently (graft.Par, the overlap-independent-jobs
    // pattern; the block-level cache lock keeps `sets` computed once)
    batchId match {
      case None =>
        graft.Par.jobs(
          () => sets.write.mode("overwrite").parquet(path + "/shingles"),
          () => sig.write.mode("overwrite").partitionBy("bi").parquet(path + "/sig"))
      case Some(id) =>
        // batch_id-partitioned layout: the streaming/nightly loop's
        // replay-safe shape (appendDedupIndex overwrites per batch)
        graft.Par.jobs(
          () => sets.withColumn("batch_id", lit(id))
            .write.mode("overwrite").partitionBy("batch_id").parquet(path + "/shingles"),
          () => sig.withColumn("batch_id", lit(id))
            .write.mode("overwrite").partitionBy("batch_id", "bi").parquet(path + "/sig"))
    }
  }

  /** d11 against the SAVED index: byte-identical output to
    * `dedupAgainst(newDocs, corpus, dfCap = None)` with the same
    * (numHashes, bands) the index was built with — the batch is
    * shingled and fingerprinted fresh (|batch|-proportional), the
    * corpus arrives as parquet signature/shingle relations. The band
    * join stays shuffle-hash on (bi, bh); corpus TEXT is never
    * scanned (spec-pinned). */
  def dedupAgainstIndex(newDocs: DataFrame, indexPath: String,
                        threshold: Double = 0.8, numHashes: Int = 64,
                        bands: Int = 16): DataFrame = {
    val (batchSets, batchSig) = batchPipeline(newDocs, numHashes, bands)
    indexCrossPairs(batchSets, batchSig, indexPath, threshold)
      .orderBy("new_doc", "corpus_doc")
  }

  /** The fresh batch half of the index probe: tracked shingle sets +
    * band signatures, the |batch|-proportional cost every index
    * consumer pays. */
  private def batchPipeline(newDocs: DataFrame, numHashes: Int,
                            bands: Int): (DataFrame, DataFrame) = {
    val batchSets = graft.Caches.tracked(
      withShingleHashes(newDocs).select(col("doc_id"), col("sh")))
    val batchSig = batchSets.select(col("doc_id"), size(col("sh")).as("nsh"),
      posexplode(expr(s"graft_minhash_bands(sh, ${numHashes}, ${bands})"))
        .as(Seq("bi", "bh")))
    (batchSets, batchSig)
  }

  /** Verified batch×index pairs (unsorted): band candidates against
    * the saved sig relation, exact-Jaccard verify against the saved
    * shingle relation. */
  private def indexCrossPairs(batchSets: DataFrame, batchSig: DataFrame,
                              indexPath: String, threshold: Double,
                              excludeBatchId: Option[Long] = None): DataFrame = {
    val spark = batchSets.sparkSession
    // self-exclusion (batch_id-partitioned indexes only): a replayed
    // batch must judge against the same snapshot as its first attempt,
    // so its own prior partitions are pruned out (the s14 recipe)
    def excl(df: DataFrame) = excludeBatchId match {
      case None => df
      case Some(id) => df.filter(col("batch_id") =!= id)
    }
    val idxSig = excl(graft.sources.Sources.readParquet(spark, indexPath + "/sig"))
    val cand = batchSig.as("x")
      .join(idxSig.as("y").hint("shuffle_hash"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh") &&
          sizeOkCols(threshold))
      .select(col("x.doc_id").as("new_doc"), col("y.doc_id").as("corpus_doc"))
      .distinct()
    val idxSh = excl(graft.sources.Sources.readParquet(spark, indexPath + "/shingles"))
    cand
      .join(batchSets.select(col("doc_id").as("new_doc"), col("sh").as("sh_a")), "new_doc")
      .join(idxSh.select(col("doc_id").as("corpus_doc"), col("sh").as("sh_b")), "corpus_doc")
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared") / (size(col("sh_a")) + size(col("sh_b")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_doc"), col("corpus_doc"),
        stableRound(col("jaccard"), 4).as("jaccard"))
  }

  /** SIGNATURE-ONLY dedup index — the storage trade the full index
    * documents: where `shingles/` costs ~8 bytes per corpus TOKEN
    * (the price of exact-Jaccard verification), this index stores
    * `numHashes` MinHash components per DOC (constant bytes/doc,
    * typically 512 B) plus the same band-partitioned candidate
    * rows — the whole index is signature-sized however long the
    * documents run. The price is estimation: candidate pairs score
    * by component agreement (an unbiased Jaccard estimator with
    * σ = sqrt(J(1−J)/numHashes) ≈ 0.06 at 64 hashes), not exact set
    * intersection. Use it when the corpus is too large to store
    * shingle sets and a ±few-percent similarity score is acceptable
    * — the classic web-scale MinHash deployment. */
  def writeDedupSignatureIndex(corpus: DataFrame, path: String,
                               numHashes: Int = 64, bands: Int = 16): Unit = {
    // ONE cached materialization carries both signatures: the two
    // writes below would otherwise each re-run the shingle build AND
    // a full numHashes-permutation minima loop per document — the
    // dominant build cost. (bands=numHashes degenerates the banded
    // hash to component grain; band hashes are chained over the
    // minima, so they are not derivable from the stored components.)
    val signed = graft.Caches.tracked(
      withShingleHashes(corpus).select(col("doc_id"), size(col("sh")).as("nsh"),
        expr(s"graft_minhash_bands(sh, $numHashes, $numHashes)").as("msig"),
        expr(s"graft_minhash_bands(sh, $numHashes, $bands)").as("bsig")))
    // independent relations off the one cached build — overlap the
    // writes (graft.Par)
    graft.Par.jobs(
      () => signed.select("doc_id", "nsh", "msig")
        .write.mode("overwrite").parquet(path + "/minsig"),
      () => signed.select(col("doc_id"), col("nsh"),
          posexplode(col("bsig")).as(Seq("bi", "bh")))
        .write.mode("overwrite").partitionBy("bi").parquet(path + "/sig"))
  }

  /** d11 against the SIGNATURE index: same band candidates, scores by
    * component agreement instead of exact intersection. Output shape
    * matches [[dedupAgainstIndex]] with `est_jaccard` in place of the
    * exact score; the spec bounds the estimator against exact. */
  def dedupAgainstSignatureIndex(newDocs: DataFrame, indexPath: String,
                                 threshold: Double = 0.8, numHashes: Int = 64,
                                 bands: Int = 16): DataFrame = {
    val spark = newDocs.sparkSession
    val (batchSets, batchSig) = batchPipeline(newDocs, numHashes, bands)
    val batchSigT = graft.Caches.tracked(batchSig)
    val idxSig = spark.read.parquet(indexPath + "/sig")
    val cand = batchSigT.as("x")
      .join(idxSig.as("y").hint("shuffle_hash"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh") &&
          sizeOkCols(threshold))
      .select(col("x.doc_id").as("new_doc"), col("y.doc_id").as("corpus_doc"))
      .distinct()
    val batchMsig = batchSets.select(col("doc_id").as("new_doc"),
      expr(s"graft_minhash_bands(sh, $numHashes, $numHashes)").as("sig_a"))
    val idxMsig = spark.read.parquet(indexPath + "/minsig")
      .select(col("doc_id").as("corpus_doc"), col("msig").as("sig_b"))
    cand
      .join(batchMsig, "new_doc")
      .join(idxMsig, "corpus_doc")
      .withColumn("est_jaccard",
        expr(s"aggregate(zip_with(sig_a, sig_b, (a, b) -> IF(a = b, 1, 0)), 0, (acc, v) -> acc + v)")
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_doc"), col("corpus_doc"),
        stableRound(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy("new_doc", "corpus_doc")
  }

  /** d23_containment_sig_estimate — containment EVIDENCE from the
    * signature-only index, at constant corpus bytes: the stored exact
    * set sizes turn the MinHash Jaccard estimate into a containment
    * estimate via the identity |A∩B| = J/(1+J)·(|A|+|B|), so
    * Ĉ(a→b) = Ĵ·(na+nb)/((1+Ĵ)·na) — no shingle storage, no exact
    * intersection, ±few-percent scores (error propagates from Ĵ's
    * σ = √(J(1−J)/numHashes); the spec bounds it end-to-end).
    *
    * REGIME, stated honestly: candidates come from the same
    * Jaccard-banded buckets as [[dedupAgainstSignatureIndex]], so a
    * contained doc at an EXTREME size ratio (high C, vanishing J)
    * can fall below the band regime and be missed — that blind spot
    * is structural to Jaccard banding, and d20/d21 are the shipped
    * exact-recall containment paths. This tier exists for the
    * deployment where the corpus is too large to store shingle sets
    * at all: within the banded regime (J within reach of the band
    * curve) it surfaces the asymmetric verdict the Jaccard score
    * itself hides — a contained doc scores Ĉ ≈ 1 while its
    * est_jaccard sits far below any dedup threshold. `minJaccard`
    * (default 0.35 — p_collide ≈ 0.5 at 16×4 bands) names the
    * candidate regime instead of pretending full recall. */
  def containmentAgainstSignatureIndex(newDocs: DataFrame, indexPath: String,
                                       threshold: Double = 0.8,
                                       minJaccard: Double = 0.35,
                                       minShingles: Int = 5,
                                       numHashes: Int = 64,
                                       bands: Int = 16): DataFrame = {
    require(threshold > 0 && threshold <= 1.0,
      s"containmentAgainstSignatureIndex: threshold in (0,1], got $threshold")
    val spark = newDocs.sparkSession
    val (batchSets, batchSig) = batchPipeline(newDocs, numHashes, bands)
    val batchSigT = graft.Caches.tracked(batchSig)
    val idxSig = spark.read.parquet(indexPath + "/sig")
    // NO sizeOk prefilter: size mismatch is exactly the containment
    // regime (the d18 rationale); the band equality itself encodes
    // the minJaccard candidate contract
    val cand = batchSigT.as("x")
      .join(idxSig.as("y").hint("shuffle_hash"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("new_doc"), col("x.nsh").as("na"),
        col("y.doc_id").as("corpus_doc"), col("y.nsh").as("nb"))
      .distinct()
    val batchMsig = batchSets.select(col("doc_id").as("new_doc"),
      expr(s"graft_minhash_bands(sh, $numHashes, $numHashes)").as("sig_a"))
    val idxMsig = spark.read.parquet(indexPath + "/minsig")
      .select(col("doc_id").as("corpus_doc"), col("msig").as("sig_b"))
    val j = col("est_jaccard")
    cand
      .join(batchMsig, "new_doc")
      .join(idxMsig, "corpus_doc")
      .withColumn("est_jaccard",
        expr(s"aggregate(zip_with(sig_a, sig_b, (a, b) -> IF(a = b, 1, 0)), 0, (acc, v) -> acc + v)")
          .cast("double") / numHashes)
      .withColumn("est_containment",
        least(lit(1.0), j * (col("na") + col("nb")).cast("double")
          / ((lit(1.0) + j) * col("na").cast("double"))))
      .filter(col("na") >= minShingles && j >= minJaccard &&
        col("est_containment") >= threshold)
      .select(col("new_doc"), col("corpus_doc"),
        stableRound(col("est_containment"), 4).as("est_containment"),
        stableRound(j, 4).as("est_jaccard"))
      .orderBy("new_doc", "corpus_doc")
  }

  /** APPEND a batch (its admitted docs) to a saved dedup index — the
    * write that closes the incremental loop: tomorrow's admission
    * probes today's admissions without any rebuild. Same derivation
    * as [[writeDedupIndex]], parquet append on both tables; band
    * partitioning keeps appends directory-local. Idempotence is the
    * caller's batch protocol (s14's batch_id overwrite pattern for
    * streaming; a nightly job appends each batch once). */
  def appendDedupIndex(admitted: DataFrame, path: String,
                       numHashes: Int = 64, bands: Int = 16,
                       batchId: Option[Long] = None): Unit = {
    val sets = graft.Caches.tracked(
      withShingleHashes(admitted).select(col("doc_id"), col("sh")))
    val sig = sets.select(col("doc_id"), size(col("sh")).as("nsh"),
      posexplode(expr(s"graft_minhash_bands(sh, $numHashes, $bands)"))
        .as(Seq("bi", "bh")))
    batchId match {
      case None =>
        sets.write.mode("append").parquet(path + "/shingles")
        sig.write.mode("append").partitionBy("bi").parquet(path + "/sig")
      case Some(id) =>
        // replay-safe append on a batch_id-partitioned index: dynamic
        // partition overwrite rewrites ONLY this batch's partitions,
        // so a crashed-then-replayed batch lands exactly once
        sets.withColumn("batch_id", lit(id))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(path + "/shingles")
        sig.withColumn("batch_id", lit(id))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id", "bi").parquet(path + "/sig")
    }
  }

  /** d12's admission verdict against the SAVED index: corpus_dup via
    * [[indexCrossPairs]] (zero corpus text reads), batch_dup via the
    * batch×batch band join over the SAME fresh batch derivation —
    * verdict-identical to `ingestAdmit(newDocs, corpus, dfCap = None)`
    * when the index holds that corpus (spec-pinned). With
    * [[appendDedupIndex]] this is the whole nightly loop at
    * |batch|-proportional cost: probe, admit, append. */
  def ingestAdmitIndexed(newDocs: DataFrame, indexPath: String,
                         threshold: Double = 0.8, numHashes: Int = 64,
                         bands: Int = 16,
                         excludeBatchId: Option[Long] = None): DataFrame = {
    val (batchSets, batchSig0) = batchPipeline(newDocs, numHashes, bands)
    val batchSig = graft.Caches.tracked(batchSig0)
    val corpusDup = indexCrossPairs(batchSets, batchSig, indexPath, threshold,
        excludeBatchId)
      .select(col("new_doc").as("doc_id")).distinct()
      .withColumn("cd", lit(true))
    val candBB = batchSig.as("x")
      .join(batchSig.as("y").hint("shuffle_hash"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id") && sizeOkCols(threshold))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val batchDup = verifyPairs(batchSets, candBB, threshold, "doc_a", "doc_b")
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("bd", lit(true))
    newDocs.select("doc_id")
      .join(corpusDup, Seq("doc_id"), "left")
      .join(batchDup, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("cd"), "corpus_dup")
          .when(col("bd"), "batch_dup")
          .otherwise("admitted"))
      .select(col("doc_id"), (col("reason") === "admitted").as("admitted"), col("reason"))
      .orderBy("doc_id")
  }

  /** The shared batch∪corpus derivation behind d11 and d12: side-
    * tagged shingle sets (ONE tracked cache — membership never needs
    * an id-set join, so the split is free at any batch size) and the
    * band-signature relation over them. Built once per call chain so
    * the admission's two legs never re-shingle the batch. */
  private def taggedPipeline(newDocs: DataFrame, corpus: DataFrame,
                             numHashes: Int, bands: Int,
                             dfCap: Option[Long]): (DataFrame, DataFrame) = {
    val union = newDocs.select("doc_id", "text").withColumn("is_new", lit(true))
      .unionByName(corpus.select("doc_id", "text").withColumn("is_new", lit(false)))
    val sets = withShingleHashes(union).select(col("doc_id"), col("is_new"), col("sh"))
    val shingled = graft.Caches.tracked(dfCap match {
      case None => sets
      case Some(p) =>
        // the cappedShingleSets logic with the tag carried through
        val e = sets.select(col("doc_id"), col("is_new"), explode(col("sh")).as("sh_h"))
        val hot = e.groupBy("sh_h").agg(count(lit(1)).as("df"))
          .filter(col("df") > p).select("sh_h")
        e.join(broadcast(hot), Seq("sh_h"), "left_anti")
          .groupBy("doc_id", "is_new").agg(collect_list(col("sh_h")).as("sh"))
    })
    val sig = shingled
      .select(col("doc_id"), col("is_new"), size(col("sh")).as("nsh"),
        posexplode(expr(s"graft_minhash_bands(sh, $numHashes, $bands)"))
          .as(Seq("bi", "bh")))
    (shingled, sig)
  }

  /** The d02/d03 exact-safe size prefilter over two `sig` aliases. */
  private def sizeOkCols(threshold: Double) =
    col("x.nsh") * threshold <= col("y.nsh") + 0.5 &&
      col("y.nsh") * threshold <= col("x.nsh") + 0.5

  /** Exact-verified band join of two candidate relations against the
    * shared tagged shingle sets. `cand` must carry (doc_a', doc_b')
    * named by `leftCol`/`rightCol`. */
  private def verifyPairs(shingled: DataFrame, cand: DataFrame, threshold: Double,
                          leftCol: String, rightCol: String): DataFrame =
    cand
      .join(shingled.select(col("doc_id").as(leftCol), col("sh").as("sh_a")), leftCol)
      .join(shingled.select(col("doc_id").as(rightCol), col("sh").as("sh_b")), rightCol)
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("shared") / (size(col("sh_a")) + size(col("sh_b")) - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col(leftCol), col(rightCol), stableRound(col("jaccard"), 4).as("jaccard"))

  /** Verified batch×corpus pairs (the d11 asymmetric leg), unsorted. */
  private def crossSidePairs(shingled: DataFrame, sig: DataFrame,
                             threshold: Double): DataFrame = {
    val cand = sig.filter(col("is_new")).as("x")
      .join(sig.filter(!col("is_new")).as("y").hint("shuffle_hash"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh") && sizeOkCols(threshold))
      .select(col("x.doc_id").as("new_doc"), col("y.doc_id").as("corpus_doc"))
      .distinct()
    verifyPairs(shingled, cand, threshold, "new_doc", "corpus_doc")
  }

  /** Verified batch×batch pairs (doc_a < doc_b) over the SAME tagged
    * relations — the admission's second leg without a second shingle
    * pass. */
  private def newSidePairs(shingled: DataFrame, sig: DataFrame,
                           threshold: Double): DataFrame = {
    val sigNew = sig.filter(col("is_new"))
    val cand = sigNew.as("x")
      .join(sigNew.as("y").hint("shuffle_hash"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id") && sizeOkCols(threshold))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(shingled.filter(col("is_new")), cand, threshold, "doc_a", "doc_b")
  }

  /** d12_ingest_admit — the ADMISSION step that closes d11's
    * incremental loop (report → decide, the d07→d08 pattern for
    * ingestion): every batch document gets an auditable verdict —
    * `corpus_dup` (near-dups an already-indexed corpus doc, via the
    * d11 asymmetric band join), `batch_dup` (near-dups an EARLIER-id
    * doc in the same batch — first occurrence kept, the greedy rule),
    * or `admitted`. A nightly crawl runs exactly this before anything
    * lands: the corpus check is |batch|-proportional (d11's property),
    * the batch-internal check is batch×batch only, and the output is
    * the per-doc reason column a curation run reports (t18's
    * protocol). Note a batch doc can shadow a later near-identical
    * batch doc even when it is itself a corpus_dup — its content is
    * already represented either way. Both legs share ONE tagged
    * shingle/signature derivation (the batch is tokenized and
    * fingerprinted exactly once per admission — the |batch|-
    * proportional cost a per-trigger consumer like s14 pays), so
    * Jaccard means the same union-wide thing on both legs even under
    * a binding dfCap; at the default non-binding cap that equals the
    * batch-wide value, which is what the oracle checks. */
  def ingestAdmit(newDocs: DataFrame, corpus: DataFrame, threshold: Double = 0.8,
                  numHashes: Int = 64, bands: Int = 16,
                  dfCap: Option[Long] = None): DataFrame = {
    val (shingled, sig) = taggedPipeline(newDocs, corpus, numHashes, bands, dfCap)
    val corpusDup = crossSidePairs(shingled, sig, threshold)
      .select(col("new_doc").as("doc_id")).distinct()
      .withColumn("cd", lit(true))
    // doc_a < doc_b in the pair output: the later id is the duplicate
    val batchDup = newSidePairs(shingled, sig, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("bd", lit(true))
    newDocs.select("doc_id")
      .join(corpusDup, Seq("doc_id"), "left")
      .join(batchDup, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("cd"), "corpus_dup")
          .when(col("bd"), "batch_dup")
          .otherwise("admitted"))
      .select(col("doc_id"), (col("reason") === "admitted").as("admitted"), col("reason"))
      .orderBy("doc_id")
  }

  /** d07_dedup_clusters — the dedup DECISION step: connected
    * components over the near-dup pair graph (pairs from the d03 LSH
    * path), each doc labeled with its component's minimum doc_id as
    * cluster_id; the canonical survivor is the minimum.
    *
    * Size-adaptive strategy. The pair graph is orders of magnitude
    * smaller than the corpus (it holds only above-threshold near-dup
    * pairs), so first count it — the count also materializes the
    * cached pair list exactly once. At or below `localEdgeLimit`
    * edges (~150 bytes/edge peak: collected tuples + the open-
    * addressed table + id/parent arrays — ~150 MiB at the 1M default)
    * the edge list is a bounded collect:
    * union-find with path compression on the
    * driver is microseconds, against 3+ full Spark jobs of fixed
    * latency per min-label round. Above the limit — a 100 TB corpus
    * with a double-digit dup rate has billions of pairs — the
    * distributed min-label propagation runs: each round every doc
    * takes the min of its own and its neighbors' labels (one join +
    * one groupBy per round), converging in O(component diameter)
    * rounds; near-dup clusters are near-cliques, so diameter is
    * small. Labels/edges shuffle on doc_id, never document content;
    * at extreme diameters swap in alternating small-star/large-star
    * rounds. */
  def dedupClusters(documents: DataFrame, threshold: Double = 0.8,
                    dfCap: Option[Long] = None, maxIters: Int = 20,
                    localEdgeLimit: Long = 1L << 20): DataFrame =
    clustersFromPairs(documents, minHashPairs(documents, threshold, dfCap = dfCap),
      maxIters, localEdgeLimit)

  /** Size-adaptive cluster resolution over ANY (doc_a, doc_b)
    * near-dup pair relation — the second half of d07, factored so
    * every pair generator (Jaccard LSH, simhash, blockhash m13)
    * resolves with the same machinery: local union-find below
    * `localEdgeLimit` edges, distributed min-label propagation above
    * it, singletons label themselves. */
  private[graft] def clustersFromPairs(documents: DataFrame, pairs0: DataFrame,
                                       maxIters: Int = 20,
                                       localEdgeLimit: Long = 1L << 20): DataFrame = {
    // cache the pair list BEFORE any reuse — the symmetric union and
    // the iteration would otherwise run the whole pair pipeline twice
    val pairs = pairs0
      .select(col("doc_a"), col("doc_b")).persist()
    val nEdges = pairs.count()
    val labels =
      if (nEdges <= localEdgeLimit) localUnionFind(documents.sparkSession, pairs)
      else distributedMinLabel(pairs, maxIters)
    pairs.unpersist()
    // cache hygiene: the local path returns a LocalRelation (driver
    // memory, nothing cached); the distributed path's final label
    // table stays persisted until the caller's Caches.release() —
    // unpersisting it HERE would force a replay of every min-label
    // round when the returned plan materializes
    documents.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("cluster_id") === col("doc_id"))
      .orderBy("doc_id")
  }

  /** Bounded-size exact resolution: union-find with path compression
    * over a collected edge list, labels re-keyed to each component's
    * min doc_id, result returned as a LocalRelation (doc_id,
    * cluster_id) table — driver memory, no cache entry. Only
    * pair-graph doc_ids appear — singletons join back in the caller.
    *
    * Primitive end-to-end: edges collect as specialized (Long, Long)
    * tuples (~40 B/edge transient) and the id->index map is
    * open-addressed over flat long/int arrays (~110 B/edge at the
    * <=0.5 load factor), ~150 B/edge peak — versus the boxed
    * Map[Long,Long] formulation's 10-25x blowup over the naive
    * estimate that ADVICE flagged. */
  private def localUnionFind(spark: org.apache.spark.sql.SparkSession,
                             pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val edges = pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    val maxIds = math.max(1, edges.length * 2)
    // open-addressed long->compact-index map, power-of-two capacity,
    // linear probing at load factor <= 0.5
    val cap = java.lang.Integer.highestOneBit(math.max(16, maxIds * 2 - 1)) * 2
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val slotOf = new Array[Int](cap)
    val ids = new Array[Long](maxIds)
    val parent = new Array[Int](maxIds)
    var nIds = 0
    def idx(x: Long): Int = {
      val m = x * -0x61c8864680b583ebL // golden-ratio mix
      var h = (m ^ (m >>> 32)).toInt & (cap - 1)
      while (used(h) && keys(h) != x) h = (h + 1) & (cap - 1)
      if (!used(h)) {
        used(h) = true; keys(h) = x; slotOf(h) = nIds
        ids(nIds) = x; parent(nIds) = nIds; nIds += 1
      }
      slotOf(h)
    }
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(idx(a)); val rb = find(idx(b))
      // point the larger-id root at the smaller: roots stay component minima
      if (ra != rb) {
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    (0 until nIds).map(i => (ids(i), ids(find(i))))
      .toDF("doc_id", "cluster_id")
  }

  /** Distributed min-label propagation; labels persist per round and
    * the scalar changed-count both drives convergence and
    * materializes each round's cache.
    *
    * Cache discipline: unpersist must target the PERSISTED plan, not
    * a projection over it — `next.drop("chg").unpersist()` silently
    * uncaches nothing (measured: the parent stays at disk+memory), so
    * the round-N label tables would pile up for the whole session.
    * `persisted` tracks the actual cached frame per round; the final
    * round's table must outlive this call (the returned plan reads
    * it), so it is adopted into the Caches registry and released by
    * the caller's Caches.release(). */
  private def distributedMinLabel(pairs: DataFrame, maxIters: Int): DataFrame = {
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist()
    // iterate ONLY over docs that appear in some pair: the label state
    // per round is pair-graph-sized, not corpus-sized
    var persisted = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")).persist()
    var labels = persisted
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("n_lbl")), "doc_b")
        .groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("n_lbl")).as("n_min"))
      val next = labels
        .join(neighborMin, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id"))).as("cluster_id"),
          (col("n_min") < col("cluster_id")).as("chg"))
        .persist()
      changed = next.filter(col("chg")).count()
      persisted.unpersist()
      persisted = next
      labels = next.drop("chg")
      iter += 1
    }
    edges.unpersist()
    graft.Caches.adopt(persisted)
    labels
  }

  /** d08_dedup_apply — the MATERIALIZATION step after cluster
    * resolution: one survivor per near-dup cluster by a keep-best
    * policy (longest document wins, doc_id tiebreak — real pipelines
    * swap in a quality score), plus what the pass reclaims. Consumes
    * d07's labels; the ranking window and both aggregations shuffle
    * only (doc_id, cluster_id, n_chars) triples, never text. */
  def dedupApply(documents: DataFrame, threshold: Double = 0.8,
                 dfCap: Option[Long] = None): DataFrame = {
    val clusters = dedupClusters(documents, threshold, dfCap)
      .select("doc_id", "cluster_id")
    val w = Window.partitionBy("cluster_id").orderBy(col("n_chars").desc, col("doc_id"))
    documents.select(col("doc_id"), col("n_chars"))
      .join(clusters, "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(
        max(when(col("rk") === 1, col("doc_id"))).as("survivor_id"),
        count(lit(1)).as("n_docs"),
        (sum(col("n_chars")) - max(when(col("rk") === 1, col("n_chars"))))
          .as("chars_removed"))
      .orderBy("cluster_id")
  }

  /** d04_simhash — 60-bit SimHash over the distinct word set, near-dup
    * pairs by Hamming distance. Candidate generation is Manku-style
    * block permutation (the Google near-dup-crawl construction): the
    * fingerprint splits into 6 blocks of 10 bits, and a pair at
    * hamming <= h differs in at most h blocks, so it must agree on
    * EVERY block of some (6-h)-block combination — C(6, 6-h) tables
    * keyed by the concatenated combination (30+ bits at h=3). The
    * join is table-bucket-local with a key space of 2^30+ PER TABLE,
    * so bucket occupancy keeps falling as the corpus grows — unlike
    * single-block keys (15-bit ceiling), which degenerate toward
    * n²/2^15 candidate pairs beyond ~10^6 docs. Exact popcount verify
    * on the candidates; pigeonhole makes recall exact.
    *
    * Token hash = the top 60 bits of md5, which both engines compute
    * identically — that makes this operator fully oracle-checkable
    * (a production deployment would swap in xxhash64 for hash speed;
    * the hash choice is orthogonal to the SimHash construction). */
  def simHash(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    // narrow single-pass fingerprint: graft_simhash folds the per-token
    // md5 votes and the sign bits in one compiled loop per document —
    // no explode, no 60-column aggregate, no shuffle. spreadIfNarrow
    // is the same few-large-unsplittable-files parallelism guard as
    // withShingleHashes.
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val fp = graft.Scans.spreadIfNarrow(documents, col("doc_id"))
      .withColumn("toks", array_distinct(split(lower(col("text")), "\\s+")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), expr("graft_simhash(toks)").as("simhash"))
    simHashCandidates(fp, maxHamming)
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Candidate pairs (doc_a, doc_b, hamming) from a (doc_id, simhash)
    * fingerprint table via the 6-block combination keys — distinct,
    * NOT yet filtered by maxHamming (exposed so the spec can measure
    * raw candidate volume). Every pair at hamming <= maxHamming is
    * guaranteed present (pigeonhole over the block combinations). */
  private[graft] def simHashCandidates(fp: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 3,
      s"simHash: maxHamming $maxHamming outside [1,3] — the 6-block combination " +
        "scheme is exact only up to 3 differing blocks; raise the block count for more")
    val comboSize = 6 - maxHamming
    // hoist the 6 block extractions into named columns so the C(6,k)
    // key structs reference them instead of re-deriving each shift
    // C(5,k-1) times — a ~3x smaller generated-code body for Janino
    val withBlocks = (0 until 6).foldLeft(fp) { (df, b) =>
      df.withColumn(s"blk$b", expr(s"shiftright(simhash, ${b * 10}) & 1023"))
    }
    val keyStructs = (0 until 6).combinations(comboSize).zipWithIndex.map {
      case (combo, t) =>
        // concatenate the combination's 10-bit blocks into one key
        val key = combo.zipWithIndex.map { case (b, slot) =>
          s"(blk$b << ${slot * 10})"
        }.mkString(" | ")
        s"struct($t AS ci, $key AS cv)"
    }
    // tracked: the self-join reads this relation twice — uncached,
    // the text scan + compiled fingerprint pass would run once per side
    val keys = graft.Caches.tracked(withBlocks
      .withColumn("chunk", explode(expr(s"array(${keyStructs.mkString(",")})")))
      .select(col("doc_id"), col("simhash"), col("chunk.ci").as("ci"), col("chunk.cv").as("cv")))
    keys.as("x")
      .join(keys.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
  }

  /** d10_source_overlap — which sources duplicate which: the verified
    * near-dup pair graph (the d03 LSH path, so candidates stay
    * bucket-local) rolled up to an unordered source x source overlap
    * matrix. The report that tells a curation team two crawls ingest
    * the same sites, or that a "new" source is a near-copy of an old
    * one, before any doc-level decision runs. Pairs are tiny relative
    * to the corpus; the two source lookups shuffle only (doc_id,
    * source) pairs. */
  def sourceOverlap(documents: DataFrame, threshold: Double = 0.8,
                    dfCap: Option[Long] = None): DataFrame = {
    val pairs = minHashPairs(documents, threshold, dfCap = dfCap)
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** d09_decontaminate — benchmark-contamination detection, the
    * decontamination pass every serious pre-training pipeline runs
    * (Dolma/DataComp shape): documents from `evalSource` form the
    * held-out benchmark; every other document is scored by how many
    * DISTINCT word-3-gram shingles it shares with the benchmark's
    * shingle union and flagged at `minShared`. Docs under 3 tokens
    * carry no shingles and are skipped (the d02 convention).
    *
    * Scale posture: the benchmark shingle set is eval-sized (bounded —
    * benchmarks are small by definition), so the planner broadcasts
    * it and the corpus side never shuffles text: one compiled
    * `graft_shingle_hashes` pass, an explode of 8-byte hashes, a
    * broadcast-hash inner join, a partial-agg count. At 100 TB this
    * is one scan of the corpus. */
  def decontaminate(documents: DataFrame, evalSource: String = "src0",
                    minShared: Long = 8): DataFrame = {
    val sets = withShingleHashes(documents).select(col("doc_id"), col("source"), col("sh"))
    val evalSh = sets.filter(col("source") === evalSource)
      .select(explode(col("sh")).as("sh_h")).distinct()
    val corpus = sets.filter(col("source") =!= evalSource)
    val shared = corpus.select(col("doc_id"), explode(col("sh")).as("sh_h"))
      .join(evalSh, "sh_h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= minShared)
      .orderBy("doc_id")
  }

  /** d13_bloom_decontaminate — the BLOOM-FILTER scale path of d09.
    * Same contamination question (how many distinct word-3-gram
    * shingles does each corpus doc share with the benchmark), answered
    * without ever joining: the benchmark's distinct shingle hashes
    * fold into a fixed-size Bloom filter (distributed treeAggregate;
    * the driver holds only the bitset, `-n·ln(fpp)/ln(2)²` bits
    * regardless of key width), and every corpus document counts its
    * might-contain hits in ONE compiled traversal of its
    * already-computed hash array — no explode, no broadcast hash
    * relation, no shuffle on the corpus side at all.
    *
    * Where d09 broadcasts the full 8-byte-per-shingle distinct set
    * (~8 GB at 10⁹ benchmark shingles — past the broadcast ceiling),
    * the Bloom at fpp=0.001 is ~1.8 GB and fpp=0.01 ~1.2 GB; fpp is
    * the explicit size/precision knob. The price is one-sided:
    * `n_maybe_shared ≥ n_shared` always (no false negatives — every
    * d09-contaminated doc is flagged here), and a doc with
    * `n_maybe_shared` just over `minShared` may be a false flag with
    * probability ~Binom(|sh|, fpp) ≥ minShared — vanishing for real
    * thresholds. Flagging is conservative in exactly the direction
    * decontamination wants. Probabilistic membership is outside
    * DuckDB's vocabulary → rows-only; DedupSpec pins the superset
    * property and the false-flag budget against exact d09. */
  def bloomDecontaminate(documents: DataFrame, evalSource: String = "src0",
                         minShared: Long = 8, fpp: Double = 0.001): DataFrame = {
    val spark = documents.sparkSession
    val sets = withShingleHashes(documents).select(col("doc_id"), col("source"), col("sh"))
    val evalSh = graft.Caches.tracked(
      sets.filter(col("source") === evalSource)
        .select(explode(col("sh")).as("sh_h")).distinct())
    // sizing pass over the (cached, eval-bounded) distinct hashes so
    // the filter hits its nominal fpp exactly
    val bloom = evalSh.stat.bloomFilter("sh_h", math.max(evalSh.count(), 1L), fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val fname = graft.functions.GraftFunctions.registerBloomHitCount(spark, bytes)
    val out = sets.filter(col("source") =!= evalSource)
      .select(col("doc_id"),
        expr(s"$fname(sh)").cast("long").as("n_maybe_shared"))
      .withColumn("contaminated", col("n_maybe_shared") >= minShared)
      .orderBy("doc_id")
    graft.functions.GraftFunctions.dropFunction(spark, fname)
    out
  }

  /** d05_embed_dedup — embedding-cosine near-dup pairs. Brute-force
    * all-pairs is the correctness baseline (the oracle); the
    * bucketed-ANN scale path lives in graft.ann. All arithmetic is
    * sequential double so the oracle reproduces it bit-for-bit. */
  def embedDedup(embeddings: DataFrame, threshold: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val v = embeddings.select(col("vec_id"), col("embedding"))
    // graft_cosine is a codegen'd native expression: a primitive loop
    // per pair instead of interpreted lambda math (~13x faster here).
    // The production-scale path is embedDedupLsh below — identical
    // verify step, bucketed candidate generation.
    v.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      .join(v.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
        col("vec_a") < col("vec_b"))
      .withColumn("sim", expr("graft_cosine(ea, eb)"))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), stableRound(col("sim"), 4).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** d06_embed_dedup_lsh — embedding near-dup pairs via hyperplane-LSH
    * candidate generation + exact-cosine verify, with a REGIME
    * ADAPTER. Multi-table OR construction (`tables` independent
    * tables of `bits` sign bits, all bucket ids computed by one
    * codegen'd `graft_hyperplane_buckets` call per row); a pair is a
    * candidate iff it shares a bucket in ANY table; candidates are
    * verified with the same `graft_cosine >= threshold` predicate as
    * d05, so the output equals d05's at the same threshold whenever
    * every true pair collides somewhere.
    *
    * REGIME (the sf1 rehearsal's headline finding): sign-LSH's
    * exponent is rho = ln(1/p1)/ln(1/p2) with p1 = 1 - acos(t)/pi at
    * the threshold and p2 = 1/2 for orthogonal pairs — at t = 0.5,
    * rho ~ 0.585 and the constants lose to the codegen'd brute-force
    * join at any practical n (measured at sf1/20k vectors: the fixed
    * bits=4 tables fanned out 5x SLOWER than d05's 400M-pair exact
    * join; no (bits, tables) setting beats brute there). Low-cosine
    * thresholds (< 0.7) therefore DELEGATE to [[embedDedup]] —
    * byte-identical output, honest cost. At t >= 0.7 LSH is
    * exponentially effective and runs here.
    *
    * Auto-tuning: the recall constraint couples the two knobs —
    * expected boundary-pair miss e^(-T·p1^bits) <= 1e-3 means any
    * depth b needs T(b) = 6.9/p1^b tables. Under that constraint the
    * cost has two opposing terms: per-vector work (hash + candidate
    * shuffle) grows as n·T·b while the candidate-verify volume on
    * non-clustered data shrinks as n²·T/2^b — deeper tables kill
    * candidates faster (factor 1/2 per bit) than recall forces new
    * tables (factor 1/p1 per bit, p1 > 1/2 at every t >= 0.7), so
    * past the balance point adding depth is a strict win and the
    * optimal depth GROWS with log n. The r12-era formula fixed T and
    * solved only for the deepest recall-safe b, which STOPS deepening
    * once T is spent (b=8 at t=0.75 with T=64) — at sf1/40k vectors
    * that admitted ~22% of all pairs as candidates (T/2^b = 64/256),
    * brute force with extra steps. Modes:
    *   - tables < 0, bits < 0 (the default): joint auto-tune — pick
    *     b in [4, log2(n)+2] minimizing the modeled cost
    *     n·T(b)·(dim·b + 150) + (n²/2)·T(b)·2^-b·700 (mult-equivalent
    *     weights: one fused multiply per plane component; ~150 for a
    *     shuffled+joined (vec_id, 2 ints) row; ~700 for a candidate
    *     pair's distinct + two joins + dim-float cosine — the argmin
    *     is flat within ±2 bits of these constants), with
    *     T(b) = max(8, ceil(6.9/p1^b)). At t=0.75: (b=5, T=26) for
    *     n=40 → (11, 123) at sf0.1 → (14, 269) at sf1 → ~(24, 3600)
    *     at 1e9 vectors. Cost: one count() of the input.
    *   - tables > 0, bits < 0: the legacy fixed-T mode — deepest
    *     recall-safe depth ln(T/6.9)/(-ln p1), capped at log2(n)+2.
    *   - bits > 0: recall-sized T (if tables < 0) or both pinned.
    *
    * Scale posture (100 TB): per vector only (vec_id, 2 ints) x tables
    * rows shuffle for the candidate join; the distinct on candidate id
    * PAIRS carries no embeddings — vectors are re-joined only for the
    * per-pair verify. */
  /** The joint (tables, depth) auto-tune backing [[embedDedupLsh]],
    * exposed for the spec that pins the scale posture: under the
    * recall constraint T(b) = 6.9/p1^b (boundary-pair miss <= 1e-3 at
    * any depth), pick the depth minimizing modeled
    * hash (n·T·dim·b) + candidate-shuffle (n·T·150) +
    * verify ((n²/2)·T·2⁻ᵇ·700) cost over b in [4, log2(n)+2] — the
    * optimum deepens with log n, so candidate volume stays
    * sub-quadratic at every corpus size. */
  private[graft] def lshParams(n: Long, threshold: Double, dim: Int): (Int, Int) = {
    val p1 = 1.0 - math.acos(threshold) / math.Pi
    def recallTables(b: Int): Int =
      math.max(8, math.ceil(6.9 / math.pow(p1, b)).toInt)
    val nn = math.max(n, 2L).toDouble
    val bMax = math.max(4, (math.log(nn) / math.log(2.0)).toInt + 2)
    val bOpt = (4 to bMax).minBy { d =>
      val tb = recallTables(d).toDouble
      nn * tb * (dim.toDouble * d + 150.0) +
        (nn * nn / 2.0) * tb * math.pow(0.5, d) * 700.0
    }
    (recallTables(bOpt), bOpt)
  }

  /** The banded candidate relation behind [[embedDedupLsh]], factored
    * out so the growth diagnostics (PLANS.md d06 attribution) can
    * measure candidate volume separately from verify cost. Resolves
    * (tables, bits) exactly as embedDedupLsh does. */
  private[graft] def embedLshCandidates(embeddings: DataFrame, threshold: Double,
                                        tables: Int = -1, bits: Int = -1,
                                        dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val (t, b) = resolveLshParams(embeddings, threshold, tables, bits, dim)
    val withB = embeddings
      .select(col("vec_id"), col("embedding"),
        posexplode(expr(s"graft_hyperplane_buckets(embedding, 42L, $t, $b, $dim)"))
          .as(Seq("bt", "bb")))
    // deliberately NOT cached: the duplicated per-side hyperplane
    // projection stays inside whole-stage codegen and measures faster
    // than a cache materialization + row-based InMemoryTableScan
    // (2.17 s vs 1.62 s at sf0.1 REPS-minima)
    val ids = withB.select(col("vec_id"), col("bt"), col("bb"))
    // join strategy is left to the planner: size estimates scale with
    // input bytes, so the broadcast these joins get at test SF flips
    // to a bucket-key / vec_id-partitioned shuffle join at corpus
    // scale on its own (verified cheaper locally than pinning
    // shuffle_hash, which costs three extra exchanges here)
    ids.as("x")
      .join(ids.as("y"),
        col("x.bt") === col("y.bt") && col("x.bb") === col("y.bb") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  /** The (tables, bits) resolution shared by embedLshCandidates and
    * the growth diagnostics: explicit knobs win; a lone knob derives
    * its partner from the e^(-T·p1^b) ≤ 1e-3 recall constraint; both
    * absent → the lshParams cost model over n. */
  private[graft] def resolveLshParams(embeddings: DataFrame, threshold: Double,
                                      tables: Int, bits: Int, dim: Int): (Int, Int) = {
    val p1 = 1.0 - math.acos(threshold) / math.Pi
    def recallTables(b: Int): Int =
      math.max(8, math.ceil(6.9 / math.pow(p1, b)).toInt)
    def sizeCap: Int = (math.log(math.max(embeddings.count(), 2L).toDouble) /
      math.log(2.0)).toInt + 2
    if (tables > 0 && bits > 0) (tables, bits)
    else if (bits > 0) (recallTables(bits), bits)
    else if (tables > 0) {
      val recallDepth = (math.log(tables / 6.9) / -math.log(p1)).toInt
      (tables, math.max(4, math.min(recallDepth, sizeCap)))
    } else lshParams(embeddings.count(), threshold, dim)
  }

  def embedDedupLsh(embeddings: DataFrame, threshold: Double = 0.5,
                    tables: Int = -1, bits: Int = -1, dim: Int = 64): DataFrame = {
    if (threshold < 0.7)
      return embedDedup(embeddings, threshold)
    val cand = embedLshCandidates(embeddings, threshold, tables, bits, dim)
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("sim", expr("graft_cosine(ea, eb)"))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), stableRound(col("sim"), 4).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** d16_semantic_dedup — SemDeDup (Abbas et al. 2023,
    * arXiv:2303.09540): semantic deduplication by CLUSTER-then-dedup
    * over embeddings, the method the paper shows removing ~50% of web
    * corpora with no quality loss. Pipeline: (1) coarse k-means cells
    * (a05's sample-bounded trainer — constant training cost, one
    * distributed assign pass; ~sqrt(n) cells by default so the
    * within-cell candidate volume stays ~n^1.5, the a07 contract);
    * (2) within-cell all-pairs cosine ≥ `threshold` — the join is
    * CELL-LOCAL, one hash join on the cell key, never a corpus
    * cartesian; (3) connected components over the pair graph (d07's
    * size-adaptive resolver: bounded graphs collect into the
    * primitive union-find, web-scale graphs run distributed min-label
    * rounds); (4) one verdict row PER VECTOR: its cell, its semantic
    * group (min vec_id of the component — singletons group as
    * themselves) and keep = is-the-canonical.
    *
    * `keepPolicy` picks the survivor per group: "min_id" (stable,
    * reproducible joins downstream) or "far_centroid" — the PAPER's
    * heuristic: keep the member with the LOWEST similarity to its
    * cell centroid, which maximizes retained diversity (Abbas et al.
    * §3; ties on the 4-decimal similarity break to min id). Both are
    * deterministic.
    *
    * Contract stated by the paper and inherited here: candidate
    * recall is WITHIN-CELL by design — a near-dup pair split across a
    * cell boundary is not considered (the paper accepts this at ~1e8
    * scale; d06's boundary-free LSH is the alternative when misses
    * matter). Deterministic end-to-end: seeded sample k-means,
    * ascending-label tiebreaks, deterministic canonicals. Output
    * volume is exactly n rows — the drop list is `keep = false`. */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.95,
                    cells: Int = -1,
                    localEdgeLimit: Long = 1L << 20,
                    keepPolicy: String = "min_id"): DataFrame = {
    require(Seq("min_id", "far_centroid").contains(keepPolicy),
      s"semanticDedup: unknown keepPolicy '$keepPolicy' (min_id | far_centroid)")
    val spark = embeddings.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    val kEff =
      if (cells > 0) cells
      else math.max(1, math.sqrt(math.max(vecs.count(), 1L).toDouble).toInt)
    // ONE assign pass yields the cell AND the centroid similarity the
    // far_centroid policy ranks on; tracked: feeds both sides of the
    // cell-local join and the final verdict projection
    val assigned = graft.Caches.tracked(
      graft.ann.Ann.outlierScore(vecs,
          centroids = Some(graft.ann.Ann.kmeansCentroids(vecs, k = kEff)))
        .select(col("vec_id"), col("assigned_label").as("cell"), col("centroid_sim"))
        .join(vecs, "vec_id"))
    val pairs = assigned.as("x")
      .join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("sim", expr("graft_cosine(x.embedding, y.embedding)"))
      .filter(col("sim") >= threshold)
      .select(col("x.vec_id").as("doc_a"), col("y.vec_id").as("doc_b"))
      .persist()
    val nEdges = pairs.count()
    val labels =
      if (nEdges <= localEdgeLimit) localUnionFind(spark, pairs)
      else distributedMinLabel(pairs, maxIters = 20)
    pairs.unpersist()
    val grouped = assigned.select(col("vec_id"), col("cell"), col("centroid_sim"))
      .join(labels.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"), col("centroid_sim"),
        coalesce(col("cluster_id"), col("vec_id")).as("group_id"))
    val kept = keepPolicy match {
      case "min_id" =>
        grouped.withColumn("keep", col("group_id") === col("vec_id"))
      case "far_centroid" =>
        // groups are near-dup components (small); one group_id window
        val w = Window.partitionBy("group_id")
          .orderBy(col("centroid_sim"), col("vec_id"))
        grouped.withColumn("keep", row_number().over(w) === 1)
    }
    kept.select("vec_id", "cell", "group_id", "keep").orderBy("vec_id")
  }

  /** d17_embed_ingest_admit — the EMBEDDING-side admission step: d12's
    * per-document verdict loop (corpus_dup / batch_dup / admitted) on
    * vectors — SemDeDup at INGESTION time, where a nightly batch is
    * judged against the standing corpus instead of re-deduplicating
    * everything. Verdicts, first-in-wins like d12:
    *   - corpus_dup: some corpus vector in the batch vector's probed
    *     cells has cosine ≥ `threshold`;
    *   - batch_dup: no corpus match, but an EARLIER-id batch vector
    *     (sharing a probed cell) has;
    *   - admitted: neither. Evidence columns carry the best match
    *     (highest cosine, smallest id on ties; −1/0.0 for admitted).
    *
    * Scale posture: the corpus trains a05's sample-bounded quantizer
    * (~sqrt(n) cells) and stores each vector in its ONE cell; batch
    * vectors probe their `nprobe` nearest cells — candidate volume is
    * |batch|·nprobe·avg-cell, never |batch|×|corpus|, and only
    * (id, cell) pairs + the probed cells' vectors move. Multi-probe is
    * the cell-boundary mitigation d16 documents (a same-cell guarantee
    * does not exist for near-dups straddling a centroid boundary;
    * nprobe ≥ 2 catches the straddlers the paper's single-cell rule
    * misses). A batch pair meeting in several probed cells collapses
    * in the per-vector max — verdicts never double-count. The at-rest
    * composition is immediate: the corpus half is exactly what
    * sink_ann_index persists (cells + per-cell vectors), so the same
    * probe runs against the saved layout via ivfKnnIndexed's pruning. */
  def embedIngestAdmit(corpus: DataFrame, batch: DataFrame,
                       threshold: Double = 0.9, cells: Int = -1,
                       nprobe: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val cvecs = corpus.select(col("vec_id"), col("embedding"))
    val bvecs = batch.select(col("vec_id"), col("embedding"))
    val kEff =
      if (cells > 0) cells
      else math.max(1, math.sqrt(math.max(cvecs.count(), 1L).toDouble).toInt)
    val cents = graft.ann.Ann.kmeansCentroids(cvecs, k = kEff)
    val corpusCells = graft.Caches.tracked(
      graft.ann.Ann.assign(cvecs, cents)
        .select(col("vec_id").as("c_id"), col("c_label").as("cell"),
          col("embedding").as("ce")))
    val probes = graft.Caches.tracked(
      graft.ann.Ann.assignN(bvecs, cents, nprobe)
        .select(col("vec_id").as("b_id"), col("c_label").as("cell"),
          col("embedding").as("be")))
    // best corpus evidence per batch vector: max (sim, then min id)
    // via lexicographic struct max — one aggregation, no window
    val corpusHits = probes.join(corpusCells, "cell")
      .withColumn("s", expr("graft_cosine(be, ce)"))
      .filter(col("s") >= threshold)
      .groupBy("b_id")
      .agg(max(struct(col("s").as("s"), (-col("c_id")).as("nid"))).as("m"))
      .select(col("b_id"), (-col("m.nid")).as("corpus_id"), col("m.s").as("corpus_sim"))
    // earlier-id batch evidence (first-in wins): same shape over the
    // probed-cell self-overlap
    val batchHits = probes.as("x")
      .join(probes.as("y"),
        col("x.cell") === col("y.cell") && col("y.b_id") < col("x.b_id"))
      .withColumn("s", expr("graft_cosine(x.be, y.be)"))
      .filter(col("s") >= threshold)
      .groupBy(col("x.b_id").as("b_id"))
      .agg(max(struct(col("s").as("s"), (-col("y.b_id")).as("nid"))).as("m"))
      .select(col("b_id"), (-col("m.nid")).as("batch_id"), col("m.s").as("batch_sim"))
    bvecs.select(col("vec_id"))
      .join(corpusHits.withColumnRenamed("b_id", "vec_id"), Seq("vec_id"), "left_outer")
      .join(batchHits.withColumnRenamed("b_id", "vec_id"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        when(col("corpus_sim").isNotNull, lit("corpus_dup"))
          .when(col("batch_sim").isNotNull, lit("batch_dup"))
          .otherwise(lit("admitted")).as("verdict"),
        coalesce(col("corpus_id"), col("batch_id"), lit(-1L)).as("evidence_id"),
        stableRound(coalesce(col("corpus_sim"), col("batch_sim"), lit(0.0)), 4)
          .as("evidence_sim"))
      .orderBy("vec_id")
  }

  /** d18_containment — DIRECTIONAL near-dup detection by shingle-set
    * containment C(a→b) = |Sa∩Sb| / |Sa| (Broder 1997's second
    * resemblance measure). Jaccard (d02/d03) misses the asymmetric
    * case a training pipeline cares about most — a document that is a
    * verbatim SUBSET of a larger one (quote inflation, boilerplate
    * wrappers, page-plus-chrome crawls): J = |A∩B|/|A∪B| dilutes with
    * the larger doc while C(a→b) stays at 1.0. Emits one row per
    * contained direction (doc_id is the smaller/contained side's id,
    * in_doc the container) at containment >= threshold, with docs
    * under `minShingles` excluded (tiny shingle sets make containment
    * vacuous).
    *
    * Plan shape = d02's inverted-index join (same `cappedShingleSets`
    * input, same shuffle_hash hint for the post-explode estimate
    * skew), but with NO size prefilter: containment is exactly the
    * regime where sizes legitimately differ, so the only scale guard
    * is the dfCap on hot shingles. The a<b join enumerates each
    * unordered pair once; both directions are derived from that one
    * pair row, so the pair-count shuffle is paid once. */
  /** Unordered-pair intersection counts (id_a < id_b, both set sizes)
    * over the capped shingle universe — the shared core of d18 and
    * d22. */
  private def containmentPairs(documents: DataFrame,
                               dfCap: Option[Long]): DataFrame = {
    val e = cappedShingleSets(documents, dfCap)
      .select(col("doc_id"), size(col("sh")).cast("long").as("nsh"),
        explode(col("sh")).as("sh_h"))
    e.as("a")
      .join(e.as("b").hint("shuffle_hash"),
        col("a.sh_h") === col("b.sh_h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .agg(count(lit(1)).as("shared"))
  }

  def containmentDedup(documents: DataFrame, threshold: Double = 0.8,
                       minShingles: Int = 5, dfCap: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1.0,
      s"containmentDedup: threshold must be in (0,1], got $threshold")
    val pairs = containmentPairs(documents, dfCap)
    val dirs = pairs.select(
        col("id_a").as("doc_id"), col("id_b").as("in_doc"),
        col("na").as("nsh"), col("shared"))
      .unionByName(pairs.select(
        col("id_b").as("doc_id"), col("id_a").as("in_doc"),
        col("nb").as("nsh"), col("shared")))
    dirs
      .filter(col("nsh") >= minShingles &&
        col("shared") / col("nsh") >= threshold)
      .select(col("doc_id"), col("in_doc"), col("shared"), col("nsh"),
        stableRound(col("shared") / col("nsh"), 4).as("containment"))
      .orderBy("doc_id", "in_doc")
  }

  /** Candidate (contained, container) pairs under prefix filtering —
    * the shared core of d19, factored out so the spec can pin the
    * pruning itself. Recall argument (the SSJoin/PPJoin prefix
    * principle, directional form): C(a→b) ≥ t means a has at most
    * ⌊(1−t)·|Sa|⌋ shingles OUTSIDE Sb, so among any ⌊(1−t)·|Sa|⌋+1 of
    * a's shingles at least one is shared with b — probing the join
    * with only that many of a's RAREST shingles (global-df order,
    * hash tie-break) cannot miss a qualifying pair. The 1e-9 nudge
    * under the ceil absorbs IEEE error in t·|Sa| toward the
    * PERMISSIVE side (a one-larger prefix costs candidates, never
    * recall).
    *
    * Two further PPJoin filters prune candidates BEFORE the distinct
    * + verify stage, both recall-exact:
    *   - SIZE: C(a→b) ≥ t needs shared ≥ ⌈t·|Sa|⌉ and shared ≤ |Sb|,
    *     so any b with |Sb| < ⌈t·|Sa|⌉ cannot qualify.
    *   - POSITIONAL: let s* be the FIRST common shingle of (a,b) in
    *     the global (df, sh_h) order. For a qualifying pair s* lies in
    *     a's prefix (were it outside, a's whole prefix would be
    *     non-shared and shared ≤ ⌈t·|Sa|⌉ − 1). Every common shingle
    *     ranks ≥ rk_a(s*) in a and ≥ rk_b(s*) in b, so
    *     shared ≤ 1 + min(|Sa| − rk_a(s*), |Sb| − rk_b(s*)); the s*
    *     join row therefore passes `bound ≥ ⌈t·|Sa|⌉` whenever the
    *     pair qualifies, and rows that fail it are safe to drop
    *     per-row ahead of the pair-level distinct. Probe-side ranks
    *     ride the SAME (df, rk) windows the prefix side already
    *     computes — two extra exchanges of the exploded set, trivial
    *     next to the candidate volume they prune. On the
    *     saturated-vocabulary regime (every shingle's df grows with
    *     the corpus, so the bare prefix filter degenerates toward the
    *     full inverted-index join) the two filters cut d19's wall
    *     8.7× and d22's 6.6× at the 100k-doc tier, at a fixed
    *     ~2-stage latency cost visible only at toy scale. */
  private[graft] def containmentPrefixCandidates(
      shingled: DataFrame, threshold: Double): DataFrame = {
    val e = shingled.select(col("doc_id"),
      size(col("sh")).cast("long").as("nsh"), explode(col("sh")).as("sh_h"))
    val prefixLen = col("nsh") - ceil(lit(threshold) * col("nsh") - lit(1e-9)) + 1
    // df attaches via a count window, not a join against the grouped
    // df table: the post-explode size estimate under-states that table
    // so badly the planner would broadcast it at any SF (the d02
    // lesson), while the window is strategy-proof — one sh_h exchange,
    // per-key buffers bounded by the dfCap that already guards hot
    // shingles upstream
    // tracked: the candidate join reads this relation TWICE (prefix
    // probe side + full posting side). Uncached, the plan duplicates
    // the explode and BOTH window passes — two extra corpus-shingle
    // exchanges and two extra sorts per call (measured in the d19
    // before-plan: the Generate + df-window + rank-window subtree
    // appears once per join side). The cached rows are (doc_id, nsh,
    // sh_h, rk) — the same narrow volume those exchanges carried.
    val ranked = graft.Caches.tracked(e
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh_h")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh_h"))))
      .select(col("doc_id"), col("nsh"), col("sh_h"), col("rk")))
    val prefix = ranked.filter(col("rk") <= prefixLen)
    val need = ceil(lit(threshold) * col("a.nsh") - lit(1e-9))
    prefix.as("a")
      .join(ranked.as("b").hint("shuffle_hash"),
        col("a.sh_h") === col("b.sh_h") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.nsh") >= need &&
          least(col("a.nsh") - col("a.rk"), col("b.nsh") - col("b.rk")) >= need - lit(1))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("in_doc"))
      .distinct()
  }

  /** d19_containment_prefix — d18's SCALE PATH: the same directional
    * containment report via PREFIX FILTERING (SSJoin/PPJoin) instead
    * of the full inverted-index join. d18 probes every shingle
    * occurrence into the pair join — candidate volume Σ df(s)² over
    * the whole shingle universe; here each doc probes only its
    * ⌊(1−t)·|Sa|⌋+1 RAREST shingles (global document-frequency order),
    * so candidate volume concentrates exactly where buckets are
    * smallest, while the prefix principle (see
    * [[containmentPrefixCandidates]]) keeps recall EXACT — the output
    * hash-equals d18's, the d02/d03 twin pattern applied to
    * containment. Candidates verify by one array_intersect over the
    * cached shingle sets (pair-grain, the d03 verify shape); at 100 TB
    * the probe side is (1−t)× the corpus shingle volume and every
    * surviving pair is a real near-container with probability far
    * higher than an inverted-index bucket pair. */
  def containmentPrefix(documents: DataFrame, threshold: Double = 0.8,
                        minShingles: Int = 5, dfCap: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1.0,
      s"containmentPrefix: threshold must be in (0,1], got $threshold")
    val shingled = graft.Caches.tracked(cappedShingleSets(documents, dfCap))
    val sets = shingled.select(col("doc_id"), col("sh"))
    containmentPrefixCandidates(shingled, threshold)
      .join(sets.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
      .join(sets.select(col("doc_id").as("in_doc"), col("sh").as("sh_b")), "in_doc")
      .withColumn("nsh", size(col("sh_a")).cast("long"))
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(col("nsh") >= minShingles &&
        col("shared") / col("nsh") >= threshold)
      .select(col("doc_id"), col("in_doc"), col("shared"), col("nsh"),
        stableRound(col("shared") / col("nsh"), 4).as("containment"))
      .orderBy("doc_id", "in_doc")
  }

  /** d20_containment_against — the INCREMENTAL shape of d18/d19 (the
    * d11 pattern applied to containment): is an arriving doc a
    * near-SUBSET of anything already in the corpus? This is the
    * admission check Jaccard-based d11/d12 structurally miss — a
    * short doc quoted inside a long corpus doc has high containment
    * but arbitrarily low Jaccard. Directional and one-sided: only
    * C(new→corpus) is reported (corpus-in-batch containment is the
    * corpus's own dedup problem, already settled).
    *
    * Plan: shingles over batch ∪ corpus (union-wide dfCap, the d11
    * convention so the capped universe means the same on both sides);
    * the batch side probes with d19's prefix filter, rarest-first by
    * CORPUS document frequency — computed as a conditional sum window
    * over the same sh_h partitioning the candidate join shuffles on
    * (strategy-proof, the d19 rationale). Batch shingles absent from
    * the corpus get df 0: probed first, generate no candidates, and
    * the prefix principle holds for ANY p-subset so recall stays
    * exact. Candidate volume is |batch|-prefix-proportional; the
    * corpus never self-pairs. */
  def containmentAgainst(newDocs: DataFrame, corpus: DataFrame,
                         threshold: Double = 0.8, minShingles: Int = 5,
                         dfCap: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1.0,
      s"containmentAgainst: threshold must be in (0,1], got $threshold")
    val union = newDocs.select("doc_id", "text")
      .unionByName(corpus.select("doc_id", "text"))
    val shingled = graft.Caches.tracked(cappedShingleSets(union, dfCap))
    val newIds = broadcast(newDocs.select(col("doc_id"), lit(true).as("is_new")))
    val e = shingled.join(newIds, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("is_new"), lit(false)).as("is_new"),
        size(col("sh")).cast("long").as("nsh"), explode(col("sh")).as("sh_h"))
    val withDf = e.withColumn("cdf",
      sum(when(col("is_new"), 0L).otherwise(1L)).over(Window.partitionBy("sh_h")))
    val prefixLen = col("nsh") - ceil(lit(threshold) * col("nsh") - lit(1e-9)) + 1
    val prefix = withDf.filter(col("is_new"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("cdf"), col("sh_h"))))
      .filter(col("rk") <= prefixLen)
      .select(col("doc_id"), col("nsh"), col("sh_h"))
    // size filter (the containmentPrefixCandidates argument): a corpus
    // doc smaller than ⌈t·|Sa|⌉ cannot contain a — prune per-row ahead
    // of the pair distinct; recall-exact
    val cand = prefix
      .join(withDf.filter(!col("is_new"))
        .select(col("doc_id").as("corpus_doc"), col("nsh").as("n_corp"), col("sh_h"))
        .hint("shuffle_hash"),
        Seq("sh_h"))
      .filter(col("n_corp") >= ceil(lit(threshold) * col("nsh") - lit(1e-9)))
      .select(col("doc_id"), col("corpus_doc")).distinct()
    val sets = shingled.select(col("doc_id"), col("sh"))
    cand
      .join(sets.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
      .join(sets.select(col("doc_id").as("corpus_doc"), col("sh").as("sh_b")), "corpus_doc")
      .withColumn("nsh", size(col("sh_a")).cast("long"))
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(col("nsh") >= minShingles &&
        col("shared") / col("nsh") >= threshold)
      .select(col("doc_id").as("new_doc"), col("corpus_doc"), col("shared"), col("nsh"),
        stableRound(col("shared") / col("nsh"), 4).as("containment"))
      .orderBy("new_doc", "corpus_doc")
  }

  /** sink_containment_index — PERSIST the corpus half of d20's
    * derivation (the writeDedupIndex recipe for the containment
    * regime): [[containmentAgainst]] re-shingles and re-counts the
    * ENTIRE corpus per batch; this sink runs that once, writing three
    * relations under `path` — `sets/` (doc_id, sh, nsh — the verify
    * side), `postings/` (bkt, sh_h, doc_id, nsh, rk — the candidate
    * side, partitioned by shingle-hash bucket so a probe's buckets
    * prune to their directories) and `order/` (bkt, sh_h, odf — the
    * FROZEN global shingle order, see below), plus `meta/` (the
    * bucket modulus — a probe must hash with the sink's exact
    * modulus, and sparse occupancy makes it non-inferable).
    *
    * The PPJoin filters that rescue the live d19/d22 paths at shingle
    * saturation (see [[containmentPrefixCandidates]] — size +
    * positional, 8.7×/6.6× measured at the saturated 100k-doc tier)
    * need per-posting metadata: `nsh` (the corpus doc's set size, the
    * SIZE bound) and `rk` (the shingle's rank within its doc, the
    * POSITIONAL bound). The positional proof requires probe-side and
    * corpus-side ranks to live in ONE consistent total order — but
    * the "true" document-frequency order changes with every append,
    * so the order is FROZEN AT SEED TIME: `order/` persists the seed
    * corpus's per-shingle df (`odf`), and every write — seed and all
    * appends — ranks its postings under (odf, sh_h), with shingles
    * absent from the frozen order at odf 0 (probed first, the d20
    * df-0 rule). Appends read `order/` and never write it. Staleness
    * of the frozen order costs only PRUNING POWER on post-seed
    * vocabulary, never recall: the prefix principle is exact for any
    * total order, and the positional bound is exact for any order
    * SHARED by both sides — which frozen-at-seed is, by construction,
    * for every probe and every append forever. */
  /** The containment-index layout this code writes and reads: v2 =
    * frozen-order (order/ + postings carrying (nsh, rk)). v1 indexes
    * (dfs/, no ranks) are structurally incompatible — a v1 probe here
    * would fail with an opaque missing-path or unresolved-column
    * error, so every reader checks meta/ and refuses loudly. */
  private[graft] val ContainmentLayoutVersion = 2

  /** Read + validate the index's bucket modulus from meta/ — the ONE
    * meta read every containment-index reader funnels through, so an
    * incompatible layout fails fast with "reseed required" instead of
    * an opaque error downstream (and old postings can never silently
    * mix with the frozen-order reader). */
  private def containmentIndexBuckets(spark: org.apache.spark.sql.SparkSession,
                                      path: String): Long = {
    val m = spark.read.parquet(path + "/meta")
    if (!m.columns.contains("layout_version"))
      throw new IllegalArgumentException(
        s"$path: containment index predates the frozen-order layout " +
          "(meta/ carries no layout_version; postings lack (nsh, rk) and " +
          "order/ is absent) — reseed with writeContainmentIndex")
    val row = m.select("n_buckets", "layout_version").collect()(0)
    val lv = row.getAs[Number](1).intValue
    if (lv != ContainmentLayoutVersion)
      throw new IllegalArgumentException(
        s"$path: containment index layout v$lv is incompatible with this " +
          s"reader (expects v$ContainmentLayoutVersion) — reseed required")
    row.getAs[Number](0).longValue
  }

  def writeContainmentIndex(corpus: DataFrame, path: String, nBuckets: Int = 64,
                            batchId: Option[Long] = None): Unit = {
    // an APPEND must hash with the modulus the index was seeded with,
    // never the caller's default — mixed moduli would scatter one
    // shingle across buckets and silently lose candidates. ONLY a
    // genuinely absent meta/ means "seeding call": a transient read
    // error on an existing meta must propagate (falling back to the
    // caller's default would scatter this batch across wrong buckets
    // with no error — the writeTextIndex lesson, applied here too)
    val effBuckets = batchId match {
      case Some(_) if graft.Fs.exists(corpus.sparkSession, path + "/meta") =>
        containmentIndexBuckets(corpus.sparkSession, path).toInt
      case _ => nBuckets // seeding call: no meta yet
    }
    val spark = corpus.sparkSession
    val isAppend = batchId.isDefined && graft.Fs.exists(spark, path + "/meta")
    // order/postings are co-versioned under the snapshot-pointer
    // protocol once a refreeze has run ([[graft.sources.Snapshots]]):
    // a SEED clears any previous life's generations (it rewrites the
    // legacy root layout), an APPEND resolves both relations from one
    // generation read and writes into the CURRENT generation — so its
    // ranks live in the same order its readers resolve
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!isAppend) graft.sources.Snapshots.clear(fs, rootP)
    val (_, Seq(orderPath, postingsPath)) =
      graft.sources.Snapshots.resolve(fs, rootP, Seq("order", "postings"))
    // batch appends need a batch-seeded layout (postings/batch_id=...);
    // mixing with a single-shot postings/bkt=... root is rejected by
    // partition discovery at probe time — refuse loudly at write time
    batchId.foreach { _ =>
      if (graft.Fs.exists(spark, postingsPath.toString) &&
          !graft.Fs.hasChildDir(spark, postingsPath.toString, "batch_id="))
        throw new IllegalArgumentException(
          s"writeContainmentIndex: $path was seeded without batchId " +
            "(single-shot layout); seed with batchId = Some(...) to " +
            "support appends")
    }
    val sets = graft.Caches.tracked(withShingleHashes(corpus)
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("nsh")))
    val bare = sets.select(col("doc_id"), col("nsh"), explode(col("sh")).as("sh_h"))
      .withColumn("bkt", pmod(col("sh_h"), lit(effBuckets.toLong)).cast("int"))
    // the frozen order: seed derives it from its own dfs (and persists
    // it); appends READ it — ranking an append's postings under a fresh
    // order would break the one-consistent-order requirement of the
    // positional bound. Append-side reads prune to the batch's own
    // bucket set (only its shingles need odf).
    val (odf, ordW) = if (isAppend) {
      val bkts = bare.select("bkt").distinct().collect().map(_.getInt(0))
      (spark.read.parquet(orderPath.toString)
        .filter(col("bkt").isin(bkts.toSeq: _*)).select("sh_h", "odf"), None)
    } else {
      val ord = graft.Caches.tracked(
        bare.groupBy("bkt", "sh_h").agg(count(lit(1)).as("odf")))
      // deferred into the Par group below: postings rank against the
      // CACHED ord frame, so the order/ write is independent of them
      (ord.select("sh_h", "odf"),
        Some(() => ord.write.mode("overwrite").partitionBy("bkt")
          .parquet(orderPath.toString): Unit))
    }
    val post = bare.join(odf, Seq("sh_h"), "left_outer")
      .withColumn("odf", coalesce(col("odf"), lit(0L)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("odf"), col("sh_h"))).cast("long"))
      .select(col("bkt"), col("sh_h"), col("doc_id"), col("nsh"), col("rk"))
    // the bucket MODULUS must be persisted — inferring it from the
    // occupied bucket ids breaks on sparse occupancy (a small corpus
    // can leave the top buckets empty), and a probe hashing with the
    // wrong modulus reads the wrong directories. layout_version lets
    // every reader refuse a pre-frozen-order index loudly.
    // meta/, sets/ and postings/ are independent once the order is
    // settled (postings rank against the CACHED ord frame, not the
    // written file) — overlap the writes (graft.Par)
    val metaW = () => spark.range(1).select(lit(effBuckets).as("n_buckets"),
        lit(ContainmentLayoutVersion).as("layout_version"))
      .write.mode("overwrite").parquet(path + "/meta"): Unit
    batchId match {
      case None =>
        graft.Par.jobs(ordW.toSeq :+ metaW :+
          (() => sets.write.mode("overwrite").parquet(path + "/sets"): Unit) :+
          (() => post.write.mode("overwrite").partitionBy("bkt")
            .parquet(postingsPath.toString): Unit): _*)
      case Some(id) =>
        graft.Par.jobs(ordW.toSeq :+ metaW :+
          (() => sets.withColumn("batch_id", lit(id))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(path + "/sets"): Unit) :+
          (() => post.withColumn("batch_id", lit(id))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "bkt").parquet(postingsPath.toString): Unit): _*)
    }
  }

  /** Maintenance verb for ORDER decay — optimizeIndex's sibling for
    * the frozen order. The frozen-at-seed order is recall-correct
    * forever (see [[writeContainmentIndex]]) but its PRUNING POWER
    * degrades as appends accumulate: every post-seed shingle carries
    * odf 0, so after heavy growth most vocabulary probes first
    * regardless of true rarity and the prefix loses its
    * concentration. This verb re-derives `order/` from the CURRENT
    * corpus document frequencies (the postings themselves — one row
    * per (doc, shingle) — so no text is re-read), re-ranks ALL
    * postings under the new order in one doc-partitioned window pass,
    * and publishes both relations via the staged-swap machinery.
    * Probe results are IDENTICAL before and after (any shared total
    * order is recall-exact; only candidate volume changes), and
    * appends after a refreeze read the new `order/` and rank under
    * it — the one-consistent-order requirement keeps holding.
    *
    * Corpus-proportional (a full postings rewrite — the OPTIMIZE cost
    * class, run on a maintenance cadence) and single-writer like every
    * maintenance verb. Because ranks CHANGE, order and postings are
    * co-versioned: both land complete under the next snapshot
    * generation and publish via ONE atomic pointer write
    * ([[graft.sources.Snapshots]]), so a probe racing the publish
    * resolves old-everything or new-everything — the shared-total-
    * order precondition of the positional filter holds in every
    * interleaving, with no quiescing asked of the s24 serving loop,
    * and there is no instant where either directory is missing. A
    * crash before the pointer write leaves an unreferenced staging
    * generation the next attempt clears. Returns a one-row report
    * (postings_reranked, shingles_reordered, n_buckets). */
  def refreezeContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                               path: String): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val nBuckets = containmentIndexBuckets(spark, path)
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, Seq(_, postCur)) =
      graft.sources.Snapshots.resolve(fs, rootP, Seq("order", "postings"))
    val postings = spark.read.parquet(postCur.toString)
    val batched = postings.columns.contains("batch_id")
    val newOrd = graft.Caches.tracked(
      postings.groupBy("bkt", "sh_h").agg(count(lit(1)).as("odf")))
    // per-doc rank under the new (odf, sh_h) order; a doc re-appended
    // under several batch_ids ranks per batch copy, matching how the
    // seed/append writes ranked it
    val docPart =
      if (batched) Window.partitionBy("batch_id", "doc_id")
      else Window.partitionBy("doc_id")
    val reranked = postings.drop("rk")
      .join(newOrd.select("sh_h", "odf"), Seq("sh_h"))
      .withColumn("rk", row_number().over(
        docPart.orderBy(col("odf"), col("sh_h"))).cast("long"))
      .drop("odf")
    val stage = graft.sources.Snapshots.stageNext(fs, rootP, gen)
    // the two staged writes and the two report counts are independent
    // jobs (reranked joins the CACHED newOrd frame, not the staged
    // file) — overlap them (graft.Par); publish waits for all four
    var nSh = 0L
    var nPost = 0L
    graft.Par.jobs(
      () => newOrd.write.mode("overwrite").partitionBy("bkt")
        .parquet(new Path(stage, "order").toString),
      () =>
        if (batched)
          reranked.write.mode("overwrite").partitionBy("batch_id", "bkt")
            .parquet(new Path(stage, "postings").toString)
        else
          reranked.write.mode("overwrite").partitionBy("bkt")
            .parquet(new Path(stage, "postings").toString),
      () => nSh = newOrd.count(),
      () => nPost = postings.count())
    graft.sources.Snapshots.publish(fs, rootP, gen + 1, Seq("order", "postings"))
    Seq((nPost, nSh, nBuckets))
      .toDF("postings_reranked", "shingles_reordered", "n_buckets")
  }

  /** ORDER-DECAY metric for the containment index: the share of
    * posting rows whose shingle is ABSENT from the frozen `order/` —
    * exactly the rows an append ranked under odf 0 (the d20 absent-
    * shingle rule), the population whose growth floods probe prefixes
    * with common-but-unranked vocabulary and inflates candidate
    * volume. 0 right after a seed or [[refreezeContainmentIndex]]
    * (the order covers its own vocabulary by construction), rising
    * monotonically with post-freeze vocabulary growth.
    *
    * Measured over the first `sampleBuckets` bucket DIRECTORIES, not
    * the whole index: the shingle→bucket map is a uniform hash mod,
    * so any fixed bucket subset estimates the global share, and the
    * bucket filter prunes statically — the check reads
    * sampleBuckets/nBuckets of the postings (sh_h column only) and
    * never touches corpus text. That is what makes this a CADENCE
    * check at 100 TB, where the verb it gates is a full postings
    * rewrite. Both relations resolve from ONE snapshot generation
    * ([[graft.sources.Snapshots]]), so a refreeze racing the check
    * can't split the read. */
  def containmentOrderDecay(spark: org.apache.spark.sql.SparkSession,
                            path: String, sampleBuckets: Int = 8): Double = {
    require(sampleBuckets >= 1,
      s"containmentOrderDecay: sampleBuckets must be >= 1, got $sampleBuckets")
    val nBuckets = containmentIndexBuckets(spark, path)
    // Int literal against the Int partition column — a widening cast
    // on `bkt` would defeat the static pruning this check lives on
    val k = math.min(sampleBuckets.toLong, nBuckets).toInt
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, Seq(orderPath, postingsPath)) =
      graft.sources.Snapshots.resolve(fs, rootP, Seq("order", "postings"))
    val post = spark.read.parquet(postingsPath.toString)
      .filter(col("bkt") < lit(k)).select("sh_h")
    val ord = spark.read.parquet(orderPath.toString)
      .filter(col("bkt") < lit(k)).select("sh_h").distinct()
      .withColumn("in_order", lit(1))
    val row = post.join(ord, Seq("sh_h"), "left_outer")
      .agg(count(lit(1)).as("n"), count("in_order").as("known")).head()
    val n = row.getLong(0)
    if (n == 0L) 0.0 else (n - row.getLong(1)).toDouble / n
  }

  /** Threshold policy for [[maybeRefreezeContainmentIndex]] — the
    * index-side mirror of VersionedTable's OptimizePolicy, closing
    * the lifecycle the repo's own design argues for: streaming
    * admission loops (s24) append every trigger, appends compound
    * order decay continuously, and nothing repaired it without a
    * human remembering the verb. `maxOdf0Share` is the decay share
    * ([[containmentOrderDecay]]) past which a refreeze fires;
    * `sampleBuckets` bounds the check's read; `checkEvery` is the
    * streaming cadence — the loop runs the check only on triggers
    * whose batchId is a multiple, so the steady-state per-trigger
    * cost stays |batch|-proportional. */
  final case class RefreezePolicy(maxOdf0Share: Double = 0.3,
                                  sampleBuckets: Int = 8,
                                  checkEvery: Long = 8)

  /** Run [[refreezeContainmentIndex]] iff the measured order-decay
    * share breaches the policy threshold; returns the refreeze report
    * when it ran. The check costs one sampled-bucket aggregation (no
    * corpus text, no full postings scan); the verb is corpus-
    * proportional, which is exactly why it hides behind a threshold.
    * Probe results are IDENTICAL whether or not the refreeze fires
    * (any shared total order is recall-exact — only candidate volume
    * moves), so a replayed streaming trigger re-running the check is
    * harmless: the worst case is one redundant re-rank, never a
    * result change. Single-writer like the verb it wraps: call it
    * from the ONE maintenance cadence (or the one admission loop)
    * that owns the index. */
  def maybeRefreezeContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                                    path: String,
                                    policy: RefreezePolicy = RefreezePolicy()
                                   ): Option[DataFrame] = {
    val decay = containmentOrderDecay(spark, path, policy.sampleBuckets)
    if (decay <= policy.maxOdf0Share) None
    else Some(refreezeContainmentIndex(spark, path))
  }

  /** d21_containment_probe_indexed — d20 against the SAVED index:
    * result-identical to `containmentAgainst(newDocs, corpus,
    * dfCap = None)` over the same corpus, at |batch|-proportional
    * cost with ZERO corpus text reads. The batch shingles fresh, its
    * bucket set (≤ nBuckets values, driver-bounded) statically prunes
    * the order/postings directories, the FROZEN order lookup ranks
    * the prefix (absent shingles fold to odf 0 — the d20 rule), and
    * only the prefix shingles probe the postings join — WITH the
    * PPJoin size and positional filters applied per join row before
    * the pair distinct, exactly the pruning that rescued the live
    * d19/d22 paths at shingle saturation. Both filters are
    * recall-exact here because probe ranks and posting ranks live in
    * the same frozen seed order (see [[writeContainmentIndex]]): for
    * a qualifying pair the order-first common shingle is in the
    * probe's prefix and its join row passes both bounds. The verify
    * reads `sets/` rows for surviving candidates only. */
  /** The probe's candidate half (doc_id, corpus_doc pairs surviving
    * the prefix + PPJoin filters, pre-verify), exposed so maintenance
    * can MEASURE candidate volume — the quantity order decay inflates
    * and [[refreezeContainmentIndex]] restores. Returns (bsets, cand);
    * bsets is the probe's cached shingle relation, reused by the
    * verify step so the probe shingles exactly once. */
  private[graft] def containmentProbeCandidates(
      newDocs: DataFrame, indexPath: String, threshold: Double,
      excludeBatchId: Option[Long] = None): (DataFrame, DataFrame) = {
    val spark = newDocs.sparkSession
    def excl(df: DataFrame) = excludeBatchId match {
      case None => df
      case Some(id) => df.filter(col("batch_id") =!= id)
    }
    val bsets = graft.Caches.tracked(
      withShingleHashes(newDocs).select(col("doc_id"), col("sh")))
    // order and postings resolve from ONE snapshot-generation read
    // ([[graft.sources.Snapshots]]): the PPJoin positional bound is
    // recall-exact only when probe ranks and posting ranks share one
    // total order, and a refreeze publishing between two separate
    // resolutions could hand this probe new postings under an old
    // order — single-resolution makes the mix structurally impossible
    val idxRoot = new org.apache.hadoop.fs.Path(indexPath)
    val idxFs = idxRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, Seq(orderPath, postingsPath)) =
      graft.sources.Snapshots.resolve(idxFs, idxRoot, Seq("order", "postings"))
    // bucket modulus comes from the index's meta relation (it cannot
    // be inferred from occupied bucket ids — sparse occupancy leaves
    // top buckets empty). Partition columns read back as INT
    // (directory-value inference), so the probe's bucket literals are
    // Ints too — a cast on the partition column would defeat the
    // pruning this layout exists for.
    val postingsRaw = excl(spark.read.parquet(postingsPath.toString))
    val nBuckets = containmentIndexBuckets(spark, indexPath)
    val be = graft.Caches.tracked(
      bsets.select(col("doc_id"), size(col("sh")).cast("long").as("nsh"),
          explode(col("sh")).as("sh_h"))
        .withColumn("bkt", pmod(col("sh_h"), lit(nBuckets)).cast("int")))
    val bkts = be.select("bkt").distinct().collect().map(_.getInt(0))
    val odf = spark.read.parquet(orderPath.toString)
      .filter(col("bkt").isin(bkts: _*)).select("sh_h", "odf")
    val prefixLen = col("nsh") - ceil(lit(threshold) * col("nsh") - lit(1e-9)) + 1
    val prefix = be.join(odf, Seq("sh_h"), "left_outer")
      .withColumn("odf", coalesce(col("odf"), lit(0L)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("odf"), col("sh_h"))).cast("long"))
      .filter(col("rk") <= prefixLen)
      .select(col("doc_id"), col("nsh"), col("rk"), col("sh_h"))
    val need = ceil(lit(threshold) * col("p.nsh") - lit(1e-9))
    val cand = prefix.as("p")
      .join(postingsRaw.filter(col("bkt").isin(bkts: _*))
        .select(col("sh_h"), col("doc_id").as("corpus_doc"),
          col("nsh").as("n_corp"), col("rk").as("crk"))
        .as("q").hint("shuffle_hash"),
        col("p.sh_h") === col("q.sh_h") &&
          col("q.n_corp") >= need &&
          least(col("p.nsh") - col("p.rk"),
            col("q.n_corp") - col("q.crk")) >= need - lit(1))
      .select(col("p.doc_id").as("doc_id"), col("q.corpus_doc").as("corpus_doc"))
      .distinct()
    (bsets, cand)
  }

  def containmentAgainstIndex(newDocs: DataFrame, indexPath: String,
                              threshold: Double = 0.8, minShingles: Int = 5,
                              excludeBatchId: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1.0,
      s"containmentAgainstIndex: threshold must be in (0,1], got $threshold")
    val spark = newDocs.sparkSession
    def excl(df: DataFrame) = excludeBatchId match {
      case None => df
      case Some(id) => df.filter(col("batch_id") =!= id)
    }
    val (bsets, cand) =
      containmentProbeCandidates(newDocs, indexPath, threshold, excludeBatchId)
    val sets = excl(spark.read.parquet(indexPath + "/sets"))
    cand
      .join(bsets.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
      .join(sets.select(col("doc_id").as("corpus_doc"), col("sh").as("sh_b")), "corpus_doc")
      .withColumn("nsh", size(col("sh_a")).cast("long"))
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(col("nsh") >= minShingles &&
        col("shared") / col("nsh") >= threshold)
      .select(col("doc_id").as("new_doc"), col("corpus_doc"), col("shared"), col("nsh"),
        stableRound(col("shared") / col("nsh"), 4).as("containment"))
      .orderBy("new_doc", "corpus_doc")
  }

  /** d22_containment_apply — the APPLY step for the containment
    * family (d08's role for d18/d19): one verdict row per document —
    * keep, or drop into a DOMINATING container the doc is contained
    * in. Dominance (larger shingle set, then smaller doc_id) is a
    * strict total order, so the drop relation is ACYCLIC by
    * construction: mutually-contained near-identical twins resolve to
    * the dominant one, and a version chain a⊂b⊂c drops a and b while
    * keeping c — no union-find, no fixpoint iteration, ONE pass over
    * the pair relation (where symmetric-Jaccard apply needs d07's
    * connected components to break pair cycles). `kept_into` records
    * the best immediate dominator (highest containment, ties to the
    * smaller id) — follow it transitively, or compose with d07, when
    * a canonical chain root is needed. Docs under `minShingles` (and
    * shingle-less docs) always keep. */
  def containmentApply(documents: DataFrame, threshold: Double = 0.8,
                       minShingles: Int = 5, dfCap: Option[Long] = None,
                       preShingled: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1.0,
      s"containmentApply: threshold must be in (0,1], got $threshold")
    // candidate generation rides d19's prefix filter, not d18's full
    // inverted index: recall is exact either way (the prefix
    // principle), and the apply verdicts only consume pairs at
    // C ≥ t — measured 3× cheaper at sf1 on the same output.
    // preShingled: the d24 shared-scan seam (see minHashPairs).
    val shingled = preShingled.getOrElse(
      graft.Caches.tracked(cappedShingleSets(documents, dfCap)))
    val sets = shingled.select(col("doc_id"), col("sh"))
    val dirs = containmentPrefixCandidates(shingled, threshold)
      .join(sets.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
      .join(sets.select(col("doc_id").as("in_doc"), col("sh").as("sh_b")), "in_doc")
      .withColumn("nsh", size(col("sh_a")).cast("long"))
      .withColumn("n_in", size(col("sh_b")).cast("long"))
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
    val drops = dirs
      .filter(col("nsh") >= minShingles &&
        col("shared") / col("nsh") >= threshold &&
        (col("n_in") > col("nsh") ||
          (col("n_in") === col("nsh") && col("in_doc") < col("doc_id"))))
      .groupBy("doc_id")
      .agg(max(struct((col("shared") / col("nsh")).as("c"),
        (-col("in_doc")).as("nid"))).as("m"))
      .select(col("doc_id"), (-col("m.nid")).as("into"), col("m.c").as("c"))
    documents.select(col("doc_id"))
      .join(drops, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("into").isNull.as("keep"),
        coalesce(col("into"), lit(-1L)).as("kept_into"),
        stableRound(coalesce(col("c"), lit(0.0)), 4).as("containment"))
      .orderBy("doc_id")
  }

  /** d24_dedup_sweep — the full dedup PROVENANCE matrix in one call:
    * every regime this library ships, run over the same corpus, one
    * row per document with a boolean per regime (exact byte-dup /
    * Jaccard near-dup / directional containment / semantic) and a
    * precedence-ordered final verdict. This is the report a curation
    * owner actually reads before deleting anything — the single
    * regimes say "these pairs collide", the sweep says WHICH
    * MECHANISM would remove each doc and what survives all four.
    * Every flag is SURVIVOR-AWARE — it means "this regime would
    * REMOVE the doc", not "this doc collides": exact/near keep their
    * cluster canonicals, containment routes through d22's acyclic
    * dominance order (so the survivor of a mutual-containment pair is
    * not flagged), semantic keeps its cell survivors — which is what
    * makes the verdict column actionable rather than a pair report.
    * The regimes run their SCALE paths (LSH pairs, prefix-filter
    * containment, cell-local semantic — never the quadratic
    * baselines), each at its own threshold; flags compose by
    * left-join on doc_id, so the sweep's cost is the sum of the
    * regimes, not a product. Embeddings join by the vec_id = doc_id
    * convention (the m08 decode edge); docs without a vector simply
    * can't be semantic-dups. Precedence (strongest evidence first):
    * exact > near > contained > semantic; "keep" means all four
    * regimes passed. Rows-only: the semantic leg is codec-native —
    * the spec plants one positive per regime and pins the matrix. */
  def dedupSweep(documents: DataFrame, embeddings: DataFrame,
                 jaccardThreshold: Double = 0.8,
                 containThreshold: Double = 0.8,
                 semanticThreshold: Double = 0.95,
                 dfCap: Option[Long] = None): DataFrame = {
    val exactGroups = documents.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("canon"))
    val exactFlag = documents.select(col("doc_id"), md5(col("text")).as("h"))
      .join(exactGroups, "h")
      .select(col("doc_id"), (col("doc_id") =!= col("canon")).as("exact_dup"))
    // ONE tokenize+explode pass serves both shingle-based legs — the
    // near leg's signature/verify relations and the containment leg's
    // prefix/verify relations all read the same tracked cache instead
    // of re-deriving the corpus shingle sets per regime
    val shingled = graft.Caches.tracked(cappedShingleSets(documents, dfCap))
    val near = clustersFromPairs(documents,
        minHashPairs(documents, jaccardThreshold, dfCap = dfCap,
          preShingled = Some(shingled)))
      .select(col("doc_id"), (!col("is_canonical")).as("near_dup"))
    val contained = containmentApply(documents, containThreshold, dfCap = dfCap,
        preShingled = Some(shingled))
      .select(col("doc_id"), (!col("keep")).as("contained"))
    val sem = semanticDedup(embeddings, semanticThreshold)
      .select(col("vec_id").as("doc_id"), (!col("keep")).as("semantic_dup"))
    documents.select("doc_id")
      .join(exactFlag, Seq("doc_id"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .join(contained, Seq("doc_id"), "left_outer")
      .join(sem, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        coalesce(col("contained"), lit(false)).as("contained"),
        coalesce(col("semantic_dup"), lit(false)).as("semantic_dup"))
      .withColumn("verdict",
        when(col("exact_dup"), "exact")
          .when(col("near_dup"), "near")
          .when(col("contained"), "contained")
          .when(col("semantic_dup"), "semantic")
          .otherwise("keep"))
      .orderBy("doc_id")
  }
}
