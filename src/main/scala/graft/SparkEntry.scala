package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, expr, lit, to_json}
import graft.operators._
import graft.dedup.Dedup
import graft.text.TextStats
import graft.multimodal.BinaryPipeline

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** Temp dir for the at-rest index rows (a15/d14/d15), deleted on JVM
    * exit: under SPARK_GRAFT_REPS each rep rebuilds its index, and
    * without cleanup every rep leaked a full index copy in /tmp. */
  private[graft] def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  /** Shared by m12/m13: documents with planted byte-level near-dups —
    * a one-char-edited copy every 25th doc and an exact copy every
    * 50th (the d06 id-offset convention; word-salad testdata has no
    * natural byte-level near-duplicates). */
  private def plantedBytePayloads(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs
      .unionByName(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("X"), expr("substring(text, 2)")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    FlowAnalytics.starJoinFlow(
      Tables.lineitem(spark, d), Tables.orders(spark, d), Tables.customer(spark, d),
      Tables.nation(spark, d), Tables.region(spark, d))
  }

  /** One entry per implemented operator from SURVEY.md §2: every
    * `TaskRunner.runners` operator under its default task params, except
    * the `fixtures`, whose contract output is not the runner default. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    TaskRunner.runners.map { case (name, run) =>
      name -> ((s: SparkSession, d: String) => run(s, d, Map.empty[String, String]))
    } ++ fixtures

  private def bound(name: String, params: (String, String)*): (SparkSession, String) => DataFrame =
    (s, d) => TaskRunner.run(s, d, name, params.toMap)

  /** Contract bindings that differ from their runner's default output:
    * a pinned parameterization, fixture rows planted into the input
    * (the word-salad testdata lacks the regime), or a driver-sortable
    * serialization of a vector column. */
  private[graft] val fixtures: Map[String, (SparkSession, String) => DataFrame] = Map(
    // a04/a07 pass the label-centroid table explicitly: it is the
    // SQL-expressible oracle twin. The function default (no centroid
    // table) is the unlabeled sample-trained k-means build with
    // ~sqrt(n) cells — the 100 TB path, spec-covered in AnnSpec.
    "a04_ivf_knn" -> bound("a04_ivf_knn", "labelCells" -> "true"),
    "a07_knn_join" -> bound("a07_knn_join", "labelCells" -> "true"),
    // threshold 0.5 so the testdata's natural cos>=0.5 pairs (the d05
    // regime) exercise within-cell drops; output is one verdict row
    // per vector regardless
    "d16_semantic_dedup" -> bound("d16_semantic_dedup", "threshold" -> "0.5"),
    // contract binding serializes the vector column: the driver's
    // pandas comparator cannot sort ndarray cells (r10 harness crash),
    // so the inventory output carries json text while the typed
    // Ann.cellSplit keeps array<float> for a04/a07 composition
    "a14_cell_split" -> ((s, d) => TaskRunner.run(s, d, "a14_cell_split")
      .withColumn("centroid", to_json(col("centroid")))),
    // same vector-serialization contract as a14: typed API keeps the
    // embeddings-table shape, the inventory output is driver-sortable
    "t22_hash_embed" -> ((s, d) => TaskRunner.run(s, d, "t22_hash_embed")
      .withColumn("embedding", to_json(col("embedding")))),
    // the provenance matrix: plant one positive per regime that the
    // natural word-salad data lacks (exact copies + prefix-subset docs;
    // Jaccard and semantic positives occur naturally at these thresholds)
    "d24_dedup_sweep" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs
        .unionByName(docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            expr(
              "array_join(slice(split(text, ' '), 1, " +
                "CAST(size(split(text, ' ')) * 9 div 10 AS INT)), ' ')").as("text")))
      Dedup.dedupSweep(planted, Tables.embeddings(s, d),
        semanticThreshold = 0.5, dfCap = Some(1000L))
    }),
    // d06 registered IN ITS LSH REGIME (threshold 0.75; < 0.7 delegates
    // to the exact join and is spec-pinned byte-identical). The testdata
    // has no natural pairs above cos 0.7, so the row unions an id-offset
    // copy of the table: n planted cos=1.0 pairs the banded LSH must
    // recall — the oracle applies the same construction, hash-checked.
    "d06_embed_dedup_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val planted = e.select(col("vec_id"), col("embedding")).unionByName(
        e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Dedup.embedDedupLsh(planted, threshold = 0.75)
    }),
    // single-line word-salad docs carry no natural boilerplate: wrap
    // every doc in a shared header/footer (the oracle wraps identically)
    "t36_boilerplate_scrub" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextStats.boilerplateScrub(docs.select(col("doc_id"), col("source"),
        concat(
          lit("HEADER: ACME CRAWL\n"),
          col("text"),
          lit("\nfooter terms apply")).as("text")))
    }),
    // word-salad testdata has no natural code: plant snippet docs at
    // offset ids (the d06 convention; the oracle unions identically)
    "t35_code_detect" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      TextStats.codeDetect(docs.unionByName(docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          lit("def main(args): { return os.path.join(a, b); } // x => y && z")
            .as("text"))))
    }),
    // every 5th vector plays the new batch (the a12/d11 convention),
    // plus id-offset copies of every 25th corpus vector (the d06
    // planting convention — testdata has no natural cross pairs at any
    // usable threshold, so the copies guarantee driver-visible
    // corpus_dup verdicts; the held-out fifth exercises admitted)
    "d17_embed_ingest_admit" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val corpus = e.filter(e("vec_id") % 5 =!= 0)
      val batch = e.filter(e("vec_id") % 5 === 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(corpus.filter(e("vec_id") % 25 === 1)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Dedup.embedIngestAdmit(corpus, batch, threshold = 0.95)
    }),
    // rows-only: the block-mean hash is a compiled native fn (spec
    // pins planted near-dup recall + integer-exact hash laws). The
    // word-salad testdata has no natural byte-level near-dups, so the
    // row plants id-offset copies (the d06 convention): exact copies
    // of every 50th doc (hamming 0 — guaranteed driver-visible pairs)
    // and one-char-edited copies of every 25th (the light-edit regime)
    "m12_payload_blockhash" -> ((s, d) =>
      BinaryPipeline.payloadBlockhash(plantedBytePayloads(s, d))),
    // the store roundtrips the same planted versions m12 pairs — the
    // exact-copy plants share every chunk, the edited ones most
    "m14_chunk_store" -> ((s, d) => BinaryPipeline.chunkStoreRoundtrip(
      plantedBytePayloads(s, d), scratchDir("graft_m14_"))),
    // m12's pairs resolved to keep/drop verdicts — same planted docs,
    // so the planted edit/copy chains must collapse to their originals
    "m13_blockhash_clusters" -> ((s, d) =>
      BinaryPipeline.blockhashClusters(plantedBytePayloads(s, d))),
    // the payload provenance matrix (d24's shape for bytes): the m12
    // plants cover the exact + perceptual/near regimes; a truncated
    // 70%-prefix slice of every 40th doc plants the lineage regime
    "m16_payload_sweep" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = plantedBytePayloads(s, d)
        .unionByName(docs.filter(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            expr(
              "substring(text, 1, CAST(octet_length(text) * 7 div 10 AS INT))")
              .as("text")))
      BinaryPipeline.payloadSweep(planted)
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Oracles.all
}
