package graft.ann

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructField, StructType}
import graft.Num.stableRound
import graft.functions.{CosineSimilarity, GraftFunctions}
import graft.sources.Sources

/** Similarity search over embedding columns (SURVEY.md §2
  * "Similarity search").
  *
  * Scale posture: brute force is the correctness baseline — queries
  * broadcast, candidates scored map-side with the codegen'd
  * `graft_cosine` expression, top-k via per-query window. The LSH and
  * IVF variants bound the candidate set so the scoring join is
  * bucket-local: at 100 TB only the bucket/centroid assignment of each
  * vector shuffles, never the all-pairs product.
  */
object Ann {

  // ------------------------------------------------------------------
  // The retrieval core: the ranking tails and their sort keys, the
  // approximate shortlist, query batches, training samples, the PQ
  // ADC table, mean vectors and the cell-index reads and writes that
  // the live and at-rest variants share.
  // ------------------------------------------------------------------

  /** Sort keys of a NaN and a null similarity in the negated-score
    * order (sim DESC is key ASC) that [[topKNeighbors]] and
    * [[assignN]] rank by. Cosine ∈ [−1, 1], so every real key lies in
    * [−1, 1]: `NaNKey` sorts ahead of all of them, where a descending
    * window puts NaN, and `NullKey` after all of them
    * (desc_nulls_last). Both rest on that bound alone. */
  private val NaNKey = -2.0
  private val NullKey = 2.0

  /** The window ranking tail: the top `k` rows per query of a scored
    * candidate frame (query_id, neighbor_id, sim, …) by sim DESC (NaN
    * first, nulls last), ties to the smaller neighbor_id. Emits
    * query_id, the `carried` columns, neighbor_id, sim rounded to 4
    * places as `score`, and rn = 1..k, sorted by (query_id, rn). */
  private[graft] def windowTopK(scored: DataFrame, k: Int, carried: Seq[String] = Nil,
                                score: String = "cos_sim"): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(Seq(col("query_id")) ++ carried.map(col) ++ Seq(col("neighbor_id"),
        stableRound(col("sim"), 4).as(score), col("rn")): _*)
      .orderBy("query_id", "rn")
  }

  /** MAP-SIDE bounded top-k per query — the aggregate-fold form of
    * `row_number() OVER (PARTITION BY query_id ORDER BY sim DESC,
    * neighbor_id) <= k` (the retrieval family's ranking tail). The
    * window formulation sorts the FULL candidate product twice (a
    * partial WindowGroupLimit still sorts each map partition before
    * pruning, and the reduce side re-sorts after the exchange); the
    * mergeable NeighborTopK fold keeps ≤ k rows per (query, map
    * partition) in the partial aggregate, so nothing candidate-sized
    * is ever sorted and the exchange carries k·|queries| rows per
    * partition instead of the product (guide §2.3/§2.4).
    *
    * Ordering contract — the window's EXACTLY: sim DESC with NaN first
    * ([[NaNKey]]), nulls LAST ([[NullKey]]), ties by neighbor_id ASC.
    * `+ 0.0` normalizes a -0.0 key to +0.0 so the fold compares ±0.0
    * equal exactly like SQL ordering does (negating sim maps ±0.0 sims
    * onto ∓0.0 keys). The raw sim rides the non-compared payload slot,
    * so the emitted value is bit-identical to the window path's.
    *
    * Input: (query_id, neighbor_id, sim double) — extra columns are
    * dropped. Output: (query_id, neighbor_id, sim, rn int), rn = 1..k
    * densely in ranking order. */
  private[graft] def topKNeighbors(cand: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    val agg = udaf(new graft.functions.TypedAggregators.NeighborTopK(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong, Encoders.scalaDouble))
    cand
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .withColumn("__key",
        coalesce(nanvl(-col("sim"), lit(NaNKey)), lit(NullKey)) + lit(0.0))
      .groupBy("query_id")
      .agg(agg(col("__key"), col("neighbor_id"),
        coalesce(col("sim"), lit(0.0))).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("query_id"),
        col("__t._2").as("neighbor_id"),
        // a NullKey key can only come from the null-sim coalesce branch
        when(col("__t._1") === NullKey, lit(null).cast("double"))
          .otherwise(col("__t._3")).as("sim"),
        (col("__pos") + 1).cast("int").as("rn"))
  }

  /** The fold ranking tail: [[topKNeighbors]] emitted as
    * [[windowTopK]] emits it (query_id, neighbor_id, cos_sim, rn),
    * unsorted. */
  private[graft] def foldTopK(cand: DataFrame, k: Int): DataFrame =
    topKNeighbors(cand, k)
      .select(col("query_id"), col("neighbor_id"),
        stableRound(col("sim"), 4).as("cos_sim"), col("rn"))

  /** The approximate shortlist every re-ranked variant feeds
    * [[exactRerank]]: the `rerank` best candidates per query under
    * `order` (an approximate score's direction), ties to the smaller
    * neighbor_id, as (query_id, neighbor_id) — plus their rank `arn`
    * when `withRank`. */
  private def shortlist(scored: DataFrame, order: Column, rerank: Int,
                        withRank: Boolean = false): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(order, col("neighbor_id"))
    scored
      .withColumn("arn", row_number().over(w))
      .filter(col("arn") <= rerank)
      .select((Seq("query_id", "neighbor_id") ++ (if (withRank) Seq("arn") else Nil))
        .map(col): _*)
  }

  /** The query prefix (vec_id < nQueries) as (query_id, qe, `carried`…)
    * and the rest of the corpus as (neighbor_id, ce, `carried`…). */
  private def splitQueries(vectors: DataFrame, nQueries: Int,
                           carried: String*): (DataFrame, DataFrame) =
    (vectors.filter(col("vec_id") < nQueries)
      .select(Seq(col("vec_id").as("query_id"), col("embedding").as("qe")) ++
        carried.map(col): _*),
     vectors.filter(col("vec_id") >= nQueries)
      .select(Seq(col("vec_id").as("neighbor_id"), col("embedding").as("ce")) ++
        carried.map(col): _*))

  /** The query prefix collected to the driver as (vec_id, vector), in
    * vec_id order. */
  private def collectQueries(embeddings: DataFrame,
                             nQueries: Int): Array[(Long, Array[Float])] =
    queryVectors(embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect())

  /** Collected query vectors as a local (query_id, qe) relation. */
  private def queryFrame(spark: SparkSession,
                         queries: Array[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    queries.toSeq.toDF("query_id", "qe")
  }

  /** The deterministic training sample: the first `n` (vec_id,
    * embedding) rows in scrambled-id order. TakeOrdered: map-side
    * top-n per partition, never a full sort. */
  private def trainingSample(embeddings: DataFrame, n: Int): DataFrame =
    embeddings.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(n)

  /** A PQ trainer's sample vectors, checked to cover `ksub` distinct
    * seeds; `op` names the caller in the messages. */
  private def pqSample(embeddings: DataFrame, n: Int, ksub: Int,
                       op: String): Array[Array[Float]] = {
    val sample = trainingSample(embeddings, n).collect().map(_.getSeq[Float](1).toArray)
    require(sample.nonEmpty, s"$op: embeddings table is empty — nothing to train on")
    require(sample.length >= ksub,
      s"$op: training sample (${sample.length}) must cover ksub=$ksub distinct seeds — " +
        "duplicate seeds would leave permanently empty codebook cells")
    sample
  }

  /** Cosine of two driver-side vectors, accumulated in index order in
    * double, for the driver-side trainers. (mmrDiversify keeps its own:
    * it scores a zero-norm vector 0.0.) */
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** A PQ codec: the codebook (m × ksub centroids of subDim floats). */
  private final case class PqCodec(codebook: Array[Float], m: Int, ksub: Int, subDim: Int)

  /** Per-query PQ ADC rows (query_id, sub, cid, pdot, ndot, qnorm): the
    * query's partial dot with each codebook centroid, that centroid's
    * squared norm and the query norm — |queries|·m·ksub rows, built on
    * the driver and broadcast by the caller. */
  private def adcTable(spark: SparkSession, queries: Array[(Long, Array[Float])],
                       pq: PqCodec): DataFrame = {
    import spark.implicits._
    val PqCodec(codebook, m, ksub, subDim) = pq
    (for {
      (qid, qv) <- queries.toSeq
      qnorm = math.sqrt(qv.map(x => x.toDouble * x).sum)
      sub <- 0 until m
      cid <- 0 until ksub
    } yield {
      val base = (sub * ksub + cid) * subDim
      var pdot = 0.0; var ndot = 0.0
      var d = 0
      while (d < subDim) {
        pdot += qv(sub * subDim + d).toDouble * codebook(base + d)
        ndot += codebook(base + d).toDouble * codebook(base + d)
        d += 1
      }
      (qid, sub, cid, pdot, ndot, qnorm)
    }).toDF("query_id", "sub", "cid", "pdot", "ndot", "qnorm")
  }

  /** The elementwise mean `embedding` per `keys` group as float vector
    * `out`: posexplode, one mean per (keys, pos), reassembled in pos
    * order — two narrow groupBys. With `counted`, also the group's
    * member count `n`. */
  private def meanVectors(vectors: DataFrame, keys: Seq[String], out: String,
                          counted: Boolean = false): DataFrame = {
    val n = if (counted) Seq(count(lit(1)).as("n")) else Nil
    vectors
      .select(keys.map(col) :+ posexplode(col("embedding")).as(Seq("pos", "x")): _*)
      .groupBy((keys :+ "pos").map(col): _*).agg(avg("x").as("cx"), n: _*)
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        s => s.getField("cx").cast("float")).as(out),
        (if (counted) Seq(max("n").as("n")) else Nil): _*)
  }

  /** Lands `vectors` in their cells of the index at `path`: assigned
    * under `centroids`, as (vec_id, `code`, c_label) partitioned by
    * c_label under `dir`, through the batch protocol
    * ([[Sources.writeBatch]]). */
  private def landCells(vectors: DataFrame, centroids: DataFrame, path: String, dir: String,
                        code: Column, batchId: Option[Long], seeding: Boolean): Unit =
    Sources.writeBatch(assign(vectors, centroids).select(col("vec_id"), code, col("c_label")),
      s"$path/$dir", batchId, seeding, "c_label")

  /** Seeds a cell index: `centroids/`, the codec's `meta/` row when it
    * has one, and the cells. The writes are independent once the codec
    * is trained (the assignment consumes the in-memory centroid frame,
    * not the written file), so they overlap (graft.Par). */
  private def seedCells(corpus: DataFrame, centroids: DataFrame, path: String, dir: String,
                        code: Column, batchId: Option[Long],
                        meta: Option[DataFrame] = None): Unit =
    graft.Par.jobs(
      Seq[() => Unit](() => centroids.write.mode("overwrite").parquet(path + "/centroids")) ++
        meta.map(df => () => df.write.mode("overwrite").parquet(path + "/meta")) :+
        (() => landCells(corpus, centroids, path, dir, code, batchId, seeding = true)): _*)

  /** Appends a batch to a cell index under its SAVED centroids. */
  private def appendCells(batch: DataFrame, indexPath: String, dir: String, code: Column,
                          batchId: Option[Long]): Unit =
    landCells(batch, Sources.readParquet(batch.sparkSession, indexPath + "/centroids"),
      indexPath, dir, code, batchId, seeding = false)

  /** The probed cells of a saved index: `dir` read through the schema
    * memo and pruned to the `probed` cell directories, as (vec_id AS
    * neighbor_id, `payload`…). */
  private def probedCells(spark: SparkSession, indexPath: String, dir: String,
                          probed: Seq[Any], payload: Column*): DataFrame =
    Sources.readParquet(spark, s"$indexPath/$dir")
      .filter(col("c_label").isin(probed: _*))
      .select(col("vec_id").as("neighbor_id") +: payload: _*)

  /** The one row a codes index saves in `meta/`. */
  private def metaRow(spark: SparkSession, indexPath: String): Row =
    Sources.readParquet(spark, indexPath + "/meta").collect()(0)

  /** The saved SQ8 ranges, bound as per-call (encode, cosine)
    * functions; callers drop both once their plans are built. */
  private def savedSq8(spark: SparkSession, indexPath: String): (String, String) = {
    val m = metaRow(spark, indexPath)
    GraftFunctions.registerSq8(spark, m.getSeq[Float](0).toArray, m.getSeq[Float](1).toArray)
  }

  /** The saved PQ codec. */
  private def savedPq(spark: SparkSession, indexPath: String): PqCodec = {
    val m = metaRow(spark, indexPath)
    PqCodec(m.getSeq[Float](0).toArray, m.getInt(1), m.getInt(2), m.getInt(3))
  }

  /** a01_knn_brute — exact top-k cosine neighbours for each query
    * vector (vec_id < nQueries) among the rest. */
  def knnBrute(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val (q, c) = splitQueries(embeddings, nQueries)
    windowTopK(broadcast(q).crossJoin(c).withColumn("sim", expr("graft_cosine(qe, ce)")), k)
  }

  /** a01's shape with an EXPLICIT query relation — `queries` is
    * (query_id, embedding), `corpus` is (vec_id, embedding); same
    * broadcast-scan plan, same deterministic ordering. The composition
    * entry point for callers whose query ids are not a dense prefix
    * (a20's hybrid fusion, cross-table retrieval). */
  def knnFor(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val q = queries.select(col("query_id"), col("embedding").as("qe"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    windowTopK(broadcast(q).crossJoin(c).withColumn("sim", expr("graft_cosine(qe, ce)")), k)
  }

  /** a25_knn_filtered — attribute-filtered exact kNN, the vector-DB
    * table-stakes query ("nearest items WITHIN this category"):
    * each query retrieves top-k among corpus vectors sharing its
    * label, with PRE-FILTER semantics — the predicate prunes the
    * candidate set BEFORE ranking, so results are the true top-k of
    * the filtered corpus. (Post-filtering a global top-k, the naive
    * composition, silently returns fewer than k or nothing when the
    * filter is selective — the classic filtered-search bug.)
    *
    * Scale: the filter rides the JOIN KEY — queries broadcast and the
    * corpus hash-joins on the attribute, so a selective filter prunes
    * candidates at the join instead of scoring the whole corpus; the
    * scan reads only (vec_id, embedding, label). Same determinism as
    * a01 (rounded sims, neighbor-id tiebreak) → shared-protocol
    * oracle with the label equi-join. */
  def knnFiltered(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val (q, c) = splitQueries(embeddings, nQueries, "label")
    windowTopK(broadcast(q).join(c, "label").withColumn("sim", expr("graft_cosine(qe, ce)")),
      k, carried = Seq("label"))
  }

  /** a26_ivf_filtered_indexed — filtered search AT REST: the a15 probe
    * (queries routed to their cells on the driver, only probed cell
    * directories read) composed with an ATTRIBUTE SIDE TABLE — the
    * saved index stays attribute-free (vectors re-index when
    * embeddings change, attributes change on their own cadence; fusing
    * them would force index rewrites on every metadata edit), and the
    * pruned candidate slice joins `attrs` on vec_id BEFORE ranking, so
    * pre-filter semantics hold per probed cell. At 100 TB the
    * attribute join touches only the probed slice (≈ nprobe/√n of the
    * corpus), co-partitioned on vec_id. Spec pins ≡ live a25 under
    * full probing and the within-cell pre-filter under selective
    * probing. */
  def ivfKnnIndexedFiltered(queries: DataFrame, indexPath: String,
                            attrs: DataFrame, k: Int = 3,
                            nprobe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val (routed, probed, _) = routeToCells(queries, indexPath, nprobe)
    val q = routed.join(queries.select(col("vec_id").as("query_id"), col("label")), "query_id")
    val c = probedCells(spark, indexPath, "vectors", probed,
        col("embedding").as("ce"), col("c_label"))
      .join(attrs.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
    windowTopK(q.join(c, "c_label")
      .filter(col("label") === col("n_label") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", expr("graft_cosine(qe, ce)")), k, carried = Seq("label"))
  }

  /** a20_rrf_fusion — hybrid retrieval by Reciprocal Rank Fusion
    * (Cormack/Clarke/Buettcher 2009, the standard lexical+vector
    * fusion): each input run is a ranked (query_id, doc_id, rank)
    * relation; a document's fused score is Σ_runs 1/(kRrf + rank),
    * summed over the runs that retrieved it. Rank-space fusion needs
    * no score calibration between runs — BM25 logs and cosine floats
    * fuse without normalization, which is exactly why RRF is the
    * production default for hybrid search.
    *
    * Determinism: each contribution is one IEEE division of exact
    * integers; the per-document sum folds in RUN-INDEX ORDER (the t28
    * sorted-fold recipe), ties break by doc_id. Scale: the runs are
    * top-k relations — queries×k rows each — so the whole fusion is
    * post-retrieval small; one union, one partial agg, one window. */
  def rrfFuse(runs: Seq[DataFrame], kRrf: Int = 60, topK: Int = 10): DataFrame = {
    require(runs.nonEmpty, "rrfFuse: need at least one run")
    val tagged = runs.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank"), lit(i).as("run"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    tagged
      .withColumn("contrib", lit(1.0) / (lit(kRrf) + col("rank")))
      // one exchange for the (query, doc) fold AND the rank window
      // (the bm25Score trick): partitioning by query_id satisfies
      // both; the fused relation is post-retrieval small (queries x k
      // x runs), so map-side partial aggregation buys nothing here
      .repartition(col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_runs"),
        aggregate(array_sort(collect_list(struct(col("run"), col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib")).as("rrf_score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("n_runs"),
        stableRound(col("rrf_score"), 6).as("rrf_score"))
      .orderBy("query_id", "rank")
  }

  /** a21_rrf_fusion_indexed — a20's AT-REST twin (the d14/a15/t29
    * convention applied to HYBRID retrieval): the lexical run probes
    * the saved inverted index (`sink_text_index` via
    * bm25SearchIndexed — bucket-pruned, zero corpus text reads) and
    * the semantic run probes the saved ANN index (`sink_ann_index`
    * via ivfKnnIndexed — cell-directory-pruned, excludeSelf=false so
    * the self-hit anchors rank 1 exactly as a20's brute knnFor leg),
    * then the same rank-space RRF folds them. This is the deployment
    * shape: per-call cost is |queries|-proportional against both
    * indexes, where live a20 re-scores the whole corpus per call
    * (BM25 tokenize pass + brute-force scan). Fusion equality with
    * the live a20 holds whenever the ANN leg retrieves the same
    * top-k (spec-pinned under full-recall probes; at production
    * nprobe the ANN leg is the standard recall trade a11 measures). */
  def rrfFuseIndexed(queryTerms: DataFrame, queryVecs: DataFrame,
                     textIndexPath: String, annIndexPath: String,
                     kRun: Int = 10, kRrf: Int = 60, topK: Int = 10,
                     nprobe: Int = 2): DataFrame = {
    // the legs stay unsorted: rrfFuse repartitions by query_id, so a
    // leg's own global sort would cost a sampling job and an exchange
    val lex = graft.text.TextStats
      .bm25SearchIndexedUnsorted(queryTerms, textIndexPath, topK = kRun)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = ivfKnnIndexedUnsorted(
        queryVecs.select(col("query_id").as("vec_id"), col("embedding")),
        annIndexPath, k = kRun, nprobe = nprobe, excludeSelf = false)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rn").as("rank"))
    rrfFuse(Seq(lex, sem), kRrf, topK)
  }

  /** a10_range_search — radius search (the FAISS `range_search` API):
    * every corpus vector within cosine ≥ `tau` of each query vector,
    * not a fixed top-k. For a bounded query set the scalable plan IS
    * the broadcast scan: queries broadcast to every partition, one
    * narrow codegen pass over the corpus, the threshold filter prunes
    * before anything shuffles — the only exchange is the final
    * order-by. The threshold compares the RAW cosine double (bit-
    * identical across engines per the a01/a03 protocol), so the oracle
    * is exact. */
  def rangeSearch(embeddings: DataFrame, nQueries: Int = 10, tau: Double = 0.3): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val (q, c) = splitQueries(embeddings, nQueries)
    broadcast(q).crossJoin(c)
      .withColumn("sim", expr("graft_cosine(qe, ce)"))
      .filter(col("sim") >= tau)
      .select(col("query_id"), col("neighbor_id"),
        stableRound(col("sim"), 4).as("cos_sim"))
      .orderBy("query_id", "neighbor_id")
  }

  /** a02_knn_lsh — random-hyperplane LSH ANN, multi-table
    * OR-construction: `tables` independent hash tables of `planesPerTable`
    * sign bits each; a candidate is any vector sharing a bucket with the
    * query in ANY table, then exact cosine + top-k over candidates only.
    * Recall vs a01 is asserted in the spec; at 100 TB add tables (or
    * multi-probe) for recall — the scoring join stays bucket-local. */
  def knnLsh(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3,
             tables: Int = 4, planesPerTable: Int = 6, dim: Int = 64): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    // all per-table bucket ids from one codegen'd expression call
    // (planes derived from HyperplaneBuckets' seed-42 LCG, so
    // buckets are unchanged) — the previous per-plane graft_cosine
    // formulation carried tables*planesPerTable 64-float literals in
    // the plan text and paid for it in Janino compile time
    val withB = embeddings
      .select(col("vec_id"), col("embedding"),
        posexplode(expr(
          s"graft_hyperplane_buckets(embedding, 42L, $tables, $planesPerTable, $dim)"))
          .as(Seq("bt", "bb")))
    val (q, c) = splitQueries(withB, nQueries, "bt", "bb")
    val cand = q.join(c, Seq("bt", "bb"))
      .select(col("query_id"), col("qe"), col("neighbor_id"), col("ce"))
      .dropDuplicates("query_id", "neighbor_id")
    windowTopK(cand.withColumn("sim", expr("graft_cosine(qe, ce)")), k)
  }

  /** Per-label centroids: elementwise mean via posexplode + two narrow
    * groupBys — the SUPERVISED coarse-quantizer build (one cell per
    * label). This is the oracle twin: cell count is bound to label
    * cardinality, so it does NOT scale cells with the corpus — the
    * unlabeled production build is [[kmeansCentroids]]. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    meanVectors(embeddings, Seq("label"), "centroid")
      .select(col("label").as("c_label"), col("centroid"))

  /** Top-`nprobe` nearest-centroid assignment by cosine (broadcast
    * centroid table, one ranked window over vec x centroid scores).
    * nprobe=1 is storage assignment (each vector lives in one cell);
    * nprobe>1 is query-side multi-probe. */
  private[graft] def assignN(vectors: DataFrame, centroids: DataFrame,
                           nprobe: Int): DataFrame = {
    // MAP-SIDE top-nprobe: the centroid table folds to ONE array row,
    // broadcast-crossed into the vector scan, and each vector picks
    // its nprobe nearest cells inside the row via
    // transform + array_sort + slice — zero exchange, zero sort of
    // the |vectors| x k product (the previous window formulation
    // shuffled and sorted every (vector, centroid) pair by vec_id,
    // a full corpus-sized exchange on every index build/assign pass).
    // Ordering contract is the window's exactly: sim DESC with NaN
    // first (nanvl maps NaN to NaNKey), ties by c_label ASC; `sim` is
    // kept — callers select their own columns, and outlierScore needs
    // the winning centroid's score.
    val centArr = centroids
      .agg(collect_list(struct(col("c_label"), col("centroid"))).as("__cents"))
    val scored = transform(col("__cents"), c => {
      val sim = call_function("graft_cosine", col("embedding"),
        c.getField("centroid"))
      struct(nanvl(-sim, lit(NaNKey)).as("negsim"),
        c.getField("c_label").as("c_label"), sim.as("sim"))
    })
    val crossed = vectors.crossJoin(broadcast(centArr))
    val picked =
      if (nprobe == 1)
        // storage assignment is the corpus-hot path (every index
        // build/append, a03/a06, each distributed-Lloyd iteration):
        // argmin over the scored array is one O(k) fold — no sort,
        // no explode. The null filter replicates the crossJoin-with-
        // empty-centroids behavior (no rows).
        crossed.withColumn("__p", array_min(scored))
          .filter(col("__p").isNotNull)
      else
        crossed.withColumn("__picks", slice(array_sort(scored), 1, nprobe))
          .withColumn("__p", explode(col("__picks")))
          .drop("__picks")
    picked
      .drop("__cents")
      .withColumn("sim", col("__p.sim"))
      .withColumn("c_label", col("__p.c_label"))
      .drop("__p")
  }

  /** Nearest-centroid (single-cell) assignment. */
  private[graft] def assign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignN(vectors, centroids, 1)

  /** a03_centroid_assign — IVF-style coarse quantization: build one
    * centroid per label, then assign every vector to its nearest
    * centroid by cosine. */
  def centroidAssign(embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    assign(embeddings, labelCentroids(embeddings))
      .select(col("vec_id"), col("label"),
        col("c_label").as("assigned_label"),
        (col("label") === col("c_label")).as("is_match"))
      .orderBy("vec_id")
  }

  /** a06_outlier_score — embedding-space data-quality signal: each
    * vector's cosine to its assigned (nearest) centroid. Low scores
    * mark vectors far from every cluster — mislabeled or noise rows a
    * curation pipeline drops or re-routes. Same broadcast-assign shape
    * as a03; one scan, no vector-vector join. Defaults to the label
    * centroids (the oracle twin — "far from its own label's center" is
    * the mislabel signal); pass e.g. [[kmeansCentroids]] for an
    * unlabeled corpus. */
  def outlierScore(embeddings: DataFrame, simThreshold: Double = 0.5,
                   centroids: Option[DataFrame] = None): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    assign(embeddings, centroids.getOrElse(labelCentroids(embeddings)))
      .select(
        col("vec_id"),
        col("c_label").as("assigned_label"),
        stableRound(col("sim"), 4).as("centroid_sim"),
        (col("sim") < simThreshold).as("is_outlier"))
      .orderBy("vec_id")
  }

  /** a05_kmeans_build — unlabeled IVF coarse-quantizer build.
    *
    * Training is sample-bounded (the FAISS pattern): the model is only
    * k x dim parameters, so Lloyd iterations run over a deterministic
    * scrambled-id sample of `trainSample` vectors collected once to
    * the driver — sampling error shrinks as 1/sqrt(m) and is
    * independent of corpus size, so at 100 TB the training cost is
    * CONSTANT (one top-m scan) while the previous formulation paid
    * `iters` full broadcast-assign passes over every vector. The
    * corpus-sized work is exactly one distributed assign pass against
    * the broadcast centroid table. Seeding: the k sample vectors with
    * the smallest scrambled ids, labeled 1..k in vec_id order.
    * Driver-side math mirrors assign(): cosine argmax with smallest
    * c_label tiebreak, float-cast elementwise means. Returns
    * (vec_id, cell). */
  def kmeansAssign(embeddings: DataFrame, k: Int = 10, iters: Int = 3,
                   trainSample: Int = 4096): DataFrame =
    assign(embeddings.select(col("vec_id"), col("embedding")),
      kmeansCentroids(embeddings, k, iters, trainSample))
      .select(col("vec_id"), col("c_label").as("cell"))
      .orderBy("vec_id")

  /** The UNSUPERVISED coarse-quantizer build backing a05 (and the
    * default cells of a04/a07): sample-trained k-means centroid table
    * (c_label, centroid). k is capped at the sample size (duplicate
    * seeds would leave permanently empty cells). See [[kmeansAssign]]
    * for the scale rationale. */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 10, iters: Int = 3,
                      trainSample: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val sample: Array[(Long, Array[Double])] = trainingSample(embeddings, trainSample)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    require(sample.nonEmpty, "kmeansCentroids: embeddings table is empty — nothing to train on")
    val kEff = math.min(k, sample.length)
    val dim = sample.head._2.length
    // seeds = the kEff scrambled-first vectors (the sample is already in
    // scrambled order), re-labeled 1..kEff in vec_id order
    var centroids: Seq[(Int, Array[Double])] = sample.take(kEff)
      .sortBy(_._1).zipWithIndex
      .map { case ((_, v), i) => (i + 1, v) }.toSeq
    for (_ <- 1 to iters) {
      val sums = Array.fill(kEff + 1)(new Array[Double](dim))
      val cnts = new Array[Long](kEff + 1)
      sample.foreach { case (_, v) =>
        var best = 0; var bestSim = Double.NegativeInfinity
        centroids.foreach { case (lbl, c) =>
          val s = cosine(v, c)
          if (s > bestSim) { bestSim = s; best = lbl } // ascending labels: ties keep the smallest
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        cnts(best) += 1
      }
      centroids = centroids.collect { case (lbl, _) if cnts(lbl) > 0 =>
        // float cast matches the distributed centroid build's storage type
        (lbl, Array.tabulate(dim)(i => (sums(lbl)(i) / cnts(lbl)).toFloat.toDouble))
      }
    }
    centroids
      .map { case (lbl, c) => (lbl, c.map(_.toFloat)) }
      .toDF("c_label", "centroid")
  }

  /** Distributed-update Lloyd for LARGE cell counts: past what a
    * bounded driver sample can train (32 samples/centroid stops
    * fitting a sane collect around k ~ 4k), the centroid UPDATE moves
    * to the cluster — each iteration is one broadcast nearest-centroid
    * assign pass over the corpus plus one narrow per-(cell, pos) mean,
    * the classic distributed k-means. The driver only ever holds the
    * k x dim centroid table (collected and re-broadcast per iteration
    * so lineage stays flat — the a05 pattern); `iters` full corpus
    * passes is the honest cost of training a big quantizer. Seeds are
    * the k scrambled-first vectors, re-labeled 1..k in vec_id order
    * (the sampled build's determinism contract). */
  def kmeansCentroidsDistributed(embeddings: DataFrame, k: Int,
                                 iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    def collected(df: DataFrame): DataFrame =
      df.collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
        .toDF("c_label", "centroid")
    val seeds = trainingSample(embeddings, k)
      .select(
        row_number().over(Window.orderBy("vec_id")).as("c_label"),
        col("embedding").as("centroid"))
      .collect()
    require(seeds.nonEmpty,
      "kmeansCentroidsDistributed: embeddings table is empty — nothing to train on")
    var cents = seeds.map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
      .toDF("c_label", "centroid")
    for (_ <- 1 to iters) {
      val assigned = assign(embeddings.select(col("vec_id"), col("embedding")), cents)
      cents = collected(meanVectors(assigned, Seq("c_label"), "centroid"))
    }
    cents
  }

  /** Cell table for the IVF operators: an explicit centroid table wins;
    * otherwise train k-means with `cells` cells — 0 means the IVF norm
    * k ~ sqrt(n) (FAISS guidance), so the per-cell candidate volume
    * n/k and the probe fan-out both grow as sqrt(n) instead of one of
    * them going quadratic. The count is a parquet-metadata action, not
    * a scan. Builder choice by k: the sample-trained Lloyd (constant
    * cost, 32 samples/centroid, <=131k-vector collect) up to 4096
    * cells, the distributed-update Lloyd beyond — the driver never
    * holds more than the k x dim centroid table either way. */
  private def resolveCentroids(embeddings: DataFrame, centroids: Option[DataFrame],
                               cells: Int): DataFrame =
    // tracked: every IVF op derives TWO assignment passes from this
    // table (query side + corpus side); an uncached non-local centroid
    // build (labelCentroids — two corpus-wide aggregations) would run
    // once per side (the a07 before-plan shows the whole subtree
    // twice). The k-row table is cache-trivial; the sample-trained
    // k-means branches are already driver-local relations.
    graft.Caches.tracked(centroids.getOrElse {
      val k =
        if (cells > 0) cells
        else math.max(1, math.round(math.sqrt(embeddings.count().toDouble)).toInt)
      if (k <= 4096) kmeansCentroids(embeddings, k, trainSample = math.max(4096, 32 * k))
      else kmeansCentroidsDistributed(embeddings, k)
    })

  /** a04_ivf_knn — IVF search: every candidate vector is stored in its
    * single nearest-centroid cell; each query probes its `nprobe`
    * nearest cells and scores only inside them. At 100 TB the cell id
    * is the shuffle key — the all-pairs product never materializes.
    * nprobe trades recall for probed volume: a query sitting on a cell
    * boundary has true neighbours in its 2nd-nearest cell, which
    * nprobe=1 silently loses (the spec plants exactly that vector).
    *
    * The cell source is an argument: pass a centroid table (c_label,
    * centroid) — e.g. [[labelCentroids]] when a trusted label column
    * exists — or let the default train sample-bounded k-means with
    * ~sqrt(n) cells, the build that keeps the cell-local join
    * sub-quadratic on an unlabeled corpus of any size. */
  def ivfKnn(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3,
             nprobe: Int = 2, centroids: Option[DataFrame] = None,
             cells: Int = 0): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val cents = resolveCentroids(embeddings, centroids, cells)
    val q = assignN(embeddings.filter(col("vec_id") < nQueries), cents, nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("c_label"))
    val c = assign(embeddings.filter(col("vec_id") >= nQueries), cents)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("c_label"))
    // bounded aggregate fold instead of the rank window: the probed
    // cells' candidate volume never sorts or shuffles (topKNeighbors)
    foldTopK(q.join(c, "c_label").withColumn("sim", expr("graft_cosine(qe, ce)")), k)
      .orderBy("query_id", "rn")
  }

  /** a08_pq_knn — product-quantization ANN (the memory-bound scale
    * path): train m sub-codebooks of ksub centroids on a bounded
    * sample (per-subspace Lloyd on the driver, the a05 pattern),
    * encode every vector as m small codes with the codegen'd
    * `PqEncode` expression (one narrow pass, codebook shipped as a
    * codegen reference object), then answer queries by asymmetric
    * distance computation: each query's m x ksub partial-dot table is
    * a tiny broadcast; a candidate's approximate cosine is m table
    * lookups — expressed as posexplode(codes) -> broadcast join ->
    * partial-aggregated sum, so the corpus-side shuffle carries only
    * (neighbor_id, sub, cid) ints. The top `rerank` PQ candidates per
    * query are re-scored with exact graft_cosine. At dim=64/m=8 the
    * ADC scan reads 8 ints per vector instead of 64 floats; at 1e9+
    * vectors PQ codes are the only index that fits in executor
    * memory. Approximation quality is spec-bounded against a01. */
  /** Per-subspace Lloyd over a driver-side sample: deterministic seeds
    * (first ksub sample subvectors), lowest-cid tie break, empty cells
    * keep their previous centroid so the codebook stays ksub-sized.
    * Shared by the plain-PQ (a08) and residual-PQ trainers. */
  private def trainPqCodebook(sample: Array[Array[Float]], m: Int, ksub: Int,
                              subDim: Int, iters: Int): Array[Float] = {
    val codebook = new Array[Float](m * ksub * subDim)
    for (sub <- 0 until m) {
      var cents = Array.tabulate(ksub)(c =>
        Array.tabulate(subDim)(d => sample(c % sample.length)(sub * subDim + d).toDouble))
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksub)(new Array[Double](subDim))
        val cnts = new Array[Long](ksub)
        sample.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d2 = 0.0; var d = 0
            while (d < subDim) {
              val diff = v(sub * subDim + d).toDouble - cents(c)(d); d2 += diff * diff; d += 1
            }
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          var d = 0
          while (d < subDim) { sums(best)(d) += v(sub * subDim + d); d += 1 }
          cnts(best) += 1
        }
        cents = Array.tabulate(ksub)(c =>
          if (cnts(c) > 0) Array.tabulate(subDim)(d => (sums(c)(d) / cnts(c)).toFloat.toDouble)
          else cents(c))
      }
      for (c <- 0 until ksub; d <- 0 until subDim)
        codebook((sub * ksub + c) * subDim + d) = cents(c)(d).toFloat
    }
    codebook
  }

  def pqKnn(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3,
            m: Int = 8, ksub: Int = 16, iters: Int = 5,
            trainSample: Int = 2048, rerank: Int = 50, dim: Int = 64,
            cellPairs: Option[DataFrame] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val pq = PqCodec(trainPqCodebook(pqSample(embeddings, trainSample, ksub, "pqKnn"),
      m, ksub, subDim, iters), m, ksub, subDim)
    // the trained codebook can't transit SQL text (Column-from-
    // Expression constructors are sql-private), so bind it through a
    // per-call registry entry: the builder closure captures the
    // codebook, analysis is EAGER at DataFrame creation, and the
    // temporary name is dropped before returning — nothing leaks
    val fname = GraftFunctions.registerPqEncode(spark, pq.codebook, m, ksub, subDim)
    val cands = embeddings.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"),
        posexplode(expr(s"$fname(embedding)")).as(Seq("sub", "cid")))
    val queries = collectQueries(embeddings, nQueries)
    val tablesDf = adcTable(spark, queries, pq)
    // IVF-PQ seam: with a (query_id, neighbor_id) candidate table the
    // ADC scan touches only those pairs — the posting-list shape of a
    // cell-restricted index — instead of the full query x corpus product
    val scored = cellPairs match {
      case None => cands.join(broadcast(tablesDf), Seq("sub", "cid"))
      case Some(cp) => cands.join(cp, "neighbor_id")
        .join(broadcast(tablesDf), Seq("query_id", "sub", "cid"))
    }
    val approx = scored
      .groupBy("query_id", "neighbor_id")
      .agg((sum(col("pdot")) / (max(col("qnorm")) * sqrt(sum(col("ndot"))))).as("approx"))
    // exact re-rank of the PQ shortlist only
    val out = exactRerank(embeddings, shortlist(approx, col("approx").desc, rerank),
      queries, k)
    GraftFunctions.dropFunction(spark, fname) // every dependent plan is already analyzed
    out
  }

  /** Exact graft_cosine re-score of a (query_id, neighbor_id)
    * shortlist, top-k per query — the final pass every approximate
    * index variant shares. */
  private def exactRerank(embeddings: DataFrame, shortlist: DataFrame,
                          queries: Array[(Long, Array[Float])], k: Int): DataFrame =
    windowTopK(shortlist
      .join(broadcast(queryFrame(embeddings.sparkSession, queries)), "query_id")
      .join(embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")),
        "neighbor_id")
      .withColumn("sim", expr("graft_cosine(qe, ce)")), k)

  /** a17_sq8_knn — 8-bit scalar-quantization ANN (the FAISS SQ8
    * codec), completing the quantization family between brute floats
    * (a01) and product codes (a08): train per-dimension (lo, scale)
    * affine ranges in ONE partial-agg pass (dim-bounded collect),
    * encode every corpus vector to dim BYTES with the codegen'd
    * `Sq8Encode` — a 4× cut in scan/index residency with far less
    * distortion than PQ's m-code compression — then score queries
    * against codes with `Sq8Cosine` (dequantize-in-loop, no
    * intermediate float array per row), shortlist top `rerank`, and
    * re-score exactly. Same broadcast-queries/corpus-scan shape as
    * a01, so at 100 TB the win is exactly the byte/float ratio of the
    * scan; compose with IVF cells (a04) when candidate pruning is
    * also needed. Rows-only: quantized similarity is codec-specific —
    * the spec bounds recall vs a01 and pins encode/decode fidelity. */
  /** Per-dimension SQ8 affine ranges — one partial-agg pass,
    * dim-bounded collect. Shared by the flat (a17) and IVF (a18)
    * scalar-quantized variants. */
  private def trainSq8Ranges(embeddings: DataFrame,
                             dim: Int): (Array[Float], Array[Float]) = {
    val mm = embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(min("v").as("lo"), max("v").as("hi"))
      .collect()
    require(mm.nonEmpty, "sq8: embeddings table is empty — nothing to train on")
    val lo = new Array[Float](dim)
    val scale = new Array[Float](dim)
    mm.foreach { r =>
      val p = r.getInt(0)
      if (p < dim) {
        lo(p) = r.getFloat(1)
        scale(p) = (r.getFloat(2) - lo(p)) / 255f
      }
    }
    (lo, scale)
  }

  def sq8Knn(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3,
             rerank: Int = 50, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val (lo, scale) = trainSq8Ranges(embeddings, dim)
    val (encF, simF) = GraftFunctions.registerSq8(spark, lo, scale)
    val queries = collectQueries(embeddings, nQueries)
    val cands = embeddings.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), expr(s"$encF(embedding)").as("codes"))
    val approx = broadcast(queryFrame(spark, queries)).crossJoin(cands)
      .withColumn("approx", expr(s"$simF(qe, codes)"))
    val out = exactRerank(embeddings, shortlist(approx, col("approx").desc, rerank),
      queries, k)
    Seq(encF, simF).foreach(GraftFunctions.dropFunction(spark, _)) // plans already analyzed
    out
  }

  /** a27_bq_knn — 1-bit BINARY quantization ANN (the Faiss
    * "binary flat" / vector-DB "BQ" hot tier), the coarsest rung of
    * the quantization ladder below SQ8 (a17) and PQ (a08): every
    * corpus vector packs to ceil(dim/8) sign-pattern BYTES with the
    * codegen'd `graft_signbits` (32× residency cut at dim 64 — 8
    * bytes/vector), queries scan codes with `graft_hamming` (pure
    * XOR + POPCNT per word — the cheapest distance kernel any codec
    * admits), the `rerank` lowest-Hamming candidates per query
    * re-score exactly on floats. Sign-pattern Hamming is a monotone
    * angle proxy for zero-centered embeddings (Charikar's hyperplane
    * bound at the coordinate axes), so recall concentrates in the
    * shortlist and the exact re-rank restores true cosine order —
    * same broadcast-queries/corpus-scan shape as a01/a17 with the
    * scan bytes cut 32×, which at 100 TB is the difference between a
    * memory-resident prefilter and a disk-bound one. No training
    * pass at all (unlike SQ8's range scan or PQ's k-means): the
    * codec is data-independent, so codes are append-stable under any
    * corpus growth. The designed trade: 1-bit codes are the coarsest
    * in the ladder, so the default shortlist runs DEEPER than
    * SQ8/PQ's (rerank 100 vs 50) — the scan is 32× cheaper per
    * candidate, so a 2× deeper rerank still nets out far ahead.
    *
    * DEPTH GUIDANCE (measured, [[bqRecallCurve]]): the default
    * rerank=100 is a PREFILTER-economics setting, not a recall
    * guarantee — on unstructured dim-64 embeddings (the sign-bit
    * worst case) recall@10 is ~0.63 at depth 100 and needs ~400 for
    * ~0.92, while even a 400-deep BQ scan still reads 8× fewer bytes
    * than a 100-deep float scan. State the recall you need instead:
    * [[bqRerankForRecall]] calibrates the depth on the deployment's
    * own vectors, and both a27 and a28 take a `targetRecall` task
    * param that overrides `rerank` through that calibration.
    * Rows-only: Hamming shortlists are codec-native —
    * the spec pins toy-set equality to brute under a generous
    * shortlist and recall@3 on real embeddings. */
  def bqKnn(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3,
            rerank: Int = 100): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val queries = collectQueries(embeddings, nQueries)
    exactRerank(embeddings,
      shortlist(bqHamming(embeddings, nQueries, queries), col("ham").asc, rerank), queries, k)
  }

  /** The brute sign-bit scan of a27 and its recall curve: every
    * (query, corpus vector) pair with its code Hamming distance `ham`. */
  private def bqHamming(embeddings: DataFrame, nQueries: Int,
                        queries: Array[(Long, Array[Float])]): DataFrame = {
    val qDf = queryFrame(embeddings.sparkSession, queries)
      .withColumn("qcode", expr("graft_signbits(qe)"))
    val cands = embeddings.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), expr("graft_signbits(embedding)").as("code"))
    broadcast(qDf).crossJoin(cands)
      .withColumn("ham", expr("graft_hamming(qcode, code)"))
  }

  /** a18_ivf_sq8 — IVF cells over SQ8 codes (the FAISS
    * `IVF…,SQ8` factory shape), composing a04's candidate pruning
    * with a17's 4× residency cut: corpus vectors store dim BYTES
    * inside their nearest-centroid cell, queries probe `nprobe` cells
    * and score codes with the dequantize-in-loop `Sq8Cosine`, the top
    * `rerank` per query re-score exactly. The practical
    * billion-vector default when PQ's distortion is too coarse:
    * candidate volume is the probed cells' postings (never the
    * corpus), each posting read is a quarter the bytes of the float
    * cell scan, and recall folds the two documented regimes — cell
    * boundaries (a04's nprobe trade) and codec distortion (a17's,
    * near-lossless). Rows-only: spec pins equality to a04 under a
    * generous rerank and recall on planted clusters. */
  def ivfSq8Knn(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3,
                nprobe: Int = 2, rerank: Int = 50,
                centroids: Option[DataFrame] = None, cells: Int = 0,
                dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val cents = resolveCentroids(embeddings, centroids, cells)
    val (lo, scale) = trainSq8Ranges(embeddings, dim)
    val (encF, simF) = GraftFunctions.registerSq8(spark, lo, scale)
    val queries = collectQueries(embeddings, nQueries)
    val q = assignN(embeddings.filter(col("vec_id") < nQueries), cents, nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("c_label"))
    val c = assign(embeddings.filter(col("vec_id") >= nQueries), cents)
      .select(col("vec_id").as("neighbor_id"),
        expr(s"$encF(embedding)").as("codes"), col("c_label"))
    val approx = q.join(c, "c_label")
      .withColumn("approx", expr(s"$simF(qe, codes)"))
    val out = exactRerank(embeddings, shortlist(approx, col("approx").desc, rerank),
      queries, k)
    Seq(encF, simF).foreach(GraftFunctions.dropFunction(spark, _)) // plans already analyzed
    out
  }

  /** a09_ivf_pq — the composed billion-vector index shape: a05's
    * sample-trained k-means cells bound the CANDIDATE SET (each query
    * scans only its `nprobe` probed cells' posting lists) while a08's
    * product-quantization codes bound the BYTES PER CANDIDATE (m small
    * ints instead of dim floats), with the same exact top-`rerank`
    * re-score. This is the FAISS IVF-PQ layout: at 1e9+ vectors the
    * IVF part keeps the scan sub-linear and the PQ part keeps the
    * index in executor memory — either alone runs out of one or the
    * other. Recall vs brute is spec-bounded (AnnSpec).
    *
    * Codes are over the ORIGINAL vectors (FAISS's by_residual=false
    * variant): one shared codebook, one encode pass, per-query ADC
    * tables independent of the probed cell. The by_residual=true
    * variant quantizes v - centroid(cell) for finer codes at the cost
    * of per-(query, cell) ADC tables; with the exact re-rank pass on
    * top, the recall difference is absorbed by `rerank` here. */
  def ivfPqKnn(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3,
               nprobe: Int = 2, cells: Int = 0,
               m: Int = 8, ksub: Int = 16, iters: Int = 5,
               trainSample: Int = 2048, rerank: Int = 50, dim: Int = 64): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val cents = resolveCentroids(embeddings, None, cells)
    val qa = assignN(embeddings.filter(col("vec_id") < nQueries), cents, nprobe)
      .select(col("vec_id").as("query_id"), col("c_label"))
    val ca = assign(embeddings.filter(col("vec_id") >= nQueries), cents)
      .select(col("vec_id").as("neighbor_id"), col("c_label"))
    val cellPairs = qa.join(ca, "c_label")
      .select("query_id", "neighbor_id").distinct()
    pqKnn(embeddings, nQueries, k, m, ksub, iters, trainSample, rerank, dim,
      cellPairs = Some(cellPairs))
  }

  /** ivfPqKnnResidual — FAISS's by_residual=true IVF-PQ: the PQ
    * codebook is trained on CELL RESIDUALS v - centroid(cell(v)), so
    * the quantizer spends its ksub^m capacity on the (much tighter)
    * within-cell distribution instead of the whole space — finer codes
    * at the same bytes/vector. Approximate scoring reconstructs
    * dot(q, v) ~ dot(q, c) + Σ_sub dot(q_sub, cb[code]) and
    * ||v||² ~ ||c||² + 2 Σ_sub dot(c_sub, cb[code]) + Σ_sub ||cb[code]||²
    * from three broadcast ADC tables — per-query (nQueries·m·ksub),
    * per-cell (cells·m·ksub; the k-dependent cost the by_residual=false
    * variant avoids, broadcastable up to thousands of cells), and
    * per-(query, cell) offsets — then the shared exact re-rank runs.
    * The corpus-side shuffle still carries only (neighbor_id, cell,
    * sub, cid) ints; the residual subtraction is one zip_with in the
    * encode pass. Recall vs brute and vs the non-residual a09 is
    * spec-bounded. */
  def ivfPqKnnResidual(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3,
                       nprobe: Int = 2, cells: Int = 0,
                       m: Int = 8, ksub: Int = 16, iters: Int = 5,
                       trainSample: Int = 2048, rerank: Int = 50,
                       dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val cents = resolveCentroids(embeddings, None, cells)
    val centsArr: Array[(Int, Array[Float])] = cents.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val centsD = centsArr.map { case (lbl, c) => (lbl, c.map(_.toDouble)) }
    def nearestCell(v: Array[Float]): Int = {
      val vd = v.map(_.toDouble)
      centsD.maxBy { case (lbl, c) => (cosine(vd, c), -lbl) }._1
    }
    // residual training sample: same deterministic scramble as a08,
    // residual = v - centroid(nearest cell), driver-side
    val sample = pqSample(embeddings, trainSample, ksub, "ivfPqKnnResidual")
    val centById = centsArr.toMap
    val residuals = sample.map { v =>
      val c = centById(nearestCell(v))
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    val codebook = trainPqCodebook(residuals, m, ksub, subDim, iters)
    // assignments: queries multi-probe, corpus stores in its nearest
    // cell WITH the centroid kept for the residual encode
    val qa = assignN(embeddings.filter(col("vec_id") < nQueries), cents, nprobe)
      .select(col("vec_id").as("query_id"), col("c_label").as("cell"))
    val fname = GraftFunctions.registerPqEncode(spark, codebook, m, ksub, subDim)
    val cands = assign(embeddings.filter(col("vec_id") >= nQueries), cents)
      .join(broadcast(cents.select(col("c_label"), col("centroid"))), "c_label")
      .select(col("vec_id").as("neighbor_id"), col("c_label").as("cell"),
        posexplode(expr(
          s"$fname(zip_with(embedding, centroid, (a, b) -> a - b))"))
          .as(Seq("sub", "cid")))
    val queries = collectQueries(embeddings, nQueries)
    // ADC tables (driver-built, broadcast)
    def subDot(a: Array[Float], base: Int, sub: Int): Double = {
      var s = 0.0; var d = 0
      while (d < subDim) { s += a(sub * subDim + d).toDouble * codebook(base + d); d += 1 }
      s
    }
    val qAdc = (for {
      (qid, qv) <- queries.toSeq
      sub <- 0 until m; cid <- 0 until ksub
    } yield (qid, sub, cid, subDot(qv, (sub * ksub + cid) * subDim, sub)))
      .toDF("query_id", "sub", "cid", "pdot")
    val cellAdc = (for {
      (lbl, c) <- centsArr.toSeq
      sub <- 0 until m; cid <- 0 until ksub
    } yield {
      val base = (sub * ksub + cid) * subDim
      var rnorm = 0.0; var d = 0
      while (d < subDim) { rnorm += codebook(base + d).toDouble * codebook(base + d); d += 1 }
      (lbl, sub, cid, subDot(c, base, sub), rnorm)
    }).toDF("cell", "sub", "cid", "cdot", "rnorm")
    val qCell = (for {
      (qid, qv) <- queries.toSeq
      (lbl, c) <- centsArr.toSeq
    } yield {
      var qc = 0.0; var i = 0
      while (i < qv.length) { qc += qv(i).toDouble * c(i); i += 1 }
      val qnorm = math.sqrt(qv.map(x => x.toDouble * x).sum)
      val cnorm2 = c.map(x => x.toDouble * x).sum
      (qid, lbl, qc, qnorm, cnorm2)
    }).toDF("query_id", "cell", "qcdot", "qnorm", "cnorm2")
    val cellPairs = qa.join(cands.select(col("neighbor_id"), col("cell")).distinct(), "cell")
      .select("query_id", "neighbor_id", "cell").distinct()
    val approx = cands
      .join(cellPairs, Seq("neighbor_id", "cell"))
      .join(broadcast(qAdc), Seq("query_id", "sub", "cid"))
      .join(broadcast(cellAdc), Seq("cell", "sub", "cid"))
      .groupBy("query_id", "neighbor_id", "cell")
      .agg(sum(col("pdot")).as("spdot"), sum(col("cdot")).as("scdot"),
        sum(col("rnorm")).as("srnorm"))
      .join(broadcast(qCell), Seq("query_id", "cell"))
      .withColumn("approx",
        (col("qcdot") + col("spdot")) /
          (col("qnorm") * sqrt(col("cnorm2") + lit(2.0) * col("scdot") + col("srnorm"))))
    val out = exactRerank(embeddings, shortlist(approx, col("approx").desc, rerank),
      queries, k)
    GraftFunctions.dropFunction(spark, fname)
    out
  }

  /** a11_recall_eval — ANN index QUALITY REPORT as a first-class
    * operator: recall@k of an approximate index variant against the
    * a01 exact twin, per query and aggregated. The number every index
    * deployment tunes against (FAISS's eval loop) — runnable on the
    * deployment's OWN corpus and query sample, not just the test
    * fixture's. `variant` picks the shipped index (lsh/ivf/pq/ivfpq
    * with their inventory defaults); `approx` overrides it with any
    * (query_id, neighbor_id) result table — the seam the spec uses to
    * plant a known recall, and a deployment uses to score a custom
    * parameterization.
    *
    * Scale posture: both sides are top-k result tables (nQueries·k
    * rows — index output, not corpus data), so the intersection join
    * and the mean are driver-trivial; the cost is running the two
    * searches, each with its own documented scale shape. Rows-only op:
    * recall of a sampled-training index is not ANSI-SQL-expressible;
    * the measurement itself is spec-pinned with a planted recall. */
  /** Trained PCA basis: corpus size, dimension, mean vector, top-k
    * eigenvalues of the covariance, total variance (trace), and the
    * k×dim row-major component matrix (orthonormal rows, sign
    * canonicalized so each row's largest-|x| coordinate is positive). */
  private[graft] case class PcaModel(n: Long, dim: Int, mean: Array[Float],
                                     eigenvalues: Array[Double], trace: Double,
                                     comps: Array[Float])

  /** One corpus pass + a driver-side d×d eigensolve: the
    * [[graft.functions.TypedAggregators.MomentMatrix]] aggregator
    * folds count/sums/upper-tri second moments map-side (only the
    * O(d²) buffer crosses the exchange — vectors never shuffle), the
    * covariance assembles on the driver, and power iteration with
    * deflation extracts the top-k eigenpairs. d ≤ 1024 keeps the
    * buffer broadcast-tiny and the d³-ish driver solve trivial — the
    * honest contract for embedding dims, which are 64–4096 in
    * practice, never corpus-sized. Deterministic: fixed iteration
    * count, argmax-diagonal start vector, canonical sign. */
  private[graft] def pcaTrain(embeddings: DataFrame, k: Int): PcaModel = {
    val spark = embeddings.sparkSession
    val d = embeddings.select(size(col("embedding")).as("d")).head.getInt(0)
    val kEff = math.min(k, d)
    val mm = udaf(new graft.functions.TypedAggregators.MomentMatrix(d),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    val buf = embeddings.select(mm(col("embedding")).as("m"))
      .head.getSeq[Double](0).toArray
    val n = buf(0).toLong
    require(n > 0, "pcaTrain: embeddings table is empty — nothing to train on")
    val mean = Array.tabulate(d)(i => buf(1 + i) / n)
    // cov(i,j) = m_ij/n − mean_i·mean_j (population form)
    val cov = Array.ofDim[Double](d, d)
    var t = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = buf(t) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    val trace = (0 until d).map(p => math.max(cov(p)(p), 0.0)).sum
    def matvec(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(d) { r =>
        var s = 0.0; var c = 0
        while (c < d) { s += m(r)(c) * v(c); c += 1 }
        s
      }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var p = 0
      while (p < d) { s += a(p) * b(p); p += 1 }
      s
    }
    val eigs = new Array[Double](kEff)
    val comps = new Array[Float](kEff * d)
    val found = new Array[Array[Double]](kEff)
    val c = cov.map(_.clone())
    var e = 0
    while (e < kEff) {
      // strip any component along the already-found basis — power
      // iteration on an EXHAUSTED residual (c ≈ 0 past the data's
      // intrinsic rank) otherwise parks on the start vector, which may
      // overlap earlier components and break orthonormality
      def orth(v: Array[Double]): Array[Double] = {
        val w = v.clone()
        var f = 0
        while (f < e) {
          val pr = dot(w, found(f))
          var q = 0
          while (q < d) { w(q) -= pr * found(f)(q); q += 1 }
          f += 1
        }
        w
      }
      // deterministic start: the first basis vector with a usable
      // orthogonal remainder, preferring the deflated matrix's largest
      // diagonal (never orthogonal to the dominant remaining direction)
      var bestDiag = 0; var bd = Double.NegativeInfinity
      var p = 0
      while (p < d) { if (c(p)(p) > bd) { bd = c(p)(p); bestDiag = p }; p += 1 }
      var v: Array[Double] = null
      var cand = 0
      while (v == null && cand <= d) {
        val basis = if (cand == 0) bestDiag else cand - 1
        val w = orth(Array.tabulate(d)(q => if (q == basis) 1.0 else 0.0))
        val nw = math.sqrt(dot(w, w))
        if (nw > 0.1) v = w.map(_ / nw)
        cand += 1
      }
      require(v != null, s"pcaTrain: no start vector orthogonal to the first $e components")
      var it = 0
      while (it < 300) {
        val w = orth(matvec(c, v))
        val nw = math.sqrt(dot(w, w))
        if (nw > 1e-12) v = w.map(_ / nw)
        it += 1
      }
      val lambda = math.max(dot(v, matvec(c, v)), 0.0)
      // canonical sign: largest-|x| coordinate positive (first on ties)
      var big = 0; var bx = 0.0
      p = 0
      while (p < d) { if (math.abs(v(p)) > bx) { bx = math.abs(v(p)); big = p }; p += 1 }
      if (v(big) < 0) v = v.map(-_)
      eigs(e) = lambda
      found(e) = v
      p = 0
      while (p < d) { comps(e * d + p) = v(p).toFloat; p += 1 }
      // deflate: c ← c − λ v vᵀ
      var r = 0
      while (r < d) {
        var q = 0
        while (q < d) { c(r)(q) -= lambda * v(r) * v(q); q += 1 }
        r += 1
      }
      e += 1
    }
    PcaModel(n, d, mean.map(_.toFloat), eigs, trace, comps)
  }

  /** a22_pca_reduce — the variance report of a trained PCA basis (the
    * dimensionality-reduction pre-step of every large ANN deployment:
    * project 64–4096-dim embeddings to the k directions that carry
    * the variance, cut index residency k/d-fold, rerank survivors in
    * float — [[pcaProject]] is the projection, recallEval("pca")
    * measures what the cut costs). Per component: eigenvalue,
    * explained variance fraction and the cumulative fraction — the
    * curve that picks k. Rows-only: the moment sums fold in partition
    * order, so eigenvalues carry order-of-summation float noise;
    * AnnSpec pins planted-direction alignment, orthonormality and
    * monotone explained fractions. */
  def pcaReduce(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val m = pcaTrain(embeddings.select(col("vec_id"), col("embedding")), k)
    val denom = if (m.trace > 0) m.trace else 1.0
    var cum = 0.0
    m.eigenvalues.zipWithIndex.map { case (ev, j) =>
      cum += ev / denom
      (j + 1, math.floor(ev * 10000 + 0.5) / 10000,
        math.floor(ev / denom * 10000 + 0.5) / 10000,
        math.floor(cum * 10000 + 0.5) / 10000)
    }.toSeq.toDF("component", "eigenvalue", "explained_frac", "cum_frac")
      .orderBy("component")
  }

  /** Project the corpus onto a trained top-k PCA basis: (vec_id,
    * reduced array<float> of length k) via the compiled
    * [[graft.functions.PcaProject]] expression — one codegen loop per
    * row, mean and components as reference objects, no shuffle at all
    * (train is one aggregate pass; projection is map-side). The
    * reduced table is what a08/a15-style indexes ingest when d is the
    * residency bottleneck. */
  def pcaProject(embeddings: DataFrame, k: Int = 8,
                 model: Option[PcaModel] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val m = model.getOrElse(
      pcaTrain(embeddings.select(col("vec_id"), col("embedding")), k))
    val kEff = math.min(k, m.dim)
    val fname = GraftFunctions.registerPcaProject(spark, m.mean, m.comps, kEff)
    val out = embeddings.select(col("vec_id"),
      expr(s"$fname(embedding)").as("reduced"))
    GraftFunctions.dropFunction(spark, fname) // analysis was eager
    out
  }

  /** a23_pca_knn — PCA shortlist + exact rerank (the deployment chain
    * a22's variance curve picks k for, completing the codec family:
    * SQ8 cuts bytes-per-DIMENSION, PCA cuts DIMENSIONS — they
    * compose): corpus and queries project onto the trained top-pcaK
    * basis with the compiled [[graft.functions.PcaProject]]
    * expression (map-side, no shuffle beyond the one moment pass),
    * the reduced-space brute scan shortlists `rerank` candidates per
    * query at pcaK/dim of the float-scan bytes (8/64 = 8× fewer at
    * defaults), and survivors re-score exactly in float — a17's
    * shortlist+rerank shape with the PCA codec instead of SQ8.
    * Rows-only: centered-projection cosine is codec-specific; the
    * spec pins recall vs a01 on planted clusters and exact equality
    * at full rank. */
  def pcaKnn(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3,
             pcaK: Int = 8, rerank: Int = 50): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val model = pcaTrain(embeddings.select(col("vec_id"), col("embedding")), pcaK)
    val reduced = knnBrute(
      pcaProject(embeddings, pcaK, Some(model))
        .withColumnRenamed("reduced", "embedding"), nQueries, rerank)
      .select("query_id", "neighbor_id")
    exactRerank(embeddings, reduced, collectQueries(embeddings, nQueries), k)
  }

  def recallEval(embeddings: DataFrame, variant: String = "lsh",
                 nQueries: Int = 10, k: Int = 3,
                 approx: Option[DataFrame] = None): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val exact = knnBrute(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approxPairs = approx.getOrElse(variant match {
      case "lsh"   => knnLsh(embeddings, nQueries, k)
      case "ivf"   => ivfKnn(embeddings, nQueries, k)
      case "pq"    => pqKnn(embeddings, nQueries, k)
      case "ivfpq" => ivfPqKnn(embeddings, nQueries, k)
      case "sq8"   => sq8Knn(embeddings, nQueries, k)
      case "bq"    => bqKnn(embeddings, nQueries, k)
      case "pca"   =>
        // brute search in the REDUCED space: what the k-dim cut costs
        knnBrute(pcaProject(embeddings)
          .withColumnRenamed("reduced", "embedding"), nQueries, k)
      case other => throw new IllegalArgumentException(
        s"recallEval: unknown variant '$other' (lsh|ivf|pq|ivfpq|sq8|bq|pca)")
    }).select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approxPairs, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val perQuery = exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_at_k", stableRound(col("n_hits") / lit(k.toDouble), 4))
    val mean = perQuery.agg(stableRound(avg("recall_at_k"), 4).as("mean_recall"))
    perQuery.crossJoin(broadcast(mean)).orderBy("query_id")
  }

  /** Recall-vs-rerank-depth curve for the 1-bit BQ tier — the
    * measured trade behind a27/a28's "hot tier" claim, at whatever
    * dim the deployment's embeddings actually have: sign-bit Hamming
    * is only a PROXY for angle (Charikar's bound weakens as dim/
    * information shifts), so the honest tuning artifact is recall@k
    * as a function of how deep the exact re-rank digs into the
    * Hamming shortlist. ONE code scan at the deepest depth (the arn
    * rank column makes every shallower shortlist a filter, not a
    * re-scan), one exact-twin run, then each depth pays only its own
    * (nQueries·depth)-row re-rank — report-scale whatever the corpus.
    * Output: one row per depth (dim, rerank, mean_recall),
    * `mean_recall` under a11's definition (per-query hits/k,
    * averaged). Driver-side loop is over `depths` (a handful), never
    * data. */
  def bqRecallCurve(embeddings: DataFrame, nQueries: Int = 10, k: Int = 3,
                    depths: Seq[Int] = Seq(10, 25, 50, 100, 200)): DataFrame = {
    require(depths.nonEmpty, "bqRecallCurve: need at least one depth")
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val dim = embeddings.select(size(col("embedding")).as("d")).head.getInt(0)
    val exact = graft.Caches.tracked(
      knnBrute(embeddings, nQueries, k).select("query_id", "neighbor_id"))
    val nExact = exact.count().toDouble
    val queries = collectQueries(embeddings, nQueries)
    val shortAll = graft.Caches.tracked(shortlist(bqHamming(embeddings, nQueries, queries),
      col("ham").asc, depths.max, withRank = true))
    val rows = depths.distinct.sorted.map { dep =>
      val approx = exactRerank(embeddings,
        shortAll.filter(col("arn") <= dep).select("query_id", "neighbor_id"),
        queries, k).select("query_id", "neighbor_id")
      val hits = exact.join(approx, Seq("query_id", "neighbor_id")).count()
      (dim, dep, math.floor(hits / nExact * 1e4 + 0.5) / 1e4)
    }
    rows.toDF("dim", "rerank", "mean_recall").orderBy("rerank")
  }

  /** AUTO-DEPTH for the BQ tier: the smallest rerank depth whose
    * MEASURED recall@k reaches `targetRecall` on these embeddings —
    * the [[bqRecallCurve]] trade folded back into the operator
    * surface, so a27/a28 callers state the recall they need instead
    * of inheriting a silent default. Measured, never assumed: the
    * curve's shape is corpus-dependent (on unstructured dim-64
    * embeddings — the sign-bit worst case — recall@10 is ~0.63 at
    * depth 100 and needs ~400 for ~0.92; clustered real-text
    * embeddings concentrate far faster), so the only honest auto-depth
    * is one calibrated on the deployment's own vectors. Calibration
    * cost is one ground-truth brute pass + one code scan for
    * `nQueries` queries — run it on a corpus SAMPLE at 100 TB (the
    * codec is data-independent, so a sampled curve transfers) and
    * reuse the depth across probes. If even the deepest measured
    * depth misses the target, that depth is returned — the curve
    * itself (same depths) shows the gap; pick SQ8/PQ instead of
    * digging deeper than the ladder. Task-tunable as `targetRecall`
    * on a27/a28 (TaskRunner), which overrides `rerank`.
    *
    * `calibrateSample` (> 0) bounds the ground-truth pass: candidates
    * downsample to ~that many rows by a deterministic id-hash keep
    * test (the t27 multiplicative-hash discipline — replayable,
    * partition-local, no shuffle; the `nQueries` query vectors always
    * survive), and BOTH the exact twin and the Hamming shortlist run
    * on the same sample, so the sampled curve is self-consistent.
    * It transfers because the codec is data-independent and uniform
    * sampling preserves the corpus' local geometry distribution —
    * at 100 TB the calibration is a sample-sized job instead of a
    * brute kNN over every vector (the cost that made the unsampled
    * form a full corpus pass hiding inside a task parameter). 0
    * means calibrate on the full corpus (the exact form). */
  def bqRerankForRecall(embeddings: DataFrame, targetRecall: Double,
                        nQueries: Int = 10, k: Int = 3,
                        depths: Seq[Int] = Seq(25, 50, 100, 200, 400, 800),
                        calibrateSample: Long = 0L): Int = {
    require(targetRecall > 0 && targetRecall <= 1.0,
      s"bqRerankForRecall: targetRecall must be in (0,1], got $targetRecall")
    val base =
      if (calibrateSample <= 0L) embeddings
      else {
        val n = embeddings.count()
        if (n <= calibrateSample) embeddings
        else {
          val pKeep = calibrateSample.toDouble / n
          embeddings.filter(col("vec_id") < nQueries ||
            graft.Num.keeps(col("vec_id"), lit(pKeep)))
        }
      }
    val curve = bqRecallCurve(base, nQueries, k, depths).collect()
    curve.find(_.getDouble(2) >= targetRecall).map(_.getInt(1))
      .getOrElse(depths.max)
  }

  /** Calibrate the BQ re-rank depth and PERSIST it beside the saved
    * sign-bit index as a `calibration/` sidecar — deliberately NOT in
    * codec meta ([[writeAnnIndexBq]] has none, and that absence IS
    * the drift-free argument: the codec has nothing trained to
    * version). The depth is DEPLOYMENT state — "what this corpus
    * needs for that recall" — not codec state, so it lives apart and
    * the no-meta pin stays intact. One row per calibration:
    * (target_recall, rerank, n_queries, k, calibrate_sample).
    * Recurring probes reuse it via [[calibratedBqRerank]] /
    * [[ensureBqCalibration]], so the ground-truth pass is paid once
    * per (corpus, target), never per probe run. Returns the depth. */
  def calibrateAnnIndexBq(indexPath: String, embeddings: DataFrame,
                          targetRecall: Double, nQueries: Int = 10, k: Int = 3,
                          depths: Seq[Int] = Seq(25, 50, 100, 200, 400, 800),
                          calibrateSample: Long = 0L): Int = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val depth = bqRerankForRecall(embeddings, targetRecall, nQueries, k,
      depths, calibrateSample)
    // n_vectors records the corpus the curve was MEASURED on — the
    // staleness axis maybeRecalibrateBq's growth policy checks
    val n = embeddings.count()
    Seq((targetRecall, depth, nQueries, k, calibrateSample, n))
      .toDF("target_recall", "rerank", "n_queries", "k",
        "calibrate_sample", "n_vectors")
      .write.mode("overwrite").parquet(indexPath + "/calibration")
    depth
  }

  /** The persisted (depth, calibration-time corpus size) for
    * (targetRecall, k) on a saved BQ index — None on an uncalibrated
    * index, a different target, or a different k (recall@k curves
    * don't transfer across k). */
  private def calibrationRow(spark: org.apache.spark.sql.SparkSession,
                             indexPath: String, targetRecall: Double,
                             k: Int): Option[(Int, Long)] =
    if (!graft.Fs.exists(spark, indexPath + "/calibration")) None
    else Sources.readParquet(spark, indexPath + "/calibration")
      .filter(col("target_recall") === targetRecall && col("k") === k)
      .select("rerank", "n_vectors").collect().headOption
      .map(r => (r.getInt(0), r.getLong(1)))

  /** The persisted re-rank depth for (targetRecall, k) on a saved BQ
    * index, if one has been calibrated. */
  def calibratedBqRerank(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, targetRecall: Double,
                         k: Int = 3): Option[Int] =
    calibrationRow(spark, indexPath, targetRecall, k).map(_._1)

  /** Staleness policy for the persisted calibration — the third
    * maintenance axis, mirroring order decay (maybeRefreeze) and
    * layout decay (maybeOptimizeIndex): the recall-vs-depth curve is
    * CORPUS-dependent, so a depth calibrated at N vectors drifts as
    * appends move the corpus' composition, and a sidecar written once
    * would silently serve a stale depth forever. The honest cheap
    * trigger is growth: recalibrate when the current corpus has grown
    * (or shrunk) past `maxGrowth`× the calibration-time `n_vectors`;
    * within the band the persisted depth is reused with no
    * ground-truth work beyond one metadata-only count. Absent,
    * wrong-target, or wrong-k sidecars calibrate fresh. */
  def maybeRecalibrateBq(indexPath: String, embeddings: DataFrame,
                         targetRecall: Double, nQueries: Int = 10, k: Int = 3,
                         depths: Seq[Int] = Seq(25, 50, 100, 200, 400, 800),
                         calibrateSample: Long = 0L,
                         maxGrowth: Double = 2.0): Int = {
    require(maxGrowth >= 1.0,
      s"maybeRecalibrateBq: maxGrowth must be >= 1, got $maxGrowth")
    calibrationRow(embeddings.sparkSession, indexPath, targetRecall, k) match {
      case Some((depth, nCal)) =>
        val n = embeddings.count()
        if (n <= nCal * maxGrowth && nCal <= n * maxGrowth) depth
        else calibrateAnnIndexBq(indexPath, embeddings, targetRecall,
          nQueries, k, depths, calibrateSample)
      case None => calibrateAnnIndexBq(indexPath, embeddings, targetRecall,
        nQueries, k, depths, calibrateSample)
    }
  }

  /** The depth a28-style probes should run at: the PERSISTED
    * calibration when the index carries one for this (target, k) —
    * no recalibration, no ground-truth pass — else calibrate once
    * (sampled, see [[bqRerankForRecall]]) and persist for the next
    * caller. This is the TaskRunner binding's seam: a recurring task
    * with `targetRecall` set pays the calibration on its first run
    * against a durable index and reads one sidecar row thereafter. */
  def ensureBqCalibration(indexPath: String, embeddings: DataFrame,
                          targetRecall: Double, nQueries: Int = 10, k: Int = 3,
                          depths: Seq[Int] = Seq(25, 50, 100, 200, 400, 800),
                          calibrateSample: Long = 0L): Int =
    calibratedBqRerank(embeddings.sparkSession, indexPath, targetRecall, k)
      .getOrElse(calibrateAnnIndexBq(indexPath, embeddings, targetRecall,
        nQueries, k, depths, calibrateSample))

  /** a13_knn_classify — kNN label propagation (weak labeling): each
    * query vector takes the majority label of its top-k neighbours —
    * how a curation pipeline extends a small trusted taxonomy to an
    * unlabeled corpus (auto-labeling, domain routing, eval-set
    * expansion). Deterministic vote: count desc, then smallest label;
    * odd `k` minimizes ties. Defaults to the a01 exact search (the
    * oracle twin); pass `neighbors` — any (query_id, neighbor_id)
    * table, e.g. a04/a07's IVF output — to classify through an index
    * at corpus scale, where the vote join stays (nQueries·k)-sized
    * regardless of the search path. */
  def knnClassify(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                  neighbors: Option[DataFrame] = None): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val nbrs = neighbors.getOrElse(knnBrute(embeddings, nQueries, k))
      .select(col("query_id"), col("neighbor_id"))
    val votes = nbrs
      .join(embeddings.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
        "neighbor_id")
      .groupBy("query_id", "n_label").agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id").orderBy(col("votes").desc, col("n_label"))
    votes
      .withColumn("prn", row_number().over(w))
      .filter(col("prn") === 1)
      .join(embeddings.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        "query_id")
      .select(col("query_id"), col("n_label").as("pred_label"), col("votes"),
        col("true_label"), (col("n_label") === col("true_label")).as("is_match"))
      .orderBy("query_id")
  }

  /** a16_mmr_diversify — diverse top-k selection by Maximal Marginal
    * Relevance (Carbonell & Goldstein, SIGIR 1998): from each query's
    * candidate pool, greedily pick `k` results scoring
    * mmr(d) = λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s) — the
    * relevance/redundancy trade every retrieval-dedup and
    * diverse-exemplar-selection pass makes (d16's far_centroid
    * heuristic at selection grain; λ=1 degenerates to plain top-k).
    *
    * Scale posture: candidates come from any index output carrying
    * (query_id, neighbor_id, cos_sim) — a01 exact by default, a04/a07
    * at corpus scale (the a13 composition contract). Only each query's
    * ≤poolK candidate VECTORS group together (poolK·dim floats per
    * task), and the greedy loop is O(k·poolK·dim) inside that task —
    * mapGroups is the honest tool (preference (d): bounded per-group
    * imperative selection no relational operator expresses); queries
    * parallelize across the cluster. Deterministic: the pool iterates
    * in neighbor_id order, exact score ties keep the smaller id. */
  def mmrDiversify(embeddings: DataFrame, nQueries: Int = 10, poolK: Int = 10,
                   k: Int = 5, lambda: Double = 0.7,
                   candidates: Option[DataFrame] = None): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val cands = candidates.getOrElse(knnBrute(embeddings, nQueries, poolK))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim").cast("double").as("rel"))
    val pool = cands
      .join(embeddings.select(col("vec_id").as("neighbor_id"), col("embedding")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("embedding"))
      .as[(Long, Long, Double, Array[Float])]
    val pickedRows = pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val p = it.toArray.sortBy(_._2) // neighbor_id order → deterministic
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i); i += 1
        }
        if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val picked = new Array[Boolean](p.length)
      // max sim to the selected set; -inf start so a NEGATIVE max
      // (anti-correlated candidate) rewards diversity as MMR defines —
      // a 0.0 floor would clamp the penalty term. rank 1 never reads
      // it, and every unpicked slot is updated right after that pick.
      val maxSim = Array.fill(p.length)(Double.NegativeInfinity)
      val out = Seq.newBuilder[(Long, Long, Int, Double, Double)]
      var rank = 1
      val kEff = math.min(k, p.length)
      while (rank <= kEff) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < p.length) {
          if (!picked(i)) {
            val pen = if (rank == 1) 0.0 else maxSim(i)
            val s = lambda * p(i)._3 - (1.0 - lambda) * pen
            if (s > bestScore) { bestScore = s; best = i } // ties keep the earlier (smaller) id
          }
          i += 1
        }
        picked(best) = true
        out += ((qid, p(best)._2, rank, p(best)._3, bestScore))
        var j = 0
        while (j < p.length) {
          if (!picked(j)) maxSim(j) = math.max(maxSim(j), cos(p(j)._4, p(best)._4))
          j += 1
        }
        rank += 1
      }
      out.result().iterator
    }.toDF("query_id", "neighbor_id", "mmr_rank", "relevance", "mmr_score")
    pickedRows
      .select(col("query_id"), col("neighbor_id"), col("mmr_rank"),
        stableRound(col("relevance"), 4).as("relevance"),
        stableRound(col("mmr_score"), 4).as("mmr_score"))
      .orderBy("query_id", "mmr_rank")
  }

  /** a07_knn_join — full kNN SELF-join: every vector in the corpus
    * gets its top-k neighbours among all the others, via the same IVF
    * index as a04 (storage assignment = nearest cell, query side
    * multi-probes its `nprobe` nearest cells). This is the batch op
    * that builds a corpus-wide similarity graph (semantic dedup,
    * curation, retrieval eval). At 100 TB the cell id is the only
    * join key — candidate volume is Σ|cell|·|probed cells|, never n²,
    * and only (vec_id, cell) assignments shuffle; a pair can meet at
    * most once because storage assignment is unique.
    *
    * Same cell-source contract as [[ivfKnn]]: explicit centroid table,
    * or the default sample-trained k-means with ~sqrt(n) cells so the
    * Σ|cell|² candidate volume stays ~n·sqrt(n) as the corpus grows. */
  def knnJoin(embeddings: DataFrame, k: Int = 3, nprobe: Int = 2,
              centroids: Option[DataFrame] = None, cells: Int = 0): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val cents = resolveCentroids(embeddings, centroids, cells)
    val q = assignN(embeddings, cents, nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("c_label"))
    val c = assign(embeddings, cents)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("c_label"))
    // top-k via the bounded aggregate fold, not a window: the
    // cell-joined candidate product (Σ|cell|·nprobe rows — the op's
    // dominant volume) is never sorted, and only k rows per (query,
    // map partition) reach the exchange. See [[topKNeighbors]].
    foldTopK(q.join(c, "c_label")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", expr("graft_cosine(qe, ce)")), k)
      .orderBy("query_id", "rn")
  }

  /** Combined assignment table behind [[ivfAppend]]: every existing
    * and batch vector's cell under the EXISTING quantizer, tagged by
    * side — the posting-list update an incremental ingest materializes
    * (the retrieval ops consume it implicitly by passing the same
    * centroid table). */
  private[ann] def ivfAppendAssign(existing: DataFrame, batch: DataFrame,
                                   cents: DataFrame): DataFrame =
    assign(existing.select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"), col("c_label").as("cell"), lit(false).as("is_new"))
      .unionByName(
        assign(batch.select(col("vec_id"), col("embedding")), cents)
          .select(col("vec_id"), col("c_label").as("cell"), lit(true).as("is_new")))

  /** a12_ivf_append — INCREMENTAL ANN maintenance, the a-side twin of
    * d11's incremental dedup: a new embedding batch is assigned to the
    * EXISTING centroid table (no retrain — one broadcast-assign pass
    * over the batch), and the report is per-cell growth with a
    * `needs_split` flag for cells past `balanceFactor` × the mean
    * post-append occupancy — the signal that schedules a re-split /
    * re-train before skewed posting lists degrade query latency. This
    * is how a nightly crawl lands against a trained billion-vector
    * index: quantizers retrain on operator cadence, not per batch.
    *
    * Scale posture: the batch-side work is |batch|-proportional (the
    * d11 property); the existing-side occupancy is one partial-agg
    * count over (vec_id, cell) assignments — in a real deployment that
    * table is the stored index metadata, read not recomputed (here it
    * is derived because nothing persists between test runs; the
    * derivation is itself one broadcast-assign scan). Retrieval
    * equivalence — appended vectors found by a04/a07 through the same
    * centroid table at full-rebuild recall — is spec-asserted.
    * Rows-only op: sample-trained k-means cells are not
    * ANSI-SQL-expressible. */
  def ivfAppend(existing: DataFrame, batch: DataFrame,
                centroids: Option[DataFrame] = None, cells: Int = 0,
                balanceFactor: Double = 2.0): DataFrame = {
    GraftFunctions.register(existing.sparkSession)
    val cents = resolveCentroids(existing, centroids, cells)
    val assigned = ivfAppendAssign(existing, batch, cents)
    val stats = assigned
      .groupBy("cell")
      .agg(count(when(!col("is_new"), 1)).as("n_existing"),
        count(when(col("is_new"), 1)).as("n_new"))
      .withColumn("n_total", col("n_existing") + col("n_new"))
    val mean = stats.agg(avg("n_total").as("mean_total"))
    stats.crossJoin(broadcast(mean))
      .select(col("cell"), col("n_existing"), col("n_new"), col("n_total"),
        stableRound(col("n_total") / col("mean_total"), 4).as("load_ratio"),
        (col("n_total") > col("mean_total") * balanceFactor).as("needs_split"))
      .orderBy("cell")
  }

  /** a14_cell_split — the RE-SPLIT step that closes [[ivfAppend]]'s
    * loop (what d12 is to d11): cells past `balanceFactor` × the mean
    * occupancy — the ones a12 flags `needs_split` — are each split
    * in two by a 2-means over their own members, and the result is a
    * VALID UPDATED QUANTIZER: an output centroid table any retrieval
    * op (a04/a07) consumes directly, hot posting lists halved, every
    * other cell's centroid (and therefore every other posting list)
    * untouched. This is the maintenance op that keeps query latency
    * flat as an incrementally-ingested index drifts away from its
    * original training distribution — re-split on operator cadence
    * instead of retraining the whole quantizer.
    *
    * Determinism & seeding: per flagged cell, seed 1 is the member
    * with the smallest vec_id, seed 2 the member least similar to it
    * (cosine, vec_id tiebreak) — the farthest-pair heuristic that
    * makes one Lloyd round already separate merged clusters. Sub-label
    * 1 keeps the parent's c_label; sub-label 2 gets max(c_label)+rank,
    * so labels stay unique without renumbering untouched cells. A
    * flagged cell whose members collapse onto one sub-centroid (e.g.
    * all-identical vectors) falls back to unsplit rather than emitting
    * an empty cell.
    *
    * Scale posture: the flagged set is bounded by the quantizer size
    * (k cells), never the corpus — only (cell, sub, centroid) tables
    * of ≤ 2·|flagged| rows ever reach the driver (the same contract as
    * the k × dim centroid table itself). Each Lloyd round over the
    * flagged members is one broadcast join + one narrow per-(cell,
    * sub, pos) mean with full partial aggregation; unflagged cells'
    * members are filtered out before any iteration touches them, so
    * the per-round cost is Σ|flagged cell|, the d11 batch-proportional
    * property. Rows-only op: k-means cells are not ANSI-SQL-
    * expressible; the split/recall properties are spec-asserted. */
  def cellSplit(embeddings: DataFrame, centroids: Option[DataFrame] = None,
                cells: Int = 0, balanceFactor: Double = 2.0,
                iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val cents = graft.Caches.tracked(resolveCentroids(embeddings, centroids, cells))
    val assigned = graft.Caches.tracked(
      assign(embeddings.select(col("vec_id"), col("embedding")), cents)
        .select(col("vec_id"), col("embedding"), col("c_label").as("cell")))
    val stats = graft.Caches.tracked(
      assigned.groupBy("cell").agg(count(lit(1)).as("n_members")))
    // ONE collect of the k-row stats table serves the mean and the
    // flag scan (two separate jobs before — the k x 8-byte rows are
    // driver-trivial at any corpus size since k ~ sqrt(n))
    val statRows = stats.select(col("cell"), col("n_members")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val meanLoad =
      if (statRows.isEmpty) 0.0
      else statRows.map(_._2).sum.toDouble / statRows.length
    val flagged: Array[Int] = statRows
      .filter { case (_, n) => n > meanLoad * balanceFactor && n >= 2 }
      .map(_._1).sorted
    val unsplitOf = (keep: DataFrame) => keep
      .join(stats, keep("c_label") === stats("cell"), "left")
      .select(keep("c_label"), keep("c_label").as("parent_cell"),
        lit(false).as("was_split"),
        coalesce(col("n_members"), lit(0L)).as("n_members"), col("centroid"))
    if (flagged.isEmpty) unsplitOf(cents).orderBy("c_label")
    else {
      val members = graft.Caches.tracked(assigned.filter(col("cell").isin(flagged.map(Integer.valueOf): _*)))
      // farthest-pair seeds per flagged cell
      val wCell = Window.partitionBy("cell").orderBy("vec_id")
      val seed1 = members.withColumn("rn", row_number().over(wCell))
        .filter(col("rn") === 1).select(col("cell"), col("embedding").as("s1e"))
      val wFar = Window.partitionBy("cell").orderBy(col("s1sim").asc, col("vec_id"))
      val seed2 = members.join(broadcast(seed1), "cell")
        .withColumn("s1sim", expr("graft_cosine(embedding, s1e)"))
        .withColumn("rn", row_number().over(wFar))
        .filter(col("rn") === 1).select(col("cell"), col("embedding").as("s2e"))
      // distributed-update 2-means, all flagged cells in one joint pass
      // per round; the 2·|flagged|-row sub-centroid table is collected
      // and re-broadcast per iteration so lineage stays flat (the
      // kmeansCentroidsDistributed pattern). Each round's aggregation
      // yields the new means AND the member count of the assignment
      // that produced them, so no extra final assign pass runs — the
      // reported n_members is the posting-list size consistent with
      // the shipped centroid.
      val wBest = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("sub"))
      def assignSubs(subs: DataFrame): DataFrame = members
        .join(broadcast(subs), "cell")
        .withColumn("sim", expr("graft_cosine(embedding, scent)"))
        .withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
      // (cell, sub, scent, n) rows held on the driver between rounds
      var subs: Array[(Int, Int, Array[Float], Long)] =
        seed1.select(col("cell"), lit(1).as("sub"), col("s1e").as("scent"))
          .unionByName(seed2.select(col("cell"), lit(2).as("sub"), col("s2e").as("scent")))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray, 0L))
      for (_ <- 1 to iters) {
        val subsDf = subs.toSeq.map(t => (t._1, t._2, t._3)).toDF("cell", "sub", "scent")
        subs = meanVectors(assignSubs(subsDf), Seq("cell", "sub"), "scent", counted = true)
          .collect().map(r =>
            (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray, r.getLong(3)))
      }
      val finalCounts: Map[(Int, Int), Long] =
        subs.map(t => (t._1, t._2) -> t._4).toMap
      val subCent: Map[(Int, Int), Array[Float]] =
        subs.map(t => (t._1, t._2) -> t._3).toMap
      // a split is real only if BOTH subs kept members in the round
      // that produced the final means; collapsed cells stay as they were
      val splitParents = flagged.filter(c =>
        finalCounts.getOrElse((c, 1), 0L) > 0 && finalCounts.getOrElse((c, 2), 0L) > 0)
      val maxLabel = cents.agg(max("c_label")).first().getInt(0)
      val splitRows = splitParents.zipWithIndex.flatMap { case (c, i) =>
        Seq((c, c, true, finalCounts((c, 1)), subCent((c, 1))),
          (maxLabel + i + 1, c, true, finalCounts((c, 2)), subCent((c, 2))))
      }.toSeq.toDF("c_label", "parent_cell", "was_split", "n_members", "centroid")
      val keep = cents.filter(!col("c_label").isin(splitParents.map(Integer.valueOf): _*))
      unsplitOf(keep)
        .unionByName(splitRows.select("c_label", "parent_cell", "was_split", "n_members", "centroid"))
        .orderBy("c_label")
    }
  }

  /** sink_ann_index — PERSIST the IVF index as parquet posting lists
    * (what FAISS writes to disk, in table form): the centroid table
    * under `centroids/` and every corpus vector stored IN ITS CELL —
    * `vectors/` partitioned by c_label. Build cost (k-means train +
    * one assignment pass) is paid once; every subsequent query batch
    * probes via [[ivfKnnIndexed]] reading ONLY its probed cells'
    * directories. This is the missing half of the index lifecycle the
    * in-memory path re-derives per call: a04/a07 re-assign the whole
    * corpus on every invocation (map-only but n·k·d flops); the saved
    * layout makes assignment a property of the data at rest. Append
    * without retrain = assign the new batch under the saved quantizer
    * and parquet-append its cells (the a12 pattern); re-split hot
    * cells with a14 then rewrite only the split cells' directories. */
  def writeAnnIndex(corpus: DataFrame, centroids: DataFrame, path: String,
                    batchId: Option[Long] = None): Unit = {
    GraftFunctions.register(corpus.sparkSession)
    seedCells(corpus, centroids, path, "vectors", col("embedding"), batchId)
  }

  /** Append a batch to a saved ANN index WITHOUT retraining (a12's
    * contract, at rest): new vectors assign under the SAVED quantizer
    * — batch-proportional, one broadcast of the centroid table — and
    * parquet-append into their cells' directories. Quantization drift
    * is the documented price (a12's needs_split flags + a14's
    * re-split are the repair loop; only split directories rewrite).
    * With `batchId` (the streaming ingest path, s30) the batch lands
    * as a dynamic overwrite of its own `batch_id` partitions —
    * replay-idempotent — and requires a batch-seeded index. */
  def appendAnnIndex(batch: DataFrame, indexPath: String,
                     batchId: Option[Long] = None): Unit = {
    GraftFunctions.register(batch.sparkSession)
    appendCells(batch, indexPath, "vectors", col("embedding"), batchId)
  }

  /** Per-cell occupancy + needs_split over a SAVED index — a12's
    * growth report read off the layout itself: c_label (and batch_id)
    * are partition columns, so the count scan reads directory
    * metadata, not vector payloads. The streaming ingest loop (s30)
    * emits this per trigger so re-split scheduling (a14) still fires
    * without the in-memory ivfAppend derivation. */
  def annIndexGrowthStats(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, balanceFactor: Double = 2.0,
                          cellsDir: String = "vectors"): DataFrame = {
    val occ = spark.read.parquet(indexPath + "/" + cellsDir)
      .groupBy("c_label").agg(count(lit(1)).as("n_total"))
    val mean = occ.agg(avg("n_total").as("mean_total"))
    occ.crossJoin(broadcast(mean))
      .select(col("c_label").as("cell"), col("n_total"),
        stableRound(col("n_total") / col("mean_total"), 4).as("load_ratio"),
        (col("n_total") > col("mean_total") * balanceFactor).as("needs_split"))
      .orderBy("cell")
  }

  /** a04's search against the SAVED index: queries assign fresh under
    * the saved centroid table (|queries|·k flops — queries are few by
    * definition), the probed-cell set (≤ |queries|·nprobe labels, a
    * bounded driver list) prunes the vectors read to those cell
    * DIRECTORIES statically, and scoring runs only inside them.
    * Result-identical to `ivfKnn` under the same centroids
    * (spec-pinned, along with the partition pruning itself): the
    * probe never touches corpus cells nobody probed — at 100 TB with
    * sqrt(n) cells and nprobe=2, that is ~2·|queries|/sqrt(n) of the
    * corpus instead of all of it.
    *
    * Serving path: the query batch is collected once and routed to
    * its cells on the driver ([[routeToCells]]) against the centroid
    * rows memoized on `centroids/`'s listing (appends never rewrite
    * it), so the probe runs no assignment or probed-cell job before
    * its one scan. The batch and its cell assignment are held on the
    * driver and inlined in the plan: a probe batch is bounded by its
    * caller (a15's query sample, perfbench's batches, one serving
    * micro-batch). */
  def ivfKnnIndexed(queries: DataFrame, indexPath: String,
                    k: Int = 3, nprobe: Int = 2,
                    excludeSelf: Boolean = true): DataFrame =
    ivfKnnIndexedUnsorted(queries, indexPath, k, nprobe, excludeSelf)
      .orderBy("query_id", "rn")

  /** [[ivfKnnIndexed]] without its final sort (a21 fuses it unsorted). */
  private[graft] def ivfKnnIndexedUnsorted(queries: DataFrame, indexPath: String,
                                           k: Int, nprobe: Int,
                                           excludeSelf: Boolean): DataFrame = {
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val (q, probed, _) = routeToCells(queries, indexPath, nprobe)
    val c = probedCells(spark, indexPath, "vectors", probed,
      col("embedding").as("ce"), col("c_label"))
    val cand = q.join(c, "c_label")
      // excludeSelf=false is the knnFor convention (a20/a21: query docs
      // ARE corpus docs, the self-hit is the rank-1 anchor both runs
      // share); the default keeps a15's self-excluding search
      .filter(!lit(excludeSelf) || col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", expr("graft_cosine(qe, ce)"))
    // bounded aggregate fold instead of the rank window (topKNeighbors)
    foldTopK(cand, k)
  }

  /** A saved index's centroid table held on the driver: the `c_label`
    * field and, per cell, its label (as collected and in Catalyst form)
    * and its centroid as `graft_cosine` reads it. */
  private final case class CentroidRows(label: StructField,
                                        cells: Array[(Any, Any, ArrayData)])

  /** Per `centroids/` directory, valid while its listing is unchanged. */
  private val centroidRows = new Sources.PathMemo[CentroidRows]

  /** Column `i` of each row as the unsafe array a plan hands
    * `graft_cosine` (a null element reads there, and so here, as 0.0f),
    * or null for a null vector. */
  private def kernelVectors(rows: Array[Row], schema: StructType, i: Int): Array[ArrayData] = {
    require(schema(i).dataType match { case ArrayType(FloatType, _) => true; case _ => false },
      s"graft_cosine reads float vectors; ${schema(i).name} is ${schema(i).dataType.simpleString}")
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val toUnsafe = UnsafeProjection.create(schema)
    rows.map { r =>
      val u = toUnsafe(toCatalyst(r).asInstanceOf[InternalRow])
      if (u.isNullAt(i)) null else u.getArray(i).copy()
    }
  }

  /** Driver-side query routing for every at-rest IVF probe
    * ([[ivfKnnIndexed]], [[ivfKnnIndexedFiltered]],
    * [[ivfSq8KnnIndexed]], [[ivfBqKnnIndexed]], [[ivfPqKnnIndexed]]):
    * collects the batch and assigns each query to its `nprobe` cells
    * under `assignN`'s contract exactly — the same cosine kernel
    * (`CosineSimilarity.of`, null for a null vector), NaN scored as
    * [[NaNKey]] after negation, and Spark's own struct ordering over
    * (negated sim, c_label, sim), so nulls come first, ±0.0 compare
    * equal and ties go to the lower c_label. Each query keeps its best
    * `nprobe` cells in a bounded heap; a cell whose negated sim is
    * already above the heap's worst is dropped by one double compare.
    * Returns the (query_id, qe, c_label) relation as a local relation,
    * the probed labels, and the (vec_id, embedding) rows it collected
    * (a24 and a28 need the query vectors on the driver too). */
  private[graft] def routeToCells(queries: DataFrame, indexPath: String,
                                  nprobe: Int): (DataFrame, Seq[Any], Array[Row]) = {
    require(nprobe >= 0, s"nprobe must be >= 0, got $nprobe")
    val spark = queries.sparkSession
    val batch = queries.select(col("vec_id"), col("embedding"))
    val path = indexPath + "/centroids"
    def load(): CentroidRows = {
      val df = Sources.readParquet(spark, path).select(col("c_label"), col("centroid"))
      val rows = df.collect()
      val vecs = kernelVectors(rows, df.schema, 1)
      CentroidRows(df.schema("c_label"), rows.zip(vecs).map { case (r, v) =>
        (r.get(0), CatalystTypeConverters.convertToCatalyst(r.get(0)), v)
      })
    }
    val cents = centroidRows(spark, path)(load()).getOrElse(load())
    val rows = batch.collect()
    val vecs = kernelVectors(rows, batch.schema, 1)
    val order = InterpretedOrdering.forSchema(
      Seq(DoubleType, cents.label.dataType, DoubleType))
    val routed = rows.toSeq.zip(vecs).flatMap { case (r, v) =>
      // max-heap on `order` (its head is the worst kept cell); the
      // fourth field, the cell's index, is outside the ordering
      val picks = new java.util.PriorityQueue[InternalRow](nprobe max 1, order.reverse)
      var j = 0
      while (nprobe > 0 && j < cents.cells.length) {
        val (_, key, c) = cents.cells(j)
        val worst = if (picks.size < nprobe) null else picks.peek
        if (v == null || c == null) {
          val cand = InternalRow(null, key, null, j)
          if (worst == null) picks.add(cand)
          else if (order.lt(cand, worst)) { picks.poll(); picks.add(cand) }
        } else {
          val sim = CosineSimilarity.of(v, c)
          val negsim = if (sim.isNaN) NaNKey else -sim
          // nulls sort first, so a null-scored worst beats any score
          if (worst == null) picks.add(InternalRow(negsim, key, sim, j))
          else if (!worst.isNullAt(0) && negsim <= worst.getDouble(0)) {
            val cand = InternalRow(negsim, key, sim, j)
            if (order.lt(cand, worst)) { picks.poll(); picks.add(cand) }
          }
        }
        j += 1
      }
      picks.asScala.toSeq.sortWith(order.lt).map(p => Row(r.get(0), r.get(1),
        cents.cells(p.getInt(3))._1))
    }
    val schema = StructType(Seq(batch.schema("vec_id").copy(name = "query_id"),
      batch.schema("embedding").copy(name = "qe"), cents.label))
    (spark.createDataFrame(routed.asJava, schema), routed.map(_.get(2)).distinct, rows)
  }

  /** Routed query rows as (vec_id, float vector), in vec_id order. */
  private def queryVectors(rows: Array[Row]): Array[(Long, Array[Float])] =
    rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  /** sink_ann_index_sq8 — the CODES-ONLY saved index (`writeAnnIndex`
    * at a quarter the bytes): cells store each vector as dim BYTES of
    * SQ8 codes, never floats — at 1e9+ vectors this is the layout
    * that decides whether the index fits hot storage at all. The
    * trained (lo, scale) ranges persist in `meta/` (the probe must
    * dequantize with the sink's exact ranges — the
    * sink_containment_index modulus lesson applies verbatim).
    * Downstream scoring is SQ8-native: there are no floats at rest to
    * exact-rerank against, which is the honest trade vs
    * [[writeAnnIndex]] — near-lossless codec distortion
    * (spec-bounded) in exchange for 4× residency. */
  def writeAnnIndexSq8(corpus: DataFrame, centroids: DataFrame, path: String,
                       dim: Int = 64, batchId: Option[Long] = None): Unit = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val (lo, scale) = trainSq8Ranges(corpus, dim)
    val (encF, simF) = GraftFunctions.registerSq8(spark, lo, scale)
    seedCells(corpus, centroids, path, "codes", expr(s"$encF(embedding)").as("codes"), batchId,
      meta = Some(Seq((lo.toSeq, scale.toSeq)).toDF("lo", "scale")))
    Seq(encF, simF).foreach(GraftFunctions.dropFunction(spark, _))
  }

  /** Append a batch to a saved SQ8 index: assign under the SAVED
    * centroids, encode under the SAVED ranges (both read back from
    * the index — a batch encoded with retrained ranges would be
    * incomparable with the resident codes), parquet-append the cells
    * (the a12/appendAnnIndex contract). With `batchId` (the streaming
    * ingest path, s31) the batch lands as a dynamic overwrite of its
    * own `batch_id` partitions — replay-idempotent. */
  def appendAnnIndexSq8(batch: DataFrame, indexPath: String,
                        batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    GraftFunctions.register(spark)
    val (encF, simF) = savedSq8(spark, indexPath)
    appendCells(batch, indexPath, "codes", expr(s"$encF(embedding)").as("codes"), batchId)
    Seq(encF, simF).foreach(GraftFunctions.dropFunction(spark, _))
  }

  /** a19_ivf_sq8_indexed — a18's search against the CODES-ONLY saved
    * index: queries are routed to their cells on the driver
    * ([[routeToCells]]), the probed-label set prunes the codes read
    * to those cell DIRECTORIES (the a15 pin), and scoring is `Sq8Cosine` over dim-byte postings
    * dequantized with the saved ranges. Top-k comes from the
    * quantized similarity directly — no float re-rank exists at rest,
    * by design (see [[writeAnnIndexSq8]]); the spec bounds the codec
    * regime by neighbor-set agreement with the float IVF search. */
  def ivfSq8KnnIndexed(queries: DataFrame, indexPath: String,
                       k: Int = 3, nprobe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val (encF, simF) = savedSq8(spark, indexPath)
    val (q, probed, _) = routeToCells(queries, indexPath, nprobe)
    val c = probedCells(spark, indexPath, "codes", probed, col("codes"), col("c_label"))
    val out = windowTopK(q.join(c, "c_label")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", expr(s"$simF(qe, codes)")), k)
    Seq(encF, simF).foreach(GraftFunctions.dropFunction(spark, _)) // plans already analyzed
    out
  }

  /** sink_ann_index_bq — the SIGN-BIT saved index, the hottest tier
    * of the at-rest quantization matrix (floats a15 → SQ8 a19 → PQ
    * a24 → BQ here, 8 bytes/vector at dim 64): cells store (vec_id,
    * ceil(dim/8)-byte sign codes) under the [[Sources.writeBatch]]
    * layout/replay protocol. NO meta/ directory at all — the codec
    * is data-independent (bit i = sign of x_i), so there are no
    * trained ranges/codebooks to version, appends can never drift
    * from the resident codes, and two independently-built indexes
    * over the same vectors hold identical codes. The deployment
    * architecture this tier exists for is codes-hot/floats-cold:
    * the 8-byte codes live in fast storage for the Hamming
    * shortlist, the full floats stay in cheap storage and only the
    * shortlist rows are ever fetched for the exact re-rank —
    * [[ivfBqKnnIndexed]] takes that float source as an argument
    * instead of pretending 1-bit codes alone can rank a top-3. */
  def writeAnnIndexBq(corpus: DataFrame, centroids: DataFrame, path: String,
                      batchId: Option[Long] = None): Unit = {
    GraftFunctions.register(corpus.sparkSession)
    seedCells(corpus, centroids, path, "codes", expr("graft_signbits(embedding)").as("codes"),
      batchId)
  }

  /** Append a batch to a saved BQ index: assign under the SAVED
    * centroids; the encode needs nothing saved (data-independent
    * codec), so this is the only index family whose appends carry
    * zero drift risk by construction. Replay-idempotent with
    * `batchId` ([[Sources.writeBatch]]). */
  def appendAnnIndexBq(batch: DataFrame, indexPath: String,
                       batchId: Option[Long] = None): Unit = {
    GraftFunctions.register(batch.sparkSession)
    appendCells(batch, indexPath, "codes", expr("graft_signbits(embedding)").as("codes"),
      batchId)
  }

  /** a28_ivf_bq_indexed — search against the saved sign-bit index in
    * the codes-hot/floats-cold shape: queries are routed to their
    * cells on the driver ([[routeToCells]]), the probed-label set
    * prunes the codes read to those cell DIRECTORIES (the a15 pin),
    * the XOR+POPCNT Hamming scan shortlists `rerank` per query (ties to the smaller id —
    * integer distances tie often, determinism needs the break), and
    * ONLY the shortlist joins `floatSource` for the exact cosine
    * re-rank — at 100 TB the floats never scan, they're fetched at
    * |queries|·rerank row lookups. Output schema matches a04/a15
    * (query_id, neighbor_id, cos_sim, rn), so recall composes with
    * a11's evaluator unchanged. `rerank` carries a27's measured depth
    * trade (default 100 ≈ 0.63 recall@10 on unstructured dim-64
    * vectors — see [[bqKnn]]'s depth guidance); calibrate with
    * [[bqRerankForRecall]] or the `targetRecall` task param, which
    * additionally rides the IVF nprobe trade (a04's) on top of the
    * codec's. */
  def ivfBqKnnIndexed(queries: DataFrame, indexPath: String,
                      floatSource: DataFrame, k: Int = 3, nprobe: Int = 2,
                      rerank: Int = 100): DataFrame = {
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val (routed, probed, rows) = routeToCells(queries, indexPath, nprobe)
    val q = routed.select(col("query_id"), expr("graft_signbits(qe)").as("qcode"), col("c_label"))
    val c = probedCells(spark, indexPath, "codes", probed, col("codes"), col("c_label"))
    val ham = q.join(c, "c_label")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("ham", expr("graft_hamming(qcode, codes)"))
    exactRerank(floatSource, shortlist(ham, col("ham").asc, rerank), queryVectors(rows), k)
  }

  /** sink_ann_index_pq — the M-CODES saved index, the cold tier below
    * SQ8 (m=8 code ids per vector vs 64 SQ8 bytes vs 256 float bytes;
    * with ksub ≤ 256 each code carries one byte of information, a 32×
    * residency cut vs floats): cells store (vec_id, codes array<int>)
    * under the [[Sources.writeBatch]] layout/replay protocol, and the
    * codebook — trained with a08's deterministic sample recipe —
    * persists in `meta/`, because the probe must decode with the
    * sink's EXACT codebook (the SQ8-ranges / containment-modulus
    * lesson; a retrained codebook would make resident codes
    * incomparable). At rest there are no floats to rerank against:
    * scoring is ADC-native and PQ's codec distortion (coarser than
    * SQ8 — the a08 spec regime) is the documented price. */
  def writeAnnIndexPq(corpus: DataFrame, centroids: DataFrame, path: String,
                      m: Int = 8, ksub: Int = 256, iters: Int = 5,
                      trainSample: Int = 4096, dim: Int = 64,
                      batchId: Option[Long] = None): Unit = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val codebook = trainPqCodebook(pqSample(corpus, trainSample, ksub, "writeAnnIndexPq"),
      m, ksub, subDim, iters)
    val fname = GraftFunctions.registerPqEncode(spark, codebook, m, ksub, subDim)
    seedCells(corpus, centroids, path, "codes", expr(s"$fname(embedding)").as("codes"), batchId,
      meta = Some(Seq((codebook.toSeq, m, ksub, subDim)).toDF("codebook", "m", "ksub", "sub_dim")))
    GraftFunctions.dropFunction(spark, fname)
  }

  /** Append a batch to a saved PQ index: assign under the SAVED
    * centroids, encode under the SAVED codebook (both read back from
    * the index), land under the [[Sources.writeBatch]] layout —
    * replay-idempotent with `batchId`, the appendAnnIndexSq8 contract
    * verbatim. */
  def appendAnnIndexPq(batch: DataFrame, indexPath: String,
                       batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    GraftFunctions.register(spark)
    val pq = savedPq(spark, indexPath)
    val fname = GraftFunctions.registerPqEncode(spark, pq.codebook, pq.m, pq.ksub, pq.subDim)
    appendCells(batch, indexPath, "codes", expr(s"$fname(embedding)").as("codes"), batchId)
    GraftFunctions.dropFunction(spark, fname)
  }

  /** a24_ivf_pq_indexed — a09's search against the CODES-ONLY saved
    * PQ index: queries are routed to their cells on the driver
    * ([[routeToCells]]), the probed-label set prunes the codes read
    * to those cell DIRECTORIES (the a15 pin), each surviving code row explodes to its m
    * (sub, cid) pairs and joins the broadcast ADC table built from
    * the query floats and the SAVED codebook — the pqKnn cellPairs
    * shape with the posting list coming off disk. Top-k comes from
    * the ADC similarity directly (no floats at rest to rerank, the
    * a19 trade at 8× less residency); the spec bounds the distortion
    * by neighbor agreement with the float IVF search. */
  def ivfPqKnnIndexed(queries: DataFrame, indexPath: String,
                      k: Int = 3, nprobe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val pq = savedPq(spark, indexPath)
    val (routed, probed, rows) = routeToCells(queries, indexPath, nprobe)
    val q = routed.select("query_id", "c_label")
    // ADC tables: |queries| x m x ksub rows — tiny, broadcast (the a08 build)
    val tablesDf = adcTable(spark, queryVectors(rows), pq)
    val cands = probedCells(spark, indexPath, "codes", probed, col("c_label"),
      posexplode(col("codes")).as(Seq("sub", "cid")))
    windowTopK(q.join(cands, "c_label")
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(tablesDf), Seq("query_id", "sub", "cid"))
      .groupBy("query_id", "neighbor_id")
      .agg((sum(col("pdot")) / (max(col("qnorm")) * sqrt(sum(col("ndot"))))).as("sim")),
      k, score = "adc_sim")
  }
}
