package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.dedup.Dedup
import graft.text.TextStats
import graft.ann.Ann

/** Task-parameter-driven execution — the reference pulls each
  * analysis' parameters (date range, filters, top-N size) from a task
  * table at runtime instead of recompiling. `run` binds a
  * `Map[String,String]` param set onto any inventory query;
  * `parseParams` accepts the reference's JSON task_parm shape, so a
  * scheduler row like `{"topN": 5, "startTs": "2024-03-01"}` drives
  * the same compiled jar through arbitrary re-runs.
  *
  * `runners` is the one declaration of every inventory operator:
  * `SparkEntry.queries` is each runner under an empty param map, bar
  * the few `SparkEntry.fixtures` whose contract output differs.
  */
object TaskRunner {

  private def i(p: Map[String, String], k: String, d: Int): Int =
    p.get(k).map(_.trim.toInt).getOrElse(d)
  private def l(p: Map[String, String], k: String, d: Long): Long =
    p.get(k).map(_.trim.toLong).getOrElse(d)
  private def dbl(p: Map[String, String], k: String, d: Double): Double =
    p.get(k).map(_.trim.toDouble).getOrElse(d)
  private def str(p: Map[String, String], k: String, d: String): String =
    p.getOrElse(k, d)
  private def optL(p: Map[String, String], k: String): Option[Long] =
    p.get(k).map(_.trim.toLong)
  /** Cap param with a default and an off switch: absent → Some(default),
    * 0 or negative → None (uncapped — e.g. bench sweeps), else Some(v). */
  private def capL(p: Map[String, String], k: String, default: Long): Option[Long] =
    p.get(k).map(_.trim.toLong) match {
      case None => Some(default)
      case Some(v) if v <= 0 => None
      case Some(v) => Some(v)
    }
  private def capI(p: Map[String, String], k: String, default: Int): Option[Int] =
    // clamp before narrowing: a cap above Int.MaxValue means "huge",
    // not a wrapped-negative cap that silently empties the result
    capL(p, k, default.toLong).map(v => math.min(v, Int.MaxValue.toLong).toInt)

  /** The reference's tasks carry a date range; every events-driven
    * analysis honors optional ISO `startTs`/`endTs` params. The filter
    * lands before the operator's plan, so it pushes down to the scan. */
  private def eventsIn(s: SparkSession, d: String, p: Map[String, String]): DataFrame = {
    val base = Tables.events(s, d)
    val afterStart = p.get("startTs")
      .map(t => base.filter(col("ts") >= to_timestamp(lit(t)))).getOrElse(base)
    p.get("endTs")
      .map(t => afterStart.filter(col("ts") < to_timestamp(lit(t)))).getOrElse(afterStart)
  }

  /** Parameter-aware runners (query name -> bound operator). */
  val runners: Map[String, (SparkSession, String, Map[String, String]) => DataFrame] = Map(
    "q02_topn_flow" -> ((s, d, p) => FlowAnalytics.topNFlow(Tables.lineitem(s, d), i(p, "topN", 10))),
    "q04_group_topn" -> ((s, d, p) => FlowAnalytics.groupTopN(Tables.lineitem(s, d), i(p, "topN", 3))),
    "q16_anti_join" -> ((s, d, p) => RelationalOps.antiJoin(
      Tables.customer(s, d), Tables.orders(s, d), dbl(p, "minPrice", 400000))),
    "q17_semi_join" -> ((s, d, p) => RelationalOps.semiJoin(
      Tables.part(s, d), Tables.lineitem(s, d), dbl(p, "minQty", 48))),
    "q19_salted_agg" -> ((s, d, p) => RelationalOps.saltedAgg(
      Tables.orders(s, d), i(p, "saltBuckets", 8))),
    "q24_monitor_health" -> ((s, d, p) => FlowAnalytics.monitorHealth(
      Tables.supplier(s, d), Tables.lineitem(s, d), l(p, "minFlow", 30))),
    "q25_global_stats" -> ((s, d, p) => FlowAnalytics.globalStats(
      Tables.supplier(s, d), Tables.lineitem(s, d), l(p, "minFlow", 30))),
    "q28_approx_distinct" -> ((s, d, p) => FlowAnalytics.approxDistinct(
      Tables.orders(s, d), Tables.customer(s, d), dbl(p, "rsd", 0.02))),
    "q29_percentile_approx" -> ((s, d, p) => RelationalOps.percentilesApprox(
      Tables.lineitem(s, d), i(p, "accuracy", 10000))),
    // the default maxEvents cap bounds the per-entity array for the
    // generic engine; non-binding at test SFs (max events/user is 99
    // at sf0.1); 0 disables it
    "q08_car_track" -> ((s, d, p) => TrackAnalytics.carTrack(
      eventsIn(s, d, p), capI(p, "maxEvents", 1000))),
    "q09_funnel_step" -> ((s, d, p) => TrackAnalytics.funnelStep(eventsIn(s, d, p))),
    "q10_collision" -> ((s, d, p) => TrackAnalytics.collision(
      eventsIn(s, d, p), str(p, "typeA", "click"), str(p, "typeB", "purchase"))),
    "q11_sessionize" -> ((s, d, p) => TrackAnalytics.sessionize(
      eventsIn(s, d, p), l(p, "gapMs", 1800000L))),
    "q53_session_paths" -> ((s, d, p) => TrackAnalytics.sessionPaths(
      eventsIn(s, d, p), l(p, "gapMs", 1800000L),
      i(p, "maxSteps", 8), i(p, "topK", 20))),
    "q44_peak_concurrency" -> ((s, d, p) => TrackAnalytics.peakConcurrency(
      eventsIn(s, d, p), l(p, "gapMs", 1800000L))),
    "q45_rolling_distinct" -> ((s, d, p) => TrackAnalytics.rollingDistinct(
      eventsIn(s, d, p), i(p, "windowDays", 7))),
    // windowDays=7 (not the function's 90) so ApproxSpec's bound vs
    // exact q45 is the same configuration the driver executes
    "q49_rolling_distinct_hll" -> ((s, d, p) => TrackAnalytics.rollingDistinctHll(
      eventsIn(s, d, p), i(p, "windowDays", 7), i(p, "lgConfigK", 12))),
    "q46_robust_outliers" -> ((s, d, p) => RelationalOps.robustOutliers(
      Tables.orders(s, d), dbl(p, "k", 3.0),
      exact = p.get("exact").forall(_.trim.toBoolean),
      accuracy = i(p, "accuracy", 10000))),
    "q47_equi_depth" -> ((s, d, p) => RelationalOps.equiDepth(
      Tables.lineitem(s, d), i(p, "buckets", 10),
      exact = p.get("exact").forall(_.trim.toBoolean),
      accuracy = i(p, "accuracy", 10000))),
    "q50_table_stats" -> ((s, d, p) => RelationalOps.tableStats(
      Tables.lineitem(s, d),
      statCols = p.get("statCols").map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")),
      exact = p.get("exact").forall(_.trim.toBoolean),
      rsd = dbl(p, "rsd", 0.02))),
    "q52_key_skew" -> ((s, d, p) => RelationalOps.keySkew(
      Tables.lineitem(s, d), str(p, "keyCol", "l_partkey"),
      i(p, "topK", 20), exact = p.get("exact").forall(_.trim.toBoolean),
      accuracy = i(p, "accuracy", 10000))),
    "q54_fuzzy_join" -> ((s, d, p) => RelationalOps.fuzzyJoin(
      Tables.part(s, d), i(p, "maxDist", 2))),
    "q55_spend_deciles" -> ((s, d, p) => RelationalOps.spendDeciles(
      Tables.orders(s, d), i(p, "tiers", 10))),
    "d16_semantic_dedup" -> ((s, d, p) => Dedup.semanticDedup(
      Tables.embeddings(s, d), dbl(p, "threshold", 0.95),
      cells = i(p, "cells", -1),
      keepPolicy = str(p, "keepPolicy", "min_id"))),
    "d17_embed_ingest_admit" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      Dedup.embedIngestAdmit(e.filter(e("vec_id") % 5 =!= 0),
        e.filter(e("vec_id") % 5 === 0), dbl(p, "threshold", 0.9),
        i(p, "cells", -1), i(p, "nprobe", 2))
    }),
    "q51_bloom_semi_join" -> ((s, d, p) => RelationalOps.bloomSemiJoin(
      Tables.lineitem(s, d), Tables.orders(s, d),
      minTotal = dbl(p, "minTotal", 350000.0), fpp = dbl(p, "fpp", 0.01))),
    "q48_price_band" -> ((s, d, p) => RelationalOps.priceBand(
      Tables.part(s, d), dbl(p, "eps", 0.50))),
    "q14_stratified_sample" -> ((s, d, p) => TrackAnalytics.stratifiedSample(
      eventsIn(s, d, p), i(p, "perStratum", 5))),
    "q20_time_window" -> ((s, d, p) => TrackAnalytics.timeWindow(eventsIn(s, d, p))),
    "q27_range_join" -> ((s, d, p) => TrackAnalytics.rangeJoin(
      eventsIn(s, d, p), l(p, "windowNs", 1800000000000L))),
    "q33_division" -> ((s, d, p) => RelationalOps.division(
      Tables.customer(s, d), Tables.orders(s, d), str(p, "priority", "1-URGENT"))),
    "q36_correlated_subquery" -> ((s, d, p) => RelationalOps.correlatedSubquery(
      Tables.lineitem(s, d), Tables.part(s, d), dbl(p, "ratio", 0.5))),
    "q38_retention" -> ((s, d, p) => TrackAnalytics.retention(
      eventsIn(s, d, p), i(p, "maxOffset", 14))),
    "q34_session_window" -> ((s, d, p) => TrackAnalytics.sessionWindow(
      eventsIn(s, d, p), str(p, "gap", "30 minutes"))),
    "t06_word_freq" -> ((s, d, p) => TextStats.wordFreq(Tables.documents(s, d), i(p, "topN", 20))),
    "t09_corpus_stats" -> ((s, d, p) => TextStats.corpusStats(
      Tables.documents(s, d), i(p, "shortDocTokens", 20))),
    "a06_outlier_score" -> ((s, d, p) => Ann.outlierScore(
      Tables.embeddings(s, d), dbl(p, "simThreshold", 0.5))),
    "d07_dedup_clusters" -> ((s, d, p) => Dedup.dedupClusters(
      Tables.documents(s, d), dbl(p, "threshold", 0.8),
      capL(p, "dfCap", 1000L), i(p, "maxIters", 20))),
    "d02_ngram_jaccard" -> ((s, d, p) => Dedup.ngramJaccard(
      Tables.documents(s, d), dbl(p, "threshold", 0.8), optL(p, "dfCap"))),
    // dfCap defaults to 1000 so the hot-shingle straggler guard is
    // exercised unless a task explicitly overrides it (dfCap=0 disables
    // the cap outright); non-binding at test SFs (max shingle DF is 25
    // at sf0.1), so the exact oracle still holds
    "d03_minhash_lsh" -> ((s, d, p) => Dedup.minHashLsh(
      Tables.documents(s, d), dbl(p, "threshold", 0.8),
      i(p, "numHashes", 64), i(p, "bands", 16),
      capL(p, "dfCap", 1000L))),
    "d24_dedup_sweep" -> ((s, d, p) => Dedup.dedupSweep(
      Tables.documents(s, d), Tables.embeddings(s, d),
      dbl(p, "jaccardThreshold", 0.8), dbl(p, "containThreshold", 0.8),
      dbl(p, "semanticThreshold", 0.95))),
    "d05_embed_dedup" -> ((s, d, p) => Dedup.embedDedup(
      Tables.embeddings(s, d), dbl(p, "threshold", 0.5))),
    "d06_embed_dedup_lsh" -> ((s, d, p) => Dedup.embedDedupLsh(
      Tables.embeddings(s, d), dbl(p, "threshold", 0.5),
      i(p, "tables", -1), i(p, "bits", -1), i(p, "dim", 64))),
    "a01_knn_brute" -> ((s, d, p) => Ann.knnBrute(
      Tables.embeddings(s, d), i(p, "nQueries", 10), i(p, "k", 3))),
    "a22_pca_reduce" -> ((s, d, p) => Ann.pcaReduce(
      Tables.embeddings(s, d), i(p, "k", 8))),
    "a25_knn_filtered" -> ((s, d, p) => Ann.knnFiltered(
      Tables.embeddings(s, d), i(p, "nQueries", 10), i(p, "k", 3))),
    "a27_bq_knn" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      val nQ = i(p, "nQueries", 10); val k = i(p, "k", 3)
      // targetRecall states the recall needed and overrides rerank via
      // the measured-curve calibration (the a27 depth-trade seam);
      // calibrateSample bounds the ground-truth pass (identity at the
      // test SFs, a sample-sized job at corpus scale)
      val rr = p.get("targetRecall")
        .map(t => Ann.bqRerankForRecall(e, t.trim.toDouble, nQ, k,
          calibrateSample = l(p, "calibrateSample", 4096L)))
        .getOrElse(i(p, "rerank", 100))
      Ann.bqKnn(e, nQ, k, rr)
    }),
    // filtered search at rest: saved index + attribute side table
    // (rows-only: probe ≡ live a25 is the AnnSpec contract)
    "a26_ivf_filtered_indexed" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      val tmp = SparkEntry.scratchDir("graft_a26p_")
      val nQ = i(p, "nQueries", 10)
      Ann.writeAnnIndex(e.filter(e("vec_id") >= nQ), Ann.labelCentroids(e), tmp)
      Ann.ivfKnnIndexedFiltered(e.filter(e("vec_id") < nQ), tmp,
        e.select(col("vec_id"), col("label")),
        i(p, "k", 3), i(p, "nprobe", 2))
    }),
    "a23_pca_knn" -> ((s, d, p) => Ann.pcaKnn(
      Tables.embeddings(s, d), i(p, "nQueries", 10), i(p, "k", 3),
      i(p, "pcaK", 8), i(p, "rerank", 50))),
    "a16_mmr_diversify" -> ((s, d, p) => Ann.mmrDiversify(
      Tables.embeddings(s, d), i(p, "nQueries", 10), i(p, "poolK", 10),
      i(p, "k", 5), dbl(p, "lambda", 0.7))),
    "a02_knn_lsh" -> ((s, d, p) => Ann.knnLsh(
      Tables.embeddings(s, d), i(p, "nQueries", 10), i(p, "k", 3),
      i(p, "tables", 4), i(p, "planesPerTable", 6), i(p, "dim", 64))),
    // IVF cell source: labelCells=true pins the supervised (oracle
    // twin) build; otherwise cells (0 = auto ~sqrt(n)) sizes the
    // sample-trained k-means quantizer — the binding that scales cell
    // count with the corpus
    "a04_ivf_knn" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      Ann.ivfKnn(e, i(p, "nQueries", 10), i(p, "k", 3), i(p, "nprobe", 2),
        centroids = if (p.get("labelCells").exists(_.trim.toBoolean))
          Some(Ann.labelCentroids(e)) else None,
        cells = i(p, "cells", 0))
    }),
    "a05_kmeans_cells" -> ((s, d, p) => Ann.kmeansAssign(
      Tables.embeddings(s, d), i(p, "k", 10), i(p, "iters", 3),
      i(p, "trainSample", 4096))),
    "a07_knn_join" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      Ann.knnJoin(e, i(p, "k", 3), i(p, "nprobe", 2),
        centroids = if (p.get("labelCells").exists(_.trim.toBoolean))
          Some(Ann.labelCentroids(e)) else None,
        cells = i(p, "cells", 0))
    }),
    "a08_pq_knn" -> ((s, d, p) => Ann.pqKnn(
      Tables.embeddings(s, d), i(p, "nQueries", 10), i(p, "k", 3),
      i(p, "m", 8), i(p, "ksub", 16), i(p, "iters", 5),
      i(p, "trainSample", 2048), i(p, "rerank", 50), i(p, "dim", 64))),
    // byResidual=true swaps in the residual-trained codebook (FAISS
    // by_residual) — same parameters, finer codes, per-cell ADC tables
    "a09_ivf_pq" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      if (p.get("byResidual").exists(_.trim.toBoolean))
        Ann.ivfPqKnnResidual(e, i(p, "nQueries", 10), i(p, "k", 3),
          i(p, "nprobe", 2), i(p, "cells", 0),
          i(p, "m", 8), i(p, "ksub", 16), i(p, "iters", 5),
          i(p, "trainSample", 2048), i(p, "rerank", 50), i(p, "dim", 64))
      else Ann.ivfPqKnn(e, i(p, "nQueries", 10), i(p, "k", 3),
        i(p, "nprobe", 2), i(p, "cells", 0),
        i(p, "m", 8), i(p, "ksub", 16), i(p, "iters", 5),
        i(p, "trainSample", 2048), i(p, "rerank", 50), i(p, "dim", 64))
    }),
    "a11_recall_eval" -> ((s, d, p) => Ann.recallEval(
      Tables.embeddings(s, d), str(p, "variant", "lsh"),
      i(p, "nQueries", 10), i(p, "k", 3))),
    "a13_knn_classify" -> ((s, d, p) => Ann.knnClassify(
      Tables.embeddings(s, d), i(p, "nQueries", 10), i(p, "k", 5))),
    // incremental shape: every 5th vector plays the new batch, the
    // rest the already-indexed corpus (the d11 convention)
    "a12_ivf_append" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      val m = i(p, "batchMod", 5)
      Ann.ivfAppend(e.filter(e("vec_id") % m =!= 0), e.filter(e("vec_id") % m === 0),
        cells = i(p, "cells", 0), balanceFactor = dbl(p, "balanceFactor", 2.0))
    }),
    // closes a12's loop: balanceFactor 1.2 so the natural occupancy
    // skew of the sqrt(n) k-means build exercises the split path at
    // test SFs (2.0 is the production default, matching a12's flag)
    "a14_cell_split" -> ((s, d, p) => Ann.cellSplit(
      Tables.embeddings(s, d), cells = i(p, "cells", 0),
      balanceFactor = dbl(p, "balanceFactor", 1.2), iters = i(p, "iters", 3))),
    "d08_dedup_apply" -> ((s, d, p) => Dedup.dedupApply(
      Tables.documents(s, d), dbl(p, "threshold", 0.8),
      capL(p, "dfCap", 1000L))),
    "d09_decontaminate" -> ((s, d, p) => Dedup.decontaminate(
      Tables.documents(s, d), str(p, "evalSource", "src0"),
      l(p, "minShared", 8L))),
    "d13_bloom_decontaminate" -> ((s, d, p) => Dedup.bloomDecontaminate(
      Tables.documents(s, d), str(p, "evalSource", "src0"),
      l(p, "minShared", 8L), dbl(p, "fpp", 0.001))),
    "d10_source_overlap" -> ((s, d, p) => Dedup.sourceOverlap(
      Tables.documents(s, d), dbl(p, "threshold", 0.8),
      capL(p, "dfCap", 1000L))),
    "q35_salted_join" -> ((s, d, p) => RelationalOps.saltedJoin(
      Tables.lineitem(s, d), Tables.supplier(s, d), i(p, "salts", 8))),
    "t10_seq_pack" -> ((s, d, p) => TextStats.seqPack(
      Tables.documents(s, d), i(p, "ctxLen", 2048), l(p, "bucketSize", 1024L))),
    "t11_span_dedup" -> ((s, d, p) => TextStats.spanDedup(
      Tables.documents(s, d), i(p, "spanTokens", 10))),
    "t13_ngram_novelty" -> ((s, d, p) => TextStats.ngramNovelty(
      Tables.documents(s, d), i(p, "n", 2))),
    // incremental shape: batchSource plays the new batch, the rest the
    // corpus
    "d11_dedup_against" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      val src = str(p, "batchSource", "src0")
      Dedup.dedupAgainst(docs.filter(docs("source") === src),
        docs.filter(docs("source") =!= src), dbl(p, "threshold", 0.8),
        i(p, "numHashes", 64), i(p, "bands", 16), capL(p, "dfCap", 1000L))
    }),
    "d12_ingest_admit" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      val src = str(p, "batchSource", "src0")
      Dedup.ingestAdmit(docs.filter(docs("source") === src),
        docs.filter(docs("source") =!= src), dbl(p, "threshold", 0.8),
        i(p, "numHashes", 64), i(p, "bands", 16), capL(p, "dfCap", 1000L))
    }),
    "t14_term_salience" -> ((s, d, p) => TextStats.termSalience(
      Tables.documents(s, d), i(p, "topK", 3))),
    "t26_frequent_terms" -> ((s, d, p) => TextStats.frequentTerms(
      Tables.documents(s, d), i(p, "k", 64), i(p, "topN", 20))),
    "t25_bigram_surprisal" -> ((s, d, p) => TextStats.bigramSurprisal(
      Tables.documents(s, d), dbl(p, "alpha", 0.5))),
    "t15_source_mix" -> ((s, d, p) => TextStats.sourceMix(
      Tables.documents(s, d), dbl(p, "budgetShare", 0.5))),
    "t16_shard_assign" -> ((s, d, p) => TextStats.shardAssign(
      Tables.documents(s, d), i(p, "nShards", 8))),
    "t17_span_scrub" -> ((s, d, p) => TextStats.spanScrub(
      Tables.documents(s, d), i(p, "spanTokens", 10))),
    "t20_rolling_scrub" -> ((s, d, p) => TextStats.rollingScrub(
      Tables.documents(s, d), i(p, "spanTokens", 10))),
    "t21_source_drift" -> ((s, d, p) => TextStats.sourceDrift(
      Tables.documents(s, d), i(p, "topK", 50))),
    "t22_hash_embed" -> ((s, d, p) => TextStats.hashEmbed(
      Tables.documents(s, d), i(p, "dim", 64), l(p, "seed", 42L))),
    "t23_source_upsample" -> ((s, d, p) => TextStats.sourceUpsample(
      Tables.documents(s, d), dbl(p, "maxEpochs", 3.0))),
    "t19_cooccurrence" -> ((s, d, p) => TextStats.cooccurrence(
      Tables.documents(s, d), i(p, "window", 3), i(p, "topN", 20))),
    "t18_quality_filter" -> ((s, d, p) => TextStats.qualityFilter(
      Tables.documents(s, d), i(p, "minTokens", 20), i(p, "maxTokens", 2048),
      dbl(p, "minQuality", 0.6), dbl(p, "maxRepetition", 0.1))),
    // BM25 keyword retrieval (rows-only: ln is transcendental). The
    // query set derives from the corpus deterministically; t29 probes
    // the SAVED inverted index and is spec-pinned result-identical
    "t28_bm25_search" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      TextStats.bm25Search(docs,
        TextStats.sampleQueries(docs, l(p, "queryEvery", 97L),
          i(p, "maxQueries", 32), i(p, "qTerms", 4)),
        i(p, "topK", 10), dbl(p, "k1", 1.2), dbl(p, "b", 0.75))
    }),
    "t32_rake_keyphrases" -> ((s, d, p) => TextStats.rakeKeyphrases(
      Tables.documents(s, d), topK = i(p, "topK", 3))),
    // rows-only: iterative float centrality (spec twin replays the
    // sorted-fold IEEE sequence float-for-float)
    "t33_textrank" -> ((s, d, p) => TextStats.textrankKeywords(
      Tables.documents(s, d), topK = i(p, "topK", 5),
      iterations = i(p, "iterations", 10), damping = dbl(p, "damping", 0.85))),
    "t36_boilerplate_scrub" -> ((s, d, p) => TextStats.boilerplateScrub(
      Tables.documents(s, d), i(p, "minDocs", 3).toLong, i(p, "minChars", 5))),
    "t35_code_detect" -> ((s, d, p) => TextStats.codeDetect(
      Tables.documents(s, d), dbl(p, "symPerKchar", 30.0), i(p, "minKeywords", 2))),
    "t34_kwic" -> ((s, d, p) => TextStats.kwic(
      Tables.documents(s, d),
      terms = p.get("terms").map(_.split(",").map(_.trim).toSeq),
      window = i(p, "window", 3), nTerms = i(p, "nTerms", 3))),
    "t30_chunk_split" -> ((s, d, p) => TextStats.chunkSplit(
      Tables.documents(s, d), i(p, "chunkTokens", 64), i(p, "overlap", 16))),
    "t31_percolate" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      TextStats.percolate(docs,
        TextStats.sampleQueries(docs, l(p, "queryEvery", 97L),
          i(p, "maxQueries", 32), i(p, "qTerms", 4)),
        dbl(p, "minFrac", 1.0))
    }),
    "q60_event_anomaly" -> ((s, d, p) => TrackAnalytics.eventAnomaly(
      eventsIn(s, d, p), dbl(p, "k", 3.0))),
    "q63_conversion_lag" -> ((s, d, p) => TrackAnalytics.conversionLag(
      eventsIn(s, d, p), str(p, "fromType", "click"), str(p, "toType", "purchase"))),
    // q64's sketch path: KMV estimates, rows-only (spec-bounded vs exact)
    "q65_kmv_overlap" -> ((s, d, p) => TrackAnalytics.kmvOverlap(
      eventsIn(s, d, p), i(p, "k", 256))),
    "q66_bounce_rate" -> ((s, d, p) => TrackAnalytics.bounceRate(
      eventsIn(s, d, p), l(p, "gapMs", 1800000L))),
    "q41_graph_rank" -> ((s, d, p) => TrackAnalytics.graphRank(
      eventsIn(s, d, p), i(p, "iterations", 10), dbl(p, "damping", 0.85),
      l(p, "maxLocalEdges", 4000000L))),
    "a10_range_search" -> ((s, d, p) => Ann.rangeSearch(
      Tables.embeddings(s, d), i(p, "nQueries", 10), dbl(p, "tau", 0.3))),
    "m09_storage_savings" -> ((s, d, p) => graft.multimodal.BinaryPipeline.storageSavings(
      Tables.documents(s, d), i(p, "chunkBytes", 64))),
    "m06_chunk_dedup" -> ((s, d, p) => graft.multimodal.BinaryPipeline.chunkDedup(
      Tables.documents(s, d), i(p, "chunkBytes", 64),
      i(p, "minShared", 2), l(p, "dfCap", 1000L))),
    "m07_cdc_dedup" -> ((s, d, p) => graft.multimodal.BinaryPipeline.cdcDedup(
      Tables.documents(s, d), i(p, "minLen", 16), i(p, "maskBits", 5),
      i(p, "minShared", 2), l(p, "dfCap", 1000L))),
    "m08_feature_dedup" -> ((s, d, p) => graft.multimodal.BinaryPipeline.featureDedup(
      Tables.documents(s, d), dbl(p, "threshold", 0.99), i(p, "featureDim", 8))),
    "q39_window_funnel" -> ((s, d, p) => TrackAnalytics.windowFunnel(
      eventsIn(s, d, p),
      str(p, "steps", "view,click,purchase").split(",").map(_.trim).toSeq,
      l(p, "windowMicros", 86400000000L))),
    // the funnel GENERALITY witness: same operator as q39 under a
    // different task binding — the 4-step/12h parameterization pinned
    // by its own oracle row proves the step chain is parametric, not a
    // hardcoded 3-step shape
    "q42_funnel_steps" -> ((s, d, p) => TrackAnalytics.windowFunnel(
      eventsIn(s, d, p),
      str(p, "steps", "view,click,signup,purchase").split(",").map(_.trim).toSeq,
      l(p, "windowMicros", 43200000000L))),
    "q43_period_delta" -> ((s, d, p) => TrackAnalytics.periodDelta(eventsIn(s, d, p))),
    // ----- the remaining inventory ids. Events-driven analyses honor
    // the task date range via eventsIn; fixed-shape reports bind their
    // default tables.
    "q01_flow_agg" -> ((s, d, _) => FlowAnalytics.flowAgg(Tables.lineitem(s, d))),
    "q03_speed_buckets" -> ((s, d, _) => FlowAnalytics.speedBuckets(Tables.lineitem(s, d))),
    "q05_star_join_flow" -> ((s, d, _) => FlowAnalytics.starJoinFlow(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
      Tables.nation(s, d), Tables.region(s, d))),
    "q06_group_concat" -> ((s, d, _) => FlowAnalytics.groupConcat(
      Tables.customer(s, d), Tables.nation(s, d))),
    "q07_distinct_count" -> ((s, d, _) => FlowAnalytics.distinctCount(
      Tables.orders(s, d), Tables.customer(s, d))),
    "q12_rollup" -> ((s, d, _) => RelationalOps.rollupAgg(
      Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q13_running_total" -> ((s, d, _) => RelationalOps.runningTotal(Tables.orders(s, d))),
    "q15_pivot" -> ((s, d, _) => RelationalOps.pivotStatus(
      Tables.orders(s, d), Tables.customer(s, d))),
    "q18_set_ops" -> ((s, d, _) => RelationalOps.setOps(
      Tables.orders(s, d), Tables.customer(s, d))),
    "q21_percentile" -> ((s, d, _) => RelationalOps.percentiles(Tables.lineitem(s, d))),
    "q22_orders_histogram" -> ((s, d, _) => RelationalOps.ordersHistogram(
      Tables.customer(s, d), Tables.orders(s, d))),
    "q23_broadcast_dim" -> ((s, d, _) => FlowAnalytics.broadcastDim(
      Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "q26_json_extract" -> ((s, d, p) => FlowAnalytics.jsonExtract(eventsIn(s, d, p))),
    "q30_asof_join" -> ((s, d, p) => TrackAnalytics.asofJoin(eventsIn(s, d, p))),
    "q31_cube" -> ((s, d, _) => RelationalOps.cubeAgg(Tables.orders(s, d))),
    "q32_moving_window" -> ((s, d, p) => RelationalOps.movingWindow(
      Tables.orders(s, d), i(p, "frame", 5))),
    "q37_streaks" -> ((s, d, p) => TrackAnalytics.activityStreaks(eventsIn(s, d, p))),
    "q40_grouping_sets" -> ((s, d, _) => RelationalOps.groupingSets(Tables.orders(s, d))),
    "q56_transition_matrix" -> ((s, d, p) => TrackAnalytics.transitionMatrix(eventsIn(s, d, p))),
    "q57_modal_event" -> ((s, d, p) => TrackAnalytics.modalEventType(eventsIn(s, d, p))),
    "q58_session_transitions" -> ((s, d, p) => TrackAnalytics.sessionTransitions(
      eventsIn(s, d, p), l(p, "gapMs", 1800000L))),
    "q59_dwell_time" -> ((s, d, p) => TrackAnalytics.dwellTime(eventsIn(s, d, p))),
    "q61_hourly_profile" -> ((s, d, p) => TrackAnalytics.hourlyProfile(eventsIn(s, d, p))),
    "q62_ohlc_downsample" -> ((s, d, p) => TrackAnalytics.ohlcDownsample(eventsIn(s, d, p))),
    "q64_type_overlap" -> ((s, d, p) => TrackAnalytics.typeOverlap(eventsIn(s, d, p))),
    "q67_volume_autocorr" -> ((s, d, p) => TrackAnalytics.volumeAutocorr(eventsIn(s, d, p))),
    "q68_dwell_percentiles" -> ((s, d, p) => TrackAnalytics.dwellPercentiles(eventsIn(s, d, p))),
    "q69_ewma_volume" -> ((s, d, p) => TrackAnalytics.ewmaVolume(
      eventsIn(s, d, p), i(p, "horizon", 16))),
    "q70_touch_attribution" -> ((s, d, p) => TrackAnalytics.touchAttribution(
      eventsIn(s, d, p), i(p, "lookbackDays", 7))),
    "q71_rfm_segments" -> ((s, d, p) => TrackAnalytics.rfmSegments(eventsIn(s, d, p))),
    "q72_basket_affinity" -> ((s, d, p) => RelationalOps.basketAffinity(
      Tables.lineitem(s, d), l(p, "minCount", 3L))),
    "q73_dq_profile" -> ((s, d, p) => Quality.dqProfile(
      Tables.orders(s, d),
      p.get("cols").map(_.split(",").map(_.trim).toSeq).getOrElse(
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")),
      i(p, "centsScale", 2))),
    // `checks` (a JSON array, see Quality.parseChecks) lets a task row
    // AUTHOR its constraint suite against the loaded tables without
    // recompiling — the Deequ-style deployment seam; absent, the
    // inventory's fixed orders+lineitem instance runs
    "q74_dq_constraints" -> ((s, d, p) => p.get("checks") match {
      case Some(json) => Quality.dqConstraints(
        Map("region" -> Tables.region(s, d), "nation" -> Tables.nation(s, d),
          "customer" -> Tables.customer(s, d), "supplier" -> Tables.supplier(s, d),
          "part" -> Tables.part(s, d), "orders" -> Tables.orders(s, d),
          "lineitem" -> Tables.lineitem(s, d), "events" -> Tables.events(s, d),
          "documents" -> Tables.documents(s, d)),
        Quality.parseChecks(json))
      case None => Quality.ordersLineitemChecks(
        Tables.orders(s, d), Tables.lineitem(s, d))
    }),
    "q75_cohort_revenue" -> ((s, d, _) => RelationalOps.cohortRevenue(Tables.orders(s, d))),
    "q77_holt_trend" -> ((s, d, p) => TrackAnalytics.holtTrend(eventsIn(s, d, p))),
    "q78_cusum_shift" -> ((s, d, p) => TrackAnalytics.cusumShift(
      eventsIn(s, d, p), dbl(p, "hSigma", 5.0))),
    "q76_survival_curve" -> ((s, d, p) => TrackAnalytics.survivalCurve(
      eventsIn(s, d, p), str(p, "fromType", "click"), str(p, "toType", "purchase"))),
    "t01_token_stats" -> ((s, d, _) => TextStats.tokenStats(Tables.documents(s, d))),
    "t02_quality_score" -> ((s, d, _) => TextStats.qualityScore(Tables.documents(s, d))),
    "t03_langid" -> ((s, d, _) => TextStats.langId(Tables.documents(s, d))),
    "t04_fingerprint" -> ((s, d, _) => TextStats.fingerprint(Tables.documents(s, d))),
    "t05_stopword_ratio" -> ((s, d, p) => TextStats.stopwordRatio(
      Tables.documents(s, d),
      p.get("stopwords").map(_.split(",").map(_.trim).toSeq)
        .getOrElse(TextStats.defaultStopwords))),
    "t07_repetition" -> ((s, d, _) => TextStats.repetition(Tables.documents(s, d))),
    "t08_pii_scrub" -> ((s, d, _) => TextStats.piiScrub(Tables.documents(s, d))),
    "t12_bpe_tokens" -> ((s, d, _) => TextStats.bpeTokens(Tables.documents(s, d))),
    "t24_unigram_surprisal" -> ((s, d, _) => TextStats.unigramSurprisal(Tables.documents(s, d))),
    "t27_weighted_sample" -> ((s, d, p) => TextStats.weightedSample(
      Tables.documents(s, d), dbl(p, "rate", 0.3))),
    "t29_bm25_probe_indexed" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      val tmp = SparkEntry.scratchDir("graft_t29p_")
      TextStats.writeTextIndex(docs, tmp, i(p, "nBuckets", 64))
      TextStats.bm25SearchIndexed(
        TextStats.sampleQueries(docs, l(p, "queryEvery", 97L),
          i(p, "maxQueries", 32), i(p, "qTerms", 4)),
        tmp, i(p, "topK", 10), dbl(p, "k1", 1.2), dbl(p, "b", 0.75))
    }),
    "d01_exact_dedup" -> ((s, d, _) => Dedup.exactDedup(Tables.documents(s, d))),
    "d04_simhash" -> ((s, d, p) => Dedup.simHash(
      Tables.documents(s, d), i(p, "maxHamming", 3))),
    // The AT-REST index probes — the operators a 100 TB deployment
    // actually calls (build once, probe per batch). Each run builds the
    // index in a fresh temp dir then probes it; result-identical to its
    // live twin (d11/d12), which is what the shared oracle checks.
    "d14_dedup_probe_indexed" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      val src = str(p, "batchSource", "src0")
      val tmp = SparkEntry.scratchDir("graft_d14p_")
      Dedup.writeDedupIndex(docs.filter(docs("source") =!= src), tmp,
        i(p, "numHashes", 64), i(p, "bands", 16))
      Dedup.dedupAgainstIndex(docs.filter(docs("source") === src), tmp,
        dbl(p, "threshold", 0.8), i(p, "numHashes", 64), i(p, "bands", 16))
    }),
    "d15_ingest_admit_indexed" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      val src = str(p, "batchSource", "src0")
      val tmp = SparkEntry.scratchDir("graft_d15p_")
      Dedup.writeDedupIndex(docs.filter(docs("source") =!= src), tmp,
        i(p, "numHashes", 64), i(p, "bands", 16))
      Dedup.ingestAdmitIndexed(docs.filter(docs("source") === src), tmp,
        dbl(p, "threshold", 0.8), i(p, "numHashes", 64), i(p, "bands", 16))
    }),
    "d18_containment" -> ((s, d, p) => Dedup.containmentDedup(
      Tables.documents(s, d), dbl(p, "threshold", 0.8),
      i(p, "minShingles", 5), capL(p, "dfCap", 1000L))),
    "d19_containment_prefix" -> ((s, d, p) => Dedup.containmentPrefix(
      Tables.documents(s, d), dbl(p, "threshold", 0.8),
      i(p, "minShingles", 5), capL(p, "dfCap", 1000L))),
    // incremental containment: batchSource plays the new batch (d11
    // convention)
    "d20_containment_against" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      val src = str(p, "batchSource", "src0")
      Dedup.containmentAgainst(docs.filter(docs("source") === src),
        docs.filter(docs("source") =!= src), dbl(p, "threshold", 0.8),
        i(p, "minShingles", 5), capL(p, "dfCap", 1000L))
    }),
    // d20's at-rest twin: the saved containment index (postings +
    // dfs + sets), probed at |batch|-proportional cost — shares d20's
    // oracle (result-identical by construction)
    "d21_containment_probe_indexed" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      val src = str(p, "batchSource", "src0")
      val tmp = SparkEntry.scratchDir("graft_d21p_")
      // appendSource splits the corpus into a seed + one append batch
      // (the decayed-index shape); refreezeMaxDecay then runs the
      // order-decay policy before the probe — results are identical
      // whether or not the refreeze fires (shared-total-order
      // exactness), which is what makes this a safe task knob
      p.get("appendSource") match {
        case None =>
          Dedup.writeContainmentIndex(docs.filter(docs("source") =!= src), tmp,
            i(p, "nBuckets", 64))
        case Some(a) =>
          Dedup.writeContainmentIndex(
            docs.filter(docs("source") =!= src && docs("source") =!= a), tmp,
            i(p, "nBuckets", 64), batchId = Some(-1L))
          Dedup.writeContainmentIndex(docs.filter(docs("source") === a), tmp,
            batchId = Some(0L))
      }
      p.get("refreezeMaxDecay").foreach { t =>
        Dedup.maybeRefreezeContainmentIndex(s, tmp, Dedup.RefreezePolicy(
          t.trim.toDouble, i(p, "refreezeSampleBuckets", 8)))
          .foreach(_.collect())
      }
      Dedup.containmentAgainstIndex(docs.filter(docs("source") === src), tmp,
        dbl(p, "threshold", 0.8), i(p, "minShingles", 5))
    }),
    "d22_containment_apply" -> ((s, d, p) => Dedup.containmentApply(
      Tables.documents(s, d), dbl(p, "threshold", 0.8),
      i(p, "minShingles", 5), capL(p, "dfCap", 1000L))),
    // the constant-bytes containment tier: sig-only index, estimated
    // scores (rows-only — MinHash is not SQL-expressible)
    "d23_containment_sig_estimate" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      val src = str(p, "batchSource", "src0")
      val tmp = SparkEntry.scratchDir("graft_d23p_")
      Dedup.writeDedupSignatureIndex(docs.filter(docs("source") =!= src), tmp,
        i(p, "numHashes", 64), i(p, "bands", 16))
      Dedup.containmentAgainstSignatureIndex(docs.filter(docs("source") === src),
        tmp, dbl(p, "threshold", 0.8), dbl(p, "minJaccard", 0.35),
        i(p, "minShingles", 5), i(p, "numHashes", 64), i(p, "bands", 16))
    }),
    "m01_binary_meta" -> ((s, d, _) => graft.multimodal.BinaryPipeline.binaryMeta(
      Tables.documents(s, d))),
    "m02_chunk_sample" -> ((s, d, p) => graft.multimodal.BinaryPipeline.chunkSample(
      Tables.documents(s, d), i(p, "chunkBytes", 64), i(p, "stride", 4))),
    "m03_media_manifest" -> ((s, d, _) => graft.multimodal.BinaryPipeline.mediaManifest(
      Tables.documents(s, d))),
    "m04_modality_route" -> ((s, d, _) => graft.multimodal.BinaryPipeline.modalityRoute(
      Tables.documents(s, d))),
    "m05_payload_dedup" -> ((s, d, _) => graft.multimodal.BinaryPipeline.payloadDedup(
      Tables.documents(s, d))),
    "m10_chunk_containment" -> ((s, d, p) => graft.multimodal.BinaryPipeline.chunkContainment(
      Tables.documents(s, d), dbl(p, "threshold", 0.8), i(p, "minChunks", 4),
      i(p, "minLen", 16), i(p, "maskBits", 5), l(p, "dfCap", 1000L))),
    "m12_payload_blockhash" -> ((s, d, p) => graft.multimodal.BinaryPipeline.payloadBlockhash(
      Tables.documents(s, d), i(p, "maxHamming", 3))),
    "m13_blockhash_clusters" -> ((s, d, p) => graft.multimodal.BinaryPipeline.blockhashClusters(
      Tables.documents(s, d), i(p, "maxHamming", 3))),
    "m14_chunk_store" -> ((s, d, p) => graft.multimodal.BinaryPipeline.chunkStoreRoundtrip(
      Tables.documents(s, d), SparkEntry.scratchDir("graft_m14p_"),
      i(p, "minLen", 32), i(p, "maskBits", 6))),
    // rows-only: Shannon entropy is transcendental (spec twin)
    "m11_payload_entropy" -> ((s, d, _) => graft.multimodal.BinaryPipeline.payloadEntropy(
      Tables.documents(s, d))),
    "m16_payload_sweep" -> ((s, d, p) => graft.multimodal.BinaryPipeline.payloadSweep(
      Tables.documents(s, d), dbl(p, "containThreshold", 0.8),
      i(p, "maxHamming", 3), i(p, "minShared", 2), i(p, "minChunks", 4),
      i(p, "minLen", 16), i(p, "maskBits", 5), l(p, "dfCap", 1000L))),
    // seed the store, re-upload an edited slice (superseding those
    // docs' recipes), then vacuum: the report must show reclaimed
    // recipe rows and chunk bytes from the superseded versions
    "m15_chunk_vacuum" -> ((s, d, p) => {
      import graft.multimodal.BinaryPipeline
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val tmp = SparkEntry.scratchDir("graft_m15p_")
      val (minLen, maskBits) = (i(p, "minLen", 32), i(p, "maskBits", 6))
      BinaryPipeline.writeChunkStore(docs, tmp, minLen, maskBits, Some(-1L))
      BinaryPipeline.appendChunkStore(
        docs.filter(col("doc_id") % l(p, "reuploadEvery", 25L) === 0)
          .select(col("doc_id"),
            concat(lit("EDITED-REUPLOAD "), col("text")).as("text")),
        tmp, 0L, minLen, maskBits)
      BinaryPipeline.vacuumChunkStore(s, tmp)
    }),
    "a03_centroid_assign" -> ((s, d, _) => Ann.centroidAssign(Tables.embeddings(s, d))),
    // a04's at-rest twin: sink_ann_index persists the corpus cells,
    // ivfKnnIndexed probes only the queried cells' directories —
    // result-identical to the live search under the same centroids.
    "a15_ivf_probe_indexed" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      val nQ = i(p, "nQueries", 10)
      val tmp = SparkEntry.scratchDir("graft_a15p_")
      Ann.writeAnnIndex(e.filter(e("vec_id") >= nQ), Ann.labelCentroids(e), tmp)
      Ann.ivfKnnIndexed(e.filter(e("vec_id") < nQ), tmp,
        i(p, "k", 3), i(p, "nprobe", 2))
    }),
    "a17_sq8_knn" -> ((s, d, p) => Ann.sq8Knn(
      Tables.embeddings(s, d), i(p, "nQueries", 10), i(p, "k", 3),
      i(p, "rerank", 50), i(p, "dim", 64))),
    "a18_ivf_sq8" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      Ann.ivfSq8Knn(e, i(p, "nQueries", 10), i(p, "k", 3),
        i(p, "nprobe", 2), i(p, "rerank", 50),
        centroids = if (p.get("labelCells").forall(_.trim.toBoolean))
          Some(Ann.labelCentroids(e)) else None,
        cells = i(p, "cells", 0), dim = i(p, "dim", 64))
    }),
    // a18's at-rest twin over the codes-only index (a15's shape at a
    // quarter the bytes); rows-only — quantized sims are codec-native
    "a24_ivf_pq_indexed" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      val nQ = i(p, "nQueries", 10)
      val tmp = SparkEntry.scratchDir("graft_a24p_")
      Ann.writeAnnIndexPq(e.filter(e("vec_id") >= nQ), Ann.labelCentroids(e),
        tmp, i(p, "m", 8), i(p, "ksub", 256), i(p, "iters", 5),
        i(p, "trainSample", 4096), i(p, "dim", 64))
      Ann.ivfPqKnnIndexed(e.filter(e("vec_id") < nQ), tmp,
        i(p, "k", 3), i(p, "nprobe", 2))
    }),
    "a19_ivf_sq8_indexed" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      val nQ = i(p, "nQueries", 10)
      val tmp = SparkEntry.scratchDir("graft_a19p_")
      Ann.writeAnnIndexSq8(e.filter(e("vec_id") >= nQ), Ann.labelCentroids(e),
        tmp, i(p, "dim", 64))
      Ann.ivfSq8KnnIndexed(e.filter(e("vec_id") < nQ), tmp,
        i(p, "k", 3), i(p, "nprobe", 2))
    }),
    // codes-hot/floats-cold: the 8-byte sign-bit index shortlists,
    // the float table is only fetched for the shortlist re-rank
    "a28_ivf_bq_indexed" -> ((s, d, p) => {
      val e = Tables.embeddings(s, d)
      val nQ = i(p, "nQueries", 10); val k = i(p, "k", 3)
      val tmp = str(p, "indexPath", SparkEntry.scratchDir("graft_a28p_"))
      if (!graft.Fs.exists(s, tmp + "/centroids"))
        Ann.writeAnnIndexBq(e.filter(e("vec_id") >= nQ), Ann.labelCentroids(e), tmp)
      // targetRecall rides the persisted calibration sidecar: the
      // ground-truth pass (sampled) runs once per durable index and
      // every later run reads one sidecar row instead of re-running a
      // brute kNN hidden inside a parameter — until the corpus grows
      // past recalGrowth× the calibration-time size (staleness policy)
      val rr = p.get("targetRecall")
        .map(t => Ann.maybeRecalibrateBq(tmp, e, t.trim.toDouble, nQ, k,
          calibrateSample = l(p, "calibrateSample", 4096L),
          maxGrowth = dbl(p, "recalGrowth", 2.0)))
        .getOrElse(i(p, "rerank", 100))
      Ann.ivfBqKnnIndexed(e.filter(e("vec_id") < nQ), tmp, e,
        k, i(p, "nprobe", 2), rr)
    }),
    // hybrid retrieval: BM25 lexical run fused with a semantic run
    // over the model-free hash embeddings (t22), rank-space RRF —
    // rows-only (both legs are float-scored)
    "a20_rrf_fusion" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      val kRun = i(p, "kRun", 10)
      val lex = TextStats.bm25Search(docs,
          TextStats.sampleQueries(docs, l(p, "queryEvery", 97L),
            i(p, "maxQueries", 32), i(p, "qTerms", 4)), topK = kRun)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = TextStats.hashEmbed(docs)
      val every = l(p, "queryEvery", 97L)
      val qe = emb.filter(col("doc_id") % every === 0 &&
          col("doc_id") < every * i(p, "maxQueries", 32))
        .select(col("doc_id").as("query_id"), col("embedding"))
      val sem = Ann.knnFor(
          emb.select(col("doc_id").as("vec_id"), col("embedding")), qe, k = kRun)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rn").as("rank"))
      Ann.rrfFuse(Seq(lex, sem), i(p, "kRrf", 60), i(p, "topK", 10))
    }),
    // a20's AT-REST twin: both runs probe SAVED indexes — BM25 over
    // sink_text_index, semantic over sink_ann_index built on the t22
    // hash embeddings — so hybrid retrieval is |queries|-proportional
    // at rest (the deployment shape); rows-only like a20
    "a21_rrf_fusion_indexed" -> ((s, d, p) => {
      val docs = Tables.documents(s, d)
      val tmpT = SparkEntry.scratchDir("graft_a21tp_")
      val tmpA = SparkEntry.scratchDir("graft_a21ap_")
      TextStats.writeTextIndex(docs, tmpT, i(p, "nBuckets", 64))
      val emb = TextStats.hashEmbed(docs)
      val corpusVec = emb.select(col("doc_id").as("vec_id"), col("embedding"))
      Ann.writeAnnIndex(corpusVec,
        Ann.kmeansCentroids(corpusVec, i(p, "cells", 10)), tmpA)
      val every = l(p, "queryEvery", 97L)
      val qe = emb.filter(col("doc_id") % every === 0 &&
          col("doc_id") < every * i(p, "maxQueries", 32))
        .select(col("doc_id").as("query_id"), col("embedding"))
      Ann.rrfFuseIndexed(
        TextStats.sampleQueries(docs, every, i(p, "maxQueries", 32),
          i(p, "qTerms", 4)),
        qe, tmpT, tmpA, i(p, "kRun", 10), i(p, "kRrf", 60),
        i(p, "topK", 10), i(p, "nprobe", 2))
    })
  )

  /** Run any inventory query under a param set; unknown params are
    * ignored, absent ones take their defaults. */
  def run(spark: SparkSession, dir: String, query: String,
          params: Map[String, String] = Map.empty): DataFrame =
    runners.get(query).map(_(spark, dir, params))
      .getOrElse(throw new IllegalArgumentException(s"unknown query: $query"))

  /** Parse the reference's JSON task_parm shape into a flat param map
    * (numbers/booleans are stringified; nested arrays/objects — e.g.
    * q74's `checks` declaration — pass through as compact JSON strings
    * for the runner to parse at its own grain). */
  def parseParams(json: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json) match {
      case JObject(fields) => fields.collect {
        case (k, JString(v)) => k -> v
        case (k, JInt(v)) => k -> v.toString
        case (k, JLong(v)) => k -> v.toString
        case (k, JDouble(v)) => k -> v.toString
        case (k, JDecimal(v)) => k -> v.toString
        case (k, JBool(v)) => k -> v.toString
        case (k, v @ (JArray(_) | JObject(_))) =>
          k -> JsonMethods.compact(JsonMethods.render(v))
      }.toMap
      case _ => Map.empty
    }
  }
}
