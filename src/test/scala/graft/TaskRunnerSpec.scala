package graft

import graft.operators.Quality
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

class TaskRunnerSpec extends SparkSpecBase {

  private val d = "/root/testdata/sf0.001"

  test("one compiled jar, two param sets: topN changes the result size") {
    val top10 = TaskRunner.run(spark, d, "q02_topn_flow")
    val top3 = TaskRunner.run(spark, d, "q02_topn_flow", Map("topN" -> "3"))
    assert(top10.count() == 10 && top3.count() == 3)
  }

  test("sessionize gap param changes session structure") {
    val wide = TaskRunner.run(spark, d, "q11_sessionize", Map("gapMs" -> "86400000"))
      .collect().map(_.getLong(1)).sum
    val tight = TaskRunner.run(spark, d, "q11_sessionize", Map("gapMs" -> "60000"))
      .collect().map(_.getLong(1)).sum
    assert(tight > wide, s"1-min gap sessions ($tight) should exceed 1-day gap ($wide)")
  }

  /** Whether `df`'s analyzed plan (before any cached frame stands in
    * for its subtree) reads the events table. */
  private def scansEvents(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().exists {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.getName == "events.parquet")
        case _ => false
      }
      case _ => false
    }

  test("date-range task params filter events before the operator") {
    // the table: every q runner whose default plan scans the events
    // table (the events-driven analyses are all q runners)
    val eventsDriven = TaskRunner.runners.keys.toSeq.sorted.filter(_.startsWith("q"))
      .filter(q => try scansEvents(TaskRunner.run(spark, d, q)) finally Caches.release())
    assert(eventsDriven.contains("q08_car_track"), s"got $eventsDriven")
    assert(TaskRunner.run(spark, d, "q08_car_track").count() > 0)
    val unfiltered = eventsDriven.filter { q =>
      try TaskRunner.run(spark, d, q, Map("startTs" -> "2099-01-01")).count() > 0
      finally Caches.release()
    }
    assert(unfiltered.isEmpty, s"runners that ignore startTs: ${unfiltered.mkString(", ")}")
  }

  test("JSON task_parm round trip drives a run") {
    val params = TaskRunner.parseParams("""{"topN": 5, "note": "ignored-extra"}""")
    assert(params("topN") == "5")
    assert(TaskRunner.run(spark, d, "q02_topn_flow", params).count() == 5)
  }

  test("q08 cap params: default cap is non-binding at test SF, 0 disables it") {
    val capped = TaskRunner.run(spark, d, "q08_car_track").collect()
    val uncapped = TaskRunner.run(spark, d, "q08_car_track",
      Map("maxEvents" -> "0")).collect()
    val tight = TaskRunner.run(spark, d, "q08_car_track",
      Map("maxEvents" -> "1")).collect()
    assert(capped.toSeq == uncapped.toSeq, "default 1000 cap must be non-binding here")
    assert(tight.forall(_.getLong(2) == 1L), "maxEvents=1 must truncate every track")
  }

  test("a04 cell params: labelCells=true reproduces the registered oracle twin") {
    // probing all 10 label cells leaves no candidate out, so the IVF
    // search must return exactly the brute-force twin's rows
    val shape = Map("nQueries" -> "10", "k" -> "3")
    val probedAll = TaskRunner.run(spark, d, "a04_ivf_knn",
      shape ++ Map("labelCells" -> "true", "nprobe" -> "10")).collect().toSeq
    val brute = TaskRunner.run(spark, d, "a01_knn_brute", shape).collect().toSeq
    assert(brute.nonEmpty && probedAll == brute)
    // unlabeled default with pinned cells still returns k rows per query
    val kmeans = TaskRunner.run(spark, d, "a04_ivf_knn",
      Map("cells" -> "5")).collect()
    assert(kmeans.nonEmpty)
  }

  test("round-9 runner params take effect: tau, window, spanTokens, batchSource") {
    // a10: tightening the radius can only shrink the result
    val wide = TaskRunner.run(spark, d, "a10_range_search").count()
    val tight = TaskRunner.run(spark, d, "a10_range_search", Map("tau" -> "0.99")).count()
    assert(tight < wide, s"tau=0.99 ($tight) must prune vs default ($wide)")
    // q39: a 1-microsecond window strands everyone at level <= 1
    val levels = TaskRunner.run(spark, d, "q39_window_funnel",
      Map("windowMicros" -> "1")).collect().map(_.getInt(0))
    assert(levels.forall(_ <= 1), s"got levels ${levels.toSeq}")
    // t17: smaller spans → more spans per doc
    def totalSpans(p: Map[String, String]) = TaskRunner.run(spark, d, "t17_span_scrub", p)
      .collect().map(_.getLong(1)).sum
    assert(totalSpans(Map("spanTokens" -> "5")) > totalSpans(Map.empty))
    // d11: swapping the batch source changes the left side of the pairs
    val left = TaskRunner.run(spark, d, "d11_dedup_against",
      Map("batchSource" -> "src1", "threshold" -> "0.5")).collect().map(_.getLong(0)).toSet
    val srcOf = Tables.documents(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    assert(left.forall(srcOf(_) == "src1"), "batch side must come from batchSource")
  }

  test("round-10 runner params take effect: variant, batchMod, k, topK, threshold") {
    // a11: the variant param swaps the index under evaluation
    val ivf = TaskRunner.run(spark, d, "a11_recall_eval",
      Map("variant" -> "ivf", "k" -> "2")).collect()
    assert(ivf.length == 10 && ivf.forall(r =>
      r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // a12: batchMod resizes the batch side exactly
    val nNew = TaskRunner.run(spark, d, "a12_ivf_append", Map("batchMod" -> "2"))
      .collect().map(_.getLong(2)).sum
    val expect = Tables.embeddings(spark, d).filter("vec_id % 2 = 0").count()
    assert(nNew == expect, s"batch side $nNew vs $expect")
    // a13: the vote count is bounded by k
    val votes = TaskRunner.run(spark, d, "a13_knn_classify", Map("k" -> "3"))
      .collect().map(_.getLong(2))
    assert(votes.forall(v => v >= 1 && v <= 3), s"got ${votes.toSeq}")
    // t21: L1 drift over a token subset is monotone in topK (every
    // term is non-negative; tolerance covers the per-source rounding)
    def driftSum(k: Int) = TaskRunner.run(spark, d, "t21_source_drift",
      Map("topK" -> k.toString)).collect().map(_.getDouble(2)).sum
    assert(driftSum(2) <= driftSum(50) + 1e-3)
    // d12: raising the threshold can only admit more batch docs
    def admitted(t: String) = TaskRunner.run(spark, d, "d12_ingest_admit",
      Map("threshold" -> t)).collect().count(_.getBoolean(1))
    assert(admitted("0.5") <= admitted("0.95"))
  }

  test("round-10 continuation params take effect: gapMs, windowDays, balanceFactor, dim") {
    // q44: a tighter session gap can only start more sessions
    def started(p: Map[String, String]) = TaskRunner.run(spark, d, "q44_peak_concurrency", p)
      .collect().map(_.getLong(2)).sum
    assert(started(Map("gapMs" -> "1")) >= started(Map.empty))
    // q45: a 1-day window collapses the trailing count onto the daily count
    val one = TaskRunner.run(spark, d, "q45_rolling_distinct", Map("windowDays" -> "1"))
      .collect()
    assert(one.nonEmpty && one.forall(r => r.getLong(1) == r.getLong(2)))
    val week = TaskRunner.run(spark, d, "q45_rolling_distinct").collect()
    assert(week.forall(r => r.getLong(1) >= r.getLong(2)))
    // a14: an unreachable balance factor splits nothing
    val calm = TaskRunner.run(spark, d, "a14_cell_split",
      Map("balanceFactor" -> "1000")).collect()
    assert(calm.nonEmpty && calm.forall(!_.getBoolean(2)), "no cell may split at factor 1000")
    // t22: dim drives the vector length
    val e8 = TaskRunner.run(spark, d, "t22_hash_embed", Map("dim" -> "8")).collect()
    assert(e8.forall(_.getSeq[Float](1).length == 8))
    // t23: capping epochs at 1 collapses upsampling to one copy per doc
    val flat = TaskRunner.run(spark, d, "t23_source_upsample", Map("maxEpochs" -> "1"))
      .collect()
    assert(flat.forall(_.getLong(2) == 0L), "maxEpochs=1 must emit copy 0 only")
    // q46: a wider MAD band can only flag fewer outliers
    def outliers(k: String) = TaskRunner.run(spark, d, "q46_robust_outliers",
      Map("k" -> k)).collect().map(_.getLong(4)).sum
    assert(outliers("10") <= outliers("1"))
  }

  test("round-11 params take effect: m07 minShared/maskBits, q49 windowDays") {
    // m07: requiring fewer shared chunks can only keep more pairs
    def pairs(p: Map[String, String]) =
      TaskRunner.run(spark, d, "m07_cdc_dedup", p).count()
    assert(pairs(Map("minShared" -> "1")) >= pairs(Map("minShared" -> "3")))
    // m07: finer chunking (lower maskBits → shorter expected chunks)
    // still runs end-to-end and reports pairs
    assert(pairs(Map("maskBits" -> "4", "minLen" -> "8")) > 0)
    // q49: a 1-day window collapses the trailing estimate onto the
    // daily estimate (the q45 twin property, on the sketch path)
    val one = TaskRunner.run(spark, d, "q49_rolling_distinct_hll",
      Map("windowDays" -> "1")).collect()
    assert(one.nonEmpty && one.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("round-11 bloom/stats params take effect: statCols, keyCol/topK, minTotal, fpp") {
    // q50: a single-column profile yields one row with that name
    val one = TaskRunner.run(spark, d, "q50_table_stats",
      Map("statCols" -> "l_suppkey")).collect()
    assert(one.length == 1 && one(0).getString(0) == "l_suppkey")
    // q52: keyCol switches the profiled key; topK bounds the report
    val sk = TaskRunner.run(spark, d, "q52_key_skew",
      Map("keyCol" -> "l_suppkey", "topK" -> "5")).collect()
    assert(sk.length == 5)
    // q51: a higher threshold can only shrink the semi-join aggregate
    def items(p: Map[String, String]) =
      TaskRunner.run(spark, d, "q51_bloom_semi_join", p)
        .collect().map(_.getLong(1)).sum
    assert(items(Map("minTotal" -> "450000")) < items(Map("minTotal" -> "150000")))
    // d13: a coarser bloom (higher fpp) can only raise maybe-counts
    def maybeTotal(p: Map[String, String]) =
      TaskRunner.run(spark, d, "d13_bloom_decontaminate", p)
        .collect().map(_.getLong(1)).sum
    assert(maybeTotal(Map("fpp" -> "0.2")) >= maybeTotal(Map("fpp" -> "0.001")))
    // t26: the report is bounded by min(k, topN)
    assert(TaskRunner.run(spark, d, "t26_frequent_terms",
      Map("k" -> "8", "topN" -> "50")).collect().length <= 8)
    // m09: halving the block size cannot shrink unique block bytes
    // on the same corpus more than the total (sanity: runs + shape)
    val m = TaskRunner.run(spark, d, "m09_storage_savings",
      Map("chunkBytes" -> "32")).collect()
    assert(m.nonEmpty && m.forall(r => r.getLong(4) <= r.getLong(2)))
    // q53: maxSteps=1 collapses every path to a single event type
    val p1 = TaskRunner.run(spark, d, "q53_session_paths",
      Map("maxSteps" -> "1", "topK" -> "3")).collect()
    assert(p1.length <= 3 && p1.forall(!_.getString(0).contains(">")))
  }

  test("every param-aware runner binds an existing inventory query") {
    val orphans = TaskRunner.runners.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"runners with no inventory query: $orphans")
  }

  test("FULL-COVERAGE sync guard: every inventory query resolves to a param-aware runner") {
    // the task table is the deployment entry point — an inventory id
    // without a runner can only run with compiled-in defaults
    val unbound = SparkEntry.queries.keySet -- TaskRunner.runners.keySet
    assert(unbound.isEmpty, s"${unbound.size} inventory ids have no param runner: $unbound")
    assert(SparkEntry.fixtures.keySet.subsetOf(TaskRunner.runners.keySet),
      s"fixtures with no runner: ${SparkEntry.fixtures.keySet -- TaskRunner.runners.keySet}")
  }

  test("every fixture name's runner builds and executes under default params") {
    // the inventory runs these names through their fixture bindings,
    // so only this spec exercises the runners' own default paths
    SparkEntry.fixtures.keys.toSeq.sorted.foreach { name =>
      try {
        val df = TaskRunner.run(spark, d, name)
        assert(df.columns.nonEmpty, name)
        df.collect()
      } finally graft.Caches.release()
    }
  }

  test("unknown query names are refused") {
    intercept[IllegalArgumentException] {
      TaskRunner.run(spark, d, "no_such_query")
    }
  }

  test("round-17 runner params take effect: q65 k, t27 rate, d18 threshold, a15 k, m02 chunking") {
    // q65: the KMV accuracy/state knob is task-tunable end to end;
    // estimates stay well-formed at a coarse k
    val kmv = TaskRunner.run(spark, d, "q65_kmv_overlap", Map("k" -> "16")).collect()
    assert(kmv.nonEmpty && kmv.forall { r =>
      val j = r.getDouble(r.fieldIndex("est_jaccard")); j >= 0.0 && j <= 1.0
    })
    // t27: the deterministic LCG coin makes the keep set monotone in rate
    def kept(rate: String) = TaskRunner.run(spark, d, "t27_weighted_sample",
      Map("rate" -> rate)).count()
    assert(kept("0.9") >= kept("0.05"))
    // d18: a higher containment threshold can only report fewer directions
    def dirs(t: String) = TaskRunner.run(spark, d, "d18_containment",
      Map("threshold" -> t)).count()
    assert(dirs("0.95") <= dirs("0.5"))
    // a15: k bounds the page size per query on the saved-index probe
    val page = TaskRunner.run(spark, d, "a15_ivf_probe_indexed", Map("k" -> "2"))
      .collect().groupBy(_.getLong(0))
    assert(page.nonEmpty && page.values.forall(_.length <= 2))
    // m02: a finer stride can only sample more chunks
    def chunks(p: Map[String, String]) =
      TaskRunner.run(spark, d, "m02_chunk_sample", p).count()
    assert(chunks(Map("stride" -> "2")) >= chunks(Map("stride" -> "8")))
  }

  test("t05 stopwords param is a value list: a quote in a stopword is matched, not parsed") {
    val viaTask = TaskRunner.run(spark, d, "t05_stopword_ratio",
      Map("stopwords" -> "don't,the")).collect().toSeq
    val direct = graft.text.TextStats.stopwordRatio(Tables.documents(spark, d),
      Seq("don't", "the")).collect().toSeq
    assert(viaTask.nonEmpty && viaTask == direct)
    assert(viaTask.forall(r => r.getInt(2) <= r.getInt(1)))
  }

  test("q74 checks are task-authorable: a JSON declaration drives the verdict table") {
    // the Deequ-style seam: a task_parm row declares its own constraint
    // suite (SQL-string predicates, all four check types) against the
    // loaded tables — no recompilation; the verdict table must contain
    // exactly the declared checks, with genuinely-failing ones failing
    val taskParm = """{"checks": [
      {"type":"rowPredicate","name":"custkey_nonneg","table":"customer",
       "predicate":"c_custkey >= 0"},
      {"type":"rowPredicate","name":"impossible_price","table":"orders",
       "predicate":"o_totalprice < 0"},
      {"type":"unique","name":"nation_key_unique","table":"nation","keys":["n_nationkey"]},
      {"type":"refIntegrity","name":"cust_nation_ri","child":"customer",
       "childKeys":["c_nationkey"],"parent":"nation","parentKeys":["n_nationkey"]},
      {"type":"joinPredicate","name":"ship_after_order","child":"lineitem",
       "childKeys":["l_orderkey"],"parent":"orders","parentKeys":["o_orderkey"],
       "predicate":"l_shipdate >= o_orderdate"}
    ]}"""
    val out = TaskRunner.run(spark, d, "q74_dq_constraints",
      TaskRunner.parseParams(taskParm)).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet == Set("custkey_nonneg", "impossible_price",
      "nation_key_unique", "cust_nation_ri", "ship_after_order"),
      s"verdict table must hold exactly the declared checks: ${out.keySet}")
    assert(out("custkey_nonneg") == ((0L, "pass")))
    assert(out("nation_key_unique") == ((0L, "pass")))
    assert(out("cust_nation_ri") == ((0L, "pass")))
    // every order has a positive price, so the declared check FAILS on
    // every row — both verdict branches exercised from task JSON alone
    assert(out("impossible_price")._2 == "fail" && out("impossible_price")._1 > 0L)
    // the default instance (no checks param) still runs the fixed suite
    val dflt = TaskRunner.run(spark, d, "q74_dq_constraints").collect()
    assert(dflt.map(_.getString(0)).contains("orders_totalprice_positive"))
    // malformed declarations refuse loudly, never silently drop checks
    intercept[IllegalArgumentException] {
      Quality.parseChecks("""[{"type":"unique","name":"x","table":"orders"}]""")
    }
    intercept[IllegalArgumentException] {
      Quality.parseChecks("""[{"type":"nope","name":"x"}]""")
    }
  }

  test("a27 targetRecall param calibrates rerank from the measured curve") {
    // stating the recall instead of a depth: targetRecall=1.0 must pick
    // a measured depth whose shortlist already contains every true
    // neighbor, so the result equals an exhaustive-depth run exactly
    val exact = TaskRunner.run(spark, d, "a27_bq_knn",
      Map("rerank" -> "1000000")).collect().toSeq
    val auto = TaskRunner.run(spark, d, "a27_bq_knn",
      Map("targetRecall" -> "1.0")).collect().toSeq
    assert(auto == exact,
      "targetRecall=1.0 must calibrate a depth that reranks to the exact top-k")
    graft.Caches.release()
  }

  test("a28 targetRecall persists its calibration beside a durable index and reuses it across runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_a28cal").toString + "/idx"
    val exact = TaskRunner.run(spark, d, "a28_ivf_bq_indexed",
      Map("rerank" -> "1000000")).collect().toSeq
    val first = TaskRunner.run(spark, d, "a28_ivf_bq_indexed",
      Map("targetRecall" -> "1.0", "indexPath" -> dir)).collect().toSeq
    assert(first == exact, "calibrated depth must rerank to the exact top-k")
    val depth = graft.ann.Ann.calibratedBqRerank(spark, dir, 1.0, 3)
    assert(depth.nonEmpty, "the run must persist its calibration sidecar")
    graft.Caches.release()
    // second run against the same durable index: the sidecar short-
    // circuits the ground-truth pass (pinned mechanically at the Ann
    // level); results are identical run over run
    val second = TaskRunner.run(spark, d, "a28_ivf_bq_indexed",
      Map("targetRecall" -> "1.0", "indexPath" -> dir)).collect().toSeq
    assert(second == first)
    assert(graft.ann.Ann.calibratedBqRerank(spark, dir, 1.0, 3) == depth)
    graft.Caches.release()
  }

  test("d21 maintenance knob: appendSource + refreezeMaxDecay fire the order-decay policy without changing the result") {
    val base = TaskRunner.run(spark, d, "d21_containment_probe_indexed")
      .collect().toSeq
    val split = TaskRunner.run(spark, d, "d21_containment_probe_indexed",
      Map("appendSource" -> "src1")).collect().toSeq
    assert(split == base,
      "seed+append must probe identically to the single-shot seed")
    // threshold 0 fires unconditionally on any post-seed vocabulary;
    // shared-total-order exactness keeps the result invariant
    val refrozen = TaskRunner.run(spark, d, "d21_containment_probe_indexed",
      Map("appendSource" -> "src1", "refreezeMaxDecay" -> "0.0"))
      .collect().toSeq
    assert(refrozen == base,
      "a policy-fired refreeze must not change probe results")
    graft.Caches.release()
  }
}
