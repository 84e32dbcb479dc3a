package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General relational operators rounding out the reference's query
  * surface: rollups, windows, pivots, join variants, set algebra,
  * skew-resistant aggregation, percentiles and histograms.
  */
object RelationalOps {

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Run SQL over per-invocation temp views of `dfs`: fixed view names
    * would let interleaved calls with different inputs on one session
    * clobber each other's views before the lazy plan runs. Views
    * resolve at analysis time, so forcing analysis lets them be
    * dropped before returning — the DataFrame carries the resolved
    * plan, not the view reference. */
  private def sqlOverViews(dfs: (String, DataFrame)*)(mkSql: Map[String, String] => String): DataFrame = {
    val spark = dfs.head._2.sparkSession
    require(dfs.forall(_._2.sparkSession eq spark),
      "sqlOverViews: all inputs must share one SparkSession — views register " +
        "in each DataFrame's own session but the SQL runs on the first's")
    val tag = s"graft_v${viewSeq.incrementAndGet()}"
    val names = dfs.map { case (alias, df) =>
      val v = s"${tag}_$alias"; df.createOrReplaceTempView(v); alias -> v
    }.toMap
    try {
      val out = spark.sql(mkSql(names))
      out.queryExecution.analyzed // force view resolution before the drop
      out
    } finally names.values.foreach(spark.catalog.dropTempView)
  }

  /** q12_rollup — hierarchical ROLLUP (region → nation → total), the
    * declarative form of the reference's multi-level accumulator
    * report. NULL group slots are surfaced as 'ALL' so the output has
    * no ambiguous nulls. */
  def rollupAgg(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame = {
    val joined = customer
      .join(broadcast(nation.select("n_nationkey", "n_regionkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
    // SQL form: the DataFrame rollup's Expand output trips the
    // ambiguous-self-join check when re-selected; GROUP BY ROLLUP in
    // SQL plans identically without the lineage quirk
    sqlOverViews("src" -> joined) { v =>
      s"""SELECT coalesce(r_name, 'ALL') AS r_name,
                coalesce(n_name, 'ALL') AS n_name,
                count(*) AS cust_cnt,
                round(sum(c_acctbal), 2) AS acctbal_sum
         FROM ${v("src")}
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name, n_name"""
    }
  }

  /** q35_salted_join — skew-resistant replicated join: when a handful
    * of hot join keys would funnel most fact rows into a few shuffle
    * partitions, replicate the small build side `salts` times and
    * scatter each fact row to one replica — a hot key's rows spread
    * across `salts` tasks at the cost of a salts-x larger (still
    * broadcastable) build side. Complements q19's salted aggregation;
    * the result provably equals the unsalted join, which is exactly
    * what the oracle checks. AQE's skew-join splits oversized
    * partitions post hoc; explicit salting is the deterministic form
    * for known-hot keys and composes with bucketed layouts. */
  def saltedJoin(lineitem: DataFrame, supplier: DataFrame, salts: Int = 8): DataFrame = {
    val fact = lineitem
      .withColumn("salt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts)).cast("int"))
    val dim = supplier.select(col("s_suppkey"), col("s_nationkey"))
      .withColumn("d_salt", explode(sequence(lit(0), lit(salts - 1))))
    fact
      .join(broadcast(dim),
        col("l_suppkey") === col("s_suppkey") && col("salt") === col("d_salt"))
      .groupBy("s_nationkey")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n_li"))
      .orderBy("s_nationkey")
  }

  /** q31_cube — full CUBE over (priority, status): every grouping-set
    * combination in one pass (Expand + single aggregation — Catalyst
    * plans one shuffle, not 4 unioned queries). NULL slots surfaced as
    * 'ALL', same protocol as q12. */
  def cubeAgg(orders: DataFrame): DataFrame =
    sqlOverViews("orders" -> orders) { v =>
      s"""SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
                coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
                count(*) AS order_cnt,
                round(sum(o_totalprice), 2) AS total_price
         FROM ${v("orders")}
         GROUP BY CUBE(o_orderpriority, o_orderstatus)
         ORDER BY o_orderpriority, o_orderstatus"""
    }

  /** q40_grouping_sets — ARBITRARY grouping sets (the general form
    * q12's ROLLUP and q31's CUBE specialize): here the two single-
    * dimension marginals plus the full cross — a report sheet's "by
    * status, by priority, and by both" in ONE Expand + one shuffled
    * aggregation instead of three unioned queries. NULL slots surface
    * as 'ALL' (the q12 protocol); the set list is SQL-identical in
    * both engines. */
  def groupingSets(orders: DataFrame): DataFrame =
    sqlOverViews("orders" -> orders) { v =>
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
                coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
                count(*) AS order_cnt,
                round(sum(o_totalprice), 2) AS total_price
         FROM ${v("orders")}
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                 (o_orderstatus), (o_orderpriority))
         ORDER BY o_orderstatus, o_orderpriority"""
    }

  /** q32_moving_window — trailing 5-row sliding-frame aggregate per
    * customer (the smoothing pass of any monitoring series): recent
    * spend sum + row count (the consumer derives the mean; a raw
    * windowed avg over a PARTIAL frame divides cents by 3 — a
    * non-terminating decimal no cross-engine rounding survives, the
    * SURVEY §5 rule). ROWS frame keeps per-row state bounded
    * regardless of partition size. */
  def movingWindow(orders: DataFrame, frame: Int = 5): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-(frame - 1), Window.currentRow)
    orders
      .withColumn("recent_spend", round(sum("o_totalprice").over(w), 2))
      .withColumn("recent_orders", count(lit(1)).over(w))
      .select("o_custkey", "o_orderkey", "recent_spend", "recent_orders")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q13_running_total — cumulative windowed sum per entity (running
    * spend per customer over order time). ROWS frame with a full
    * deterministic tiebreak so the partial sums are reproducible. */
  def runningTotal(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .withColumn("running_spend", round(sum("o_totalprice").over(w), 2))
      .select("o_custkey", "o_orderkey", "running_spend")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q15_pivot — pivot to wide conditional counts (order status per
    * market segment). The value list is supplied explicitly so the plan
    * is a single pass (no extra distinct-values job). */
  def pivotStatus(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(broadcast(customer.select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(
        col("c_mktsegment"),
        col("O").as("cnt_o"), col("F").as("cnt_f"), col("P").as("cnt_p"))
      .orderBy("c_mktsegment")

  /** q16_anti_join — entities with no matching facts (customers with no
    * high-value order). Plans as a broadcast/shuffled hash anti join
    * with the fact-side filter pushed below the join. */
  def antiJoin(customer: DataFrame, orders: DataFrame, minPrice: Double = 400000): DataFrame =
    customer
      .join(orders.filter(col("o_totalprice") > minPrice).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** q17_semi_join — existence filter (parts that ever shipped at max
    * quantity). The filter is pushed below the join; the semi join
    * never materializes fact columns. */
  def semiJoin(part: DataFrame, lineitem: DataFrame, minQty: Double = 48): DataFrame =
    part
      .join(lineitem.filter(col("l_quantity") >= minQty).select("l_partkey"),
        col("p_partkey") === col("l_partkey"), "left_semi")
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")

  /** q18_set_ops — cohort algebra: big-spender custkeys EXCEPT a
    * segment cohort. EXCEPT plans as a distinct + anti-join shuffle on
    * the key. */
  def setOps(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.filter(col("o_totalprice") > 250000).select(col("o_custkey").as("custkey")).distinct()
      .except(customer.filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey").as("custkey")))
      .orderBy("custkey")

  /** q19_salted_agg — skew-resistant two-phase aggregation: a salt key
    * splits hot groups across partitions for the partial agg, then the
    * final agg merges per real key. Result is identical to the plain
    * groupBy (the oracle checks exactly that). At 100 TB this is the
    * pattern for power-law keys where AQE's skew handling isn't enough
    * (e.g. a single monitor with 30% of all traffic). */
  def saltedAgg(orders: DataFrame, saltBuckets: Int = 8): DataFrame =
    orders
      .withColumn("salt", pmod(col("o_orderkey"), lit(saltBuckets)))
      .groupBy("o_orderpriority", "salt")
      .agg(count(lit(1)).as("part_cnt"), sum("o_totalprice").as("part_sum"))
      .groupBy("o_orderpriority")
      .agg(
        sum("part_cnt").as("order_cnt"),
        round(sum("part_sum"), 2).as("total_price"))
      .orderBy("o_orderpriority")

  /** q21_percentile — exact interpolated percentiles per group
    * (median / p90 speed per checkpoint class). Exact `percentile`
    * buffers every value of a group in one aggregation buffer — fine
    * at test SFs and the strongest oracle, but an executor OOM at
    * 100 TB. q29 below is the scale path; this stays as its oracle
    * twin (the q28/q29 pattern). */
  def percentiles(lineitem: DataFrame): DataFrame = {
    val qty = exactGroupPercentiles(lineitem, "l_returnflag", "l_quantity",
      Seq(0.5, 0.9))
    val price = exactGroupPercentiles(lineitem, "l_returnflag", "l_extendedprice",
      Seq(0.5))
    qty.select(col("l_returnflag"),
        col("__p0").as("q50"), col("__p1").as("q90"))
      .join(price.select(col("l_returnflag"), col("__p0").as("pr50")),
        Seq("l_returnflag"))
      .select(col("l_returnflag"),
        round(col("q50"), 2).as("p50_qty"),
        round(col("q90"), 2).as("p90_qty"),
        round(col("pr50"), 3).as("p50_price"))
      .orderBy("l_returnflag")
  }

  /** EXACT grouped percentiles as a DISTRIBUTED plan — the scale
    * rewrite of the built-in holistic `percentile`, which buffers
    * every raw value of a group in one task's aggregation buffer
    * (the 2nd-slowest operator of the sf1/sf2 rehearsals, and at
    * 100 TB an OOM). Shape: (1) groupBy (group, value) count — a
    * partial aggregation, so the exchange carries one row per
    * DISTINCT value (domain-bounded: prices have at most 10.4M
    * representable points however many rows exist); (2) running and
    * total counts over a per-group window — a spillable sort of
    * (value, count) pairs, never an in-memory buffer of raw rows;
    * (3) one tiny final aggregation picks, for each requested p, the
    * two values straddling rank p·(n−1) and interpolates with the
    * built-in's exact formula `lo + (hi − lo)·frac` — bit-equal to
    * `percentile` / DuckDB `quantile_cont` (oracle-proven at sf0.01
    * and sf1). Returns `group, __p0, __p1, …` in `ps` order. */
  private[graft] def exactGroupPercentiles(df: DataFrame, groupCol: String,
                                           valueCol: String,
                                           ps: Seq[Double]): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(valueCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(groupCol).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    var d = counts
      .withColumn("__cum", sum("__c").over(wCum))
      .withColumn("__n", sum("__c").over(wAll))
    ps.zipWithIndex.foreach { case (p, i) =>
      d = d.withColumn(s"__r$i", lit(p) * (col("__n") - 1).cast("double"))
    }
    val aggs = ps.indices.flatMap { i =>
      Seq(
        min(when(col("__cum") >= floor(col(s"__r$i")) + 1, col("__v"))).as(s"__lo$i"),
        min(when(col("__cum") >= ceil(col(s"__r$i")) + 1, col("__v"))).as(s"__hi$i"),
        max(col(s"__r$i") - floor(col(s"__r$i"))).as(s"__f$i"))
    }
    d.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(groupCol) +: ps.indices.map { i =>
        (col(s"__lo$i") + (col(s"__hi$i") - col(s"__lo$i")) * col(s"__f$i"))
          .as(s"__p$i")
      }: _*)
  }

  /** q29_percentile_approx — the 100 TB percentile path: single-pass
    * mergeable KLL-style sketch (`percentile_approx`), O(accuracy)
    * memory per group regardless of group size, partial-agg friendly
    * (sketches merge map-side). Error is bounded by 1/accuracy of
    * rank; the spec bounds it against the exact q21 values. */
  def percentilesApprox(lineitem: DataFrame, accuracy: Int = 10000): DataFrame =
    lineitem
      .groupBy("l_returnflag")
      .agg(
        round(expr(s"percentile_approx(l_quantity, 0.5, $accuracy)"), 2).as("p50_qty"),
        round(expr(s"percentile_approx(l_quantity, 0.9, $accuracy)"), 2).as("p90_qty"),
        round(expr(s"percentile_approx(l_extendedprice, 0.5, $accuracy)"), 3).as("p50_price"))
      .orderBy("l_returnflag")

  /** q33_division — relational division ("for all"): customers whose
    * EVERY order is urgent-priority (and who have at least one order).
    * Declaratively: semi join on having orders, anti join on having a
    * counter-example — both existence joins materialize no fact
    * columns and push their filters to the scan. */
  def division(customer: DataFrame, orders: DataFrame,
               priority: String = "1-URGENT"): DataFrame =
    customer
      .join(orders.select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .join(orders.filter(col("o_orderpriority") =!= priority).select(col("o_custkey").as("bad_cust")),
        col("c_custkey") === col("bad_cust"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** q22_orders_histogram — distribution histogram via outer join +
    * double aggregation (TPC-H Q13 shape: how many customers placed k
    * orders). */
  def ordersHistogram(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy("c_count")

  /** q36_correlated_subquery — correlated scalar subquery (TPC-H Q17
    * shape): lineitems whose quantity falls below half their part's
    * own average quantity, revenue summed per brand. The subquery is
    * left CORRELATED on purpose: Catalyst decorrelates it into one
    * per-part aggregate + join (RewriteCorrelatedScalarSubquery), so
    * the physical plan never re-executes the subquery per row — the
    * same plan a hand-decorrelated formulation gets, with the honest
    * SQL surface users actually write. */
  def correlatedSubquery(lineitem: DataFrame, part: DataFrame,
                         ratio: Double = 0.5): DataFrame =
    sqlOverViews("lineitem" -> lineitem, "part" -> part) { v =>
      s"""SELECT p_brand,
                count(*) AS n_small,
                floor(sum(l_extendedprice)*100 + 0.5)/100 AS small_revenue
         FROM ${v("lineitem")} JOIN ${v("part")} ON p_partkey = l_partkey
         WHERE l_quantity < (SELECT $ratio * avg(l2.l_quantity)
                             FROM ${v("lineitem")} l2
                             WHERE l2.l_partkey = p_partkey)
         GROUP BY p_brand
         ORDER BY p_brand"""
    }

  /** q48_price_band — numeric BAND self-join: pairs of same-brand
    * parts whose retail prices differ by at most `eps` — the "find
    * near-identical values" shape (price matching, sensor
    * cross-validation, reconciliation) whose naive form is an
    * inequality self-join, i.e. a per-group cartesian. The scale
    * technique is the BUCKET KEY: floor(x/eps) discretizes the band —
    * a qualifying pair's buckets differ by at most 1 — so each row
    * probes its own and both neighbor buckets (one compiled explode)
    * and the join runs on (brand, bucket) equality, a plain shuffled
    * hash join; the exact |Δ| ≤ eps predicate then prunes the
    * candidates. A pair meets exactly once (the probe enumerates the
    * right row's single bucket), so no distinct is needed. This is
    * the same bucketing that makes d06/a02 sub-quadratic in hash
    * space and q27 in time, applied to plain numeric data —
    * PlanSpec pins that no cartesian/BNLJ appears.
    *
    * Scale honesty (sf1/sf2 rehearsal): with a FIXED value domain the
    * qualifying-pair count itself grows quadratically with density
    * (10x parts in the same price range = ~100x pairs; measured 16x
    * wall at sf1, 5.7x per further 2x at sf2) — that cost is the
    * ANSWER SIZE, which no algorithm avoids; the bucket-key plan
    * keeps the work proportional to candidates + output. At 100 TB
    * either eps shrinks with the domain's density or the consumer
    * wants q22's histogram, not the pair list.
    *
    * DENSITY GUARD: a skewed price domain (one popular price point)
    * makes one (brand, bucket) quadratic on its own. [[priceBandStats]]
    * is the pre-flight report (q52's role for join keys, here for band
    * buckets): per-bucket row counts and the implied candidate-pair
    * mass, heaviest first — run it BEFORE the pair join at a new SF.
    * `maxBucketRows` is the enforcement knob: buckets holding more
    * rows than the cap are EXCLUDED from pair enumeration (their rows
    * emit no pairs), so a hot price point degrades to a reported gap
    * instead of a silent quadratic explosion. The default (None) keeps
    * the exact contract — the oracle row runs uncapped. */
  def priceBand(part: DataFrame, eps: Double = 0.50,
                maxBucketRows: Option[Long] = None): DataFrame = {
    val p0 = part.select(col("p_partkey").as("k"), col("p_brand").as("brand"),
      col("p_retailprice").as("x"))
      .withColumn("b", floor(col("x") / eps).cast("long"))
    // the cap filters ROWS by their OWN bucket's population (one
    // count aggregation at bucket grain, broadcast back): a row in an
    // over-cap bucket neither probes nor is probed, which keeps the
    // "a pair meets exactly once" accounting intact for survivors
    val p = maxBucketRows match {
      case None => p0
      case Some(cap) =>
        val hot = p0.groupBy("brand", "b").agg(count(lit(1)).as("__n"))
          .filter(col("__n") > cap).select("brand", "b")
        p0.join(broadcast(hot), Seq("brand", "b"), "left_anti")
    }
    val probes = p
      .select(col("k").as("k_a"), col("brand"), col("x").as("x_a"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("pb"))
    val right = p.select(col("k").as("k_b"), col("brand"), col("x").as("x_b"),
      col("b").as("pb"))
    probes.join(right, Seq("brand", "pb"))
      .filter(col("k_a") < col("k_b") && abs(col("x_a") - col("x_b")) <= eps)
      .select(col("brand"), col("k_a"), col("k_b"),
        graft.Num.stableRound(abs(col("x_a") - col("x_b")), 2).as("price_gap"))
      .orderBy("brand", "k_a", "k_b")
  }

  /** q48's pre-flight density report: the `topK` heaviest (brand,
    * band-bucket) cells with their row count and implied
    * candidate-pair mass n·(n−1)/2 — the number that says whether the
    * pair join is safe to run at this SF/eps, before it runs. One
    * count aggregation at bucket grain + a bounded TakeOrdered, same
    * cost model as q52. */
  def priceBandStats(part: DataFrame, eps: Double = 0.50,
                     topK: Int = 20): DataFrame =
    part.select(col("p_brand").as("brand"),
        floor(col("p_retailprice") / eps).cast("long").as("bucket"))
      .groupBy("brand", "bucket").agg(count(lit(1)).as("n_rows"))
      .withColumn("candidate_pairs",
        (col("n_rows") * (col("n_rows") - 1) / 2).cast("long"))
      .orderBy(col("n_rows").desc, col("brand"), col("bucket"))
      .limit(topK)

  /** q47_equi_depth — equi-depth histogram of a fact column (the
    * table-statistics building block behind ANALYZE / CBO selectivity
    * and data profiling): `buckets` boundaries at the exact
    * interpolated quantiles, then per-bucket row count + value range.
    * Deliberately NOT an ntile window — that plan is one global sort
    * of the fact table. Here the boundaries come from ONE exact
    * percentile aggregation (the q21 machinery, partial-agg friendly),
    * ride broadcast as a 9-element array, and each row finds its
    * bucket with a compiled array fold — two narrow passes, no global
    * ordering anywhere. Ties at a boundary go to the lower bucket
    * (strict > against each boundary), mirrored in the oracle.
    * `exact = false` IS the 100 TB path: the boundaries come from
    * q29's mergeable percentile sketch instead — O(accuracy) memory
    * in the single boundary group instead of buffering every value —
    * with the identical bucket-count pass downstream. The exact
    * default keeps the oracle. */
  def equiDepth(lineitem: DataFrame, buckets: Int = 10,
                exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(buckets >= 2, "equiDepth: need at least 2 buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    // exact boundaries via the distributed counts machinery (see
    // exactGroupPercentiles) instead of the holistic builtin — same
    // values, no single-task buffer of raw rows
    val bnd =
      if (exact)
        exactGroupPercentiles(lineitem.withColumn("__g", lit(1)), "__g",
            "l_extendedprice", qs)
          .select(array(qs.indices.map(i => col(s"__p$i")): _*).as("bnd"))
      else lineitem.agg(
        expr(s"percentile_approx(l_extendedprice, array(${qs.mkString(", ")}), $accuracy)")
          .cast("array<double>").as("bnd"))
    lineitem.select(col("l_extendedprice").as("x"))
      .crossJoin(broadcast(bnd))
      .withColumn("bucket",
        expr("aggregate(bnd, 0, (acc, v) -> acc + CASE WHEN x > v THEN 1 ELSE 0 END)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        graft.Num.stableRound(min("x"), 2).as("lo"),
        graft.Num.stableRound(max("x"), 2).as("hi"))
      .orderBy("bucket")
  }

  /** q46_robust_outliers — robust per-group outlier report via
    * median + MAD (median absolute deviation): for each order
    * priority, the exact interpolated median of o_totalprice, the MAD
    * around it, and how many orders sit more than `k` MADs out — the
    * numeric data-cleaning decision mean/stddev can't make (both are
    * themselves dragged by the outliers they're meant to flag; the
    * median/MAD pair has a 50% breakdown point). This is a06's
    * embedding-space outlier flag re-expressed for plain numeric
    * facts.
    *
    * Exactness: the medians are the q21 exact-percentile machinery
    * (bit-identical to DuckDB quantile_cont), |x−med| and k·mad are
    * single IEEE ops on engine-identical doubles, so the oracle
    * checks the flag COUNTS exactly — display stats round via
    * stableRound. Scale: three passes over the fact values with
    * group-grain broadcast joins between them — the honest exact-MAD
    * cost; `exact = false` swaps both medians to q29's mergeable
    * sketch (O(accuracy) memory per group, same plan shape) — the
    * shipped 100 TB path, spec-bounded against the exact flags. The
    * values relation is tracked-cached so the three passes scan the
    * parquet once. */
  def robustOutliers(orders: DataFrame, k: Double = 3.0,
                     exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    val vals = graft.Caches.tracked(
      orders.select(col("o_orderpriority").as("grp"), col("o_totalprice").as("x")))
    val (devs, mad) = medianMad(vals, Some("grp"), "x", keep = graft.Caches.tracked,
      approxAccuracy = if (exact) None else Some(accuracy))
    devs.join(broadcast(mad), "grp")
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n"),
        min("med").as("med_raw"), // constant per group; min is the deterministic pick
        min("mad").as("mad_raw"),
        sum(when(col("adev") > lit(k) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col("grp").as("o_orderpriority"), col("n"),
        graft.Num.stableRound(col("med_raw"), 2).as("med"),
        graft.Num.stableRound(col("mad_raw"), 2).as("mad"),
        col("n_outliers"))
      .orderBy("o_orderpriority")
  }

  /** The median-and-MAD derivation behind q46, q60 and q78: `med` is
    * the p50 of `valueCol`, attached beside every value row with
    * `adev` = |value − med|, and `mad` is the p50 of adev — per `group`,
    * or over all rows when `group` is None (the one-row stats then
    * attach by a broadcast cross join). Both p50s are exact picks of
    * the distributed exactGroupPercentiles (no holistic per-group
    * buffer) unless `approxAccuracy` swaps in q46's mergeable
    * percentile_approx sketch. `keep` wraps the deviation frame: a
    * caller that reads it twice passes Caches.tracked. Returns (devs,
    * mad): the value rows with med and adev, and the mad per group. */
  private[graft] def medianMad(vals: DataFrame, group: Option[String], valueCol: String,
                               keep: DataFrame => DataFrame = identity,
                               approxAccuracy: Option[Int] = None): (DataFrame, DataFrame) = {
    val keys = group.toSeq.map(col)
    def p50(df: DataFrame, c: String, as: String): DataFrame = approxAccuracy match {
      case None =>
        val g = group.getOrElse("__g")
        exactGroupPercentiles(if (group.isEmpty) df.withColumn(g, lit("all")) else df,
          g, c, Seq(0.5)).select(keys :+ col("__p0").as(as): _*)
      case Some(acc) => df.groupBy(keys: _*)
        .agg(expr(s"percentile_approx($c, 0.5, $acc)").cast("double").as(as))
    }
    val med = p50(vals, valueCol, "med")
    val withMed = group.fold(vals.crossJoin(broadcast(med)))(g => vals.join(broadcast(med), g))
    val devs = keep(withMed.withColumn("adev", abs(col(valueCol) - col("med"))))
    (devs, p50(devs, "adev", "mad"))
  }

  /** q50_table_stats — ANALYZE-style column statistics in ONE pass:
    * per integer column the non-null count, null count, distinct
    * count, min and max, unpivoted to a (column_name, stats...) row
    * per column. This is the profile every planner, layout decision
    * (sink_zorder's clustering keys, bucketing counts) and data-quality
    * gate starts from — ANALYZE TABLE COMPUTE STATISTICS as an
    * inventory operator whose output a pipeline can act on.
    *
    * Plan shape: all `4·|cols|+1` aggregates ride ONE aggregation —
    * the multi-distinct Expand (q07's machinery) is a single shuffle
    * of partial aggregates regardless of table width, and the
    * `stack` unpivot is a driver-free generator over the one result
    * row. `exact = false` IS the 100 TB posture: every distinct count
    * swaps to approx_count_distinct's mergeable HLL (no Expand
    * row-multiplication at all — partial sketches merge map-side),
    * which is exactly what ANALYZE does at warehouse scale. The exact
    * default keeps the oracle; ApproxSpec bounds the sketch path. */
  def tableStats(lineitem: DataFrame,
                 statCols: Seq[String] =
                   Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
                 exact: Boolean = true, rsd: Double = 0.02): DataFrame = {
    require(statCols.nonEmpty, "tableStats: need at least one column")
    val aggs = statCols.flatMap { c =>
      Seq(
        count(col(c)).as(s"nn_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c), rsd)).as(s"nd_$c"),
        min(col(c)).cast("long").as(s"mn_$c"),
        max(col(c)).cast("long").as(s"mx_$c"))
    }
    val all = count(lit(1)).as("n_rows") +: aggs
    val one = lineitem.agg(all.head, all.tail: _*)
    val stackArgs = statCols.map(c =>
      s"'$c', nn_$c, n_rows - nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
    one.select(col("n_rows"),
        expr(s"stack(${statCols.size}, $stackArgs) AS " +
          "(column_name, n_non_null, n_nulls, n_distinct, min_val, max_val)"))
      .select("column_name", "n_rows", "n_non_null", "n_nulls",
        "n_distinct", "min_val", "max_val")
      .orderBy("column_name")
  }

  /** q52_key_skew — join/agg-key skew diagnosis: the top-K heaviest
    * keys of a column with their row share, against the key-count
    * distribution summary (n_keys, median count, max count, and
    * skew_ratio = max/median — the number that says whether q19/q35's
    * salting or AQE skew-join handling is needed BEFORE the 100 TB
    * join stalls on one straggler partition). The report every
    * pipeline owner wants from "why is stage 7 slow".
    *
    * Plan shape: ONE count aggregation to the (key, cnt) table —
    * |keys| rows, orders of magnitude smaller than the fact table —
    * tracked-cached and read twice: a one-row summary aggregate
    * (broadcast back onto the report) and a top-K via orderBy+limit
    * (TakeOrdered — a bounded heap per partition plus a K-row driver
    * merge, never a global sort materialization). Determinism: ties
    * break on key; share and skew_ratio are single IEEE divisions of
    * integer-exact values, bit-equal across engines (the q46
    * percentile convention for the median).
    *
    * `exact=true` (the oracle default) computes the median key count
    * with the built-in EXACT percentile — a holistic aggregate that
    * buffers every one of the |keys| cnt values in ONE task, which at
    * 100 TB with 10⁹+ distinct keys is gigabytes in a single
    * aggregation buffer: the very straggler/OOM this operator exists
    * to diagnose. `exact=false` is the scale path: approx_percentile
    * is a mergeable KLL-style sketch, so the summary aggregate
    * partials combine map-side like any algebraic aggregate
    * (ApproxSpec bounds the sketch median within 5% of exact). */
  def keySkew(lineitem: DataFrame, keyCol: String = "l_partkey",
              topK: Int = 20, exact: Boolean = true,
              accuracy: Int = 10000): DataFrame = {
    require(topK >= 1, s"keySkew: topK must be >= 1, got $topK")
    val counts = graft.Caches.tracked(
      lineitem.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("cnt")))
    // exact median via the distributed counts machinery (cnt values
    // have few distinct points — the (value, count) relation is tiny
    // even at 1e9 keys); the sketch path stays the one-aggregation
    // mergeable form, cast to double so both paths share one schema
    val summary =
      if (exact)
        counts.agg(
            count(lit(1)).as("n_keys"),
            sum("cnt").as("n_rows"),
            max("cnt").as("max_cnt"))
          .crossJoin(broadcast(
            exactGroupPercentiles(counts.withColumn("__g", lit(1)), "__g",
                "cnt", Seq(0.5))
              .select(col("__p0").as("p50_cnt"))))
          .select(col("n_keys"), col("n_rows"), col("p50_cnt"), col("max_cnt"))
      else counts.agg(
        count(lit(1)).as("n_keys"),
        sum("cnt").as("n_rows"),
        expr(s"approx_percentile(cnt, 0.5, $accuracy)").cast("double").as("p50_cnt"),
        max("cnt").as("max_cnt"))
    counts.orderBy(col("cnt").desc, col("key"))
      .limit(topK)
      .crossJoin(broadcast(summary))
      .withColumn("share",
        col("cnt").cast("double") / col("n_rows").cast("double"))
      .withColumn("skew_ratio",
        col("max_cnt").cast("double") / col("p50_cnt"))
      .select("key", "cnt", "share", "n_keys", "n_rows", "p50_cnt",
        "max_cnt", "skew_ratio")
      .orderBy(col("cnt").desc, col("key"))
  }

  /** q51_bloom_semi_join — semi join with an explicit Bloom
    * PRE-FILTER on the probe side: the filtered orders keys fold into
    * a fixed-size Bloom filter (distributed build, d13's machinery),
    * every lineitem row probes it in ONE compiled expression BEFORE
    * any exchange, and only survivors enter the real semi join. The
    * Bloom is a pure optimization: false positives are removed by the
    * join, false negatives don't exist — the result is EXACTLY the
    * plain semi-join aggregate, which is what the oracle checks.
    *
    * This is the technique Spark's AQE injects implicitly as a
    * runtime filter for shuffle joins (internal
    * BloomFilterAggregate/BloomFilterMightContain pair) — exposed
    * here as an explicit, parameterizable operator: at 100 TB with a
    * build side past the broadcast ceiling, the probe shuffle moves
    * only rows that pass the Bloom (~selectivity + fpp of the table)
    * instead of every row, and the filter itself needs no shuffle,
    * no broadcast hash relation — just the bitset's bytes riding
    * into codegen. fpp trades bitset size against wasted shuffle. */
  def bloomSemiJoin(lineitem: DataFrame, orders: DataFrame,
                    minTotal: Double = 350000.0, fpp: Double = 0.01): DataFrame = {
    val spark = lineitem.sparkSession
    val keys = graft.Caches.tracked(
      orders.filter(col("o_totalprice") > minTotal).select("o_orderkey"))
    val bloom = keys.stat.bloomFilter("o_orderkey", math.max(keys.count(), 1L), fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val fname = graft.functions.GraftFunctions.registerBloomContains(spark, bytes)
    val out = lineitem
      .filter(expr(s"$fname(l_orderkey)"))
      .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy("l_returnflag")
    graft.functions.GraftFunctions.dropFunction(spark, fname)
    out
  }

  /** q54_fuzzy_join — approximate string self-join (record linkage /
    * entity resolution / vocabulary reconciliation): all pairs of
    * DISTINCT part names within Levenshtein distance `maxDist`. The
    * distinct-value grain is deliberate — fuzzy linkage canonicalizes
    * the string DOMAIN (vendor names, product titles, URLs), then the
    * resulting pair mapping broadcasts back onto the rows; joining at
    * row grain would multiply every domain pair by its row
    * multiplicity for no information.
    *
    * Scale technique — q-gram blocking with the count bound (Gravano
    * et al., VLDB 2001, the canonical approximate string join): an
    * edit destroys at most q of a string's positional q-grams, so a
    * pair within distance k shares at least
    * max(len)−(q−1)−k·q bag q-grams. Each name explodes into its
    * character-bigram BAG once (name-domain grain, not corpus grain);
    * the gram-keyed self-join accumulates the bag intersection
    * (Σ min(cnt_a, cnt_b)) and the count bound prunes candidates
    * BEFORE the exact levenshtein verify — the same
    * block-then-verify shape as d03's bands and q48's buckets, on
    * edit-distance semantics. Pairs where the bound is vacuous (both
    * strings shorter than q·(k+1) chars) fall back to a length-banded
    * short-string block, so recall stays EXACT by pigeonhole — the
    * oracle is the plain all-pairs predicate. Hot grams inflate only
    * the candidate join's input volume (never its output — the count
    * bound caps that); the scale knob is raising q, which thins every
    * block exponentially. */
  def fuzzyJoin(part: DataFrame, maxDist: Int = 2): DataFrame = {
    val q = 2
    // tracked: the distinct name domain feeds the gram derivation AND
    // the short-string block; the gram bag feeds both sides of the
    // candidate self-join — one corpus scan + one gram pass total
    // (released by the caller's Caches.release())
    val names = graft.Caches.tracked(
      part.select(col("p_name").as("name")).distinct()
        .withColumn("len", length(col("name"))))
    // positional q-gram BAG per name: (name, gram, cnt); names too
    // short to hold one full gram contribute no grams (sequence()
    // would otherwise run DESCENDING for len < q and fabricate grams)
    val grams = graft.Caches.tracked(names
      .select(col("name"), col("len"),
        explode(when(col("len") >= q,
          expr(s"transform(sequence(1, len - ${q - 1}), i -> substring(name, i, $q))"))
          .otherwise(expr("array()"))).as("gram"))
      .groupBy("name", "len", "gram").agg(count(lit(1)).as("cnt")))
    val candGram = grams.as("x")
      .join(grams.as("y"),
        col("x.gram") === col("y.gram") && col("x.name") < col("y.name"))
      .groupBy(col("x.name").as("name_a"), col("y.name").as("name_b"),
        col("x.len").as("len_a"), col("y.len").as("len_b"))
      .agg(sum(least(col("x.cnt"), col("y.cnt"))).as("shared"))
      .filter(col("shared") >=
        greatest(col("len_a"), col("len_b")) - (q - 1) - maxDist * q)
      .select("name_a", "name_b")
    // short-string fallback: when max(len) < q·(k+1) the bound above
    // is < 1 and gram blocking can miss (e.g. "ab"/"cd" at k=2 share
    // nothing) — those pairs meet in a bounded length-banded block
    val shortLen = q * (maxDist + 1) - 1
    val shorts = names.filter(col("len") <= shortLen)
    val shortPairs = shorts.as("x")
      .join(shorts.as("y"),
        col("x.name") < col("y.name") &&
          abs(col("x.len") - col("y.len")) <= maxDist)
      .select(col("x.name").as("name_a"), col("y.name").as("name_b"))
    // threshold variant = banded DP: each verify costs O(k·len), not
    // O(len²); pairs beyond the band report -1 and die in the filter
    candGram.unionByName(shortPairs).distinct()
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .orderBy("name_a", "name_b")
  }

  /** q55_spend_deciles — customer spend concentration (the Pareto /
    * decile table): customers ranked by lifetime spend, cut into
    * `tiers` equal-count tiers (tier 0 = lowest spenders), per tier
    * the customer count, spend total and share of corpus spend — the
    * "do 10% of customers carry 50% of revenue" report that sits next
    * to q52's key-skew diagnosis.
    *
    * The global spend rank is `exactRank`'s HIERARCHICAL prefix sum
    * (t16's formulation), never one global window: customer cents
    * bucket into ≤1024 value ranges and each customer ranks only
    * within its bucket. Ties break on custkey so the rank (and
    * therefore the tier cut) is deterministic in both engines. Money
    * follows the cents-exact protocol: BIGINT sums, one IEEE division
    * per output cell. */
  def spendDeciles(orders: DataFrame, tiers: Int = 10): DataFrame = {
    // tracked: the customer-grain aggregate feeds the min/max sizing,
    // the bucketing AND the totals — one orders scan, not three (q52's
    // cached-counts precedent); released by the caller's Caches.release()
    val cust = graft.Caches.tracked(orders
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("o_custkey").agg(sum("cents").as("cents")))
    val tot = cust.agg(count(lit(1)).as("n_cust"), sum("cents").as("total_cents"))
    exactRank(cust, "cents", "o_custkey", "rnk")
      .crossJoin(broadcast(tot))
      .withColumn("tier", expr(s"((rnk - 1) * $tiers) div n_cust"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("tier_cents"),
        first("total_cents").as("total_cents"))
      .withColumn("tier_spend", col("tier_cents").cast("double") / 100.0)
      .withColumn("spend_share",
        col("tier_cents").cast("double") / col("total_cents").cast("double"))
      .select("tier", "n_customers", "tier_spend", "spend_share")
      .orderBy("tier")
  }

  /** Exact global rank (1-based, ties broken by `keyCol`) of the
    * integral `valueCol` as column `out` beside `df`'s rows — q55's
    * hierarchical recipe, shared with q71, so no row-grain global
    * window exists: values bucket into ≤1024 ranges (one min/max
    * aggregation sizes the width), per-bucket counts roll into running
    * offsets over the ≤1024-row bucket table (the bounded unpartitioned
    * window, the q44 precedent), and each row ranks only within its
    * bucket. At 10⁹ rows the only unpartitioned window still runs over
    * ≤1024 rows. */
  private[graft] def exactRank(df: DataFrame, valueCol: String, keyCol: String,
                               out: String): DataFrame = {
    val mm = df.agg(min(valueCol).as("lo"), max(valueCol).as("hi"))
    val bucketed = df.crossJoin(broadcast(mm))
      .withColumn("bucket", expr(s"($valueCol - lo) div (((hi - lo) div 1024) + 1)"))
      .drop("lo", "hi")
    val offsets = bucketed.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("boff", sum("cnt").over(Window.orderBy("bucket")) - col("cnt"))
      .select("bucket", "boff")
    bucketed.join(broadcast(offsets), "bucket")
      .withColumn(out, col("boff") +
        row_number().over(Window.partitionBy("bucket").orderBy(valueCol, keyCol)))
  }

  /** q72_basket_affinity — market-basket association rules over the
    * order line items (the retail "bought together" read): for every
    * part pair co-occurring in ≥ `minCount` orders, the exact
    * co-order count, each part's own order count, the pair support,
    * both directed confidences and the lift — the
    * support/confidence/lift triple of classic association mining.
    *
    * Scale: the pair fan-out is ORDER-LOCAL — the self-join runs on
    * the basket key, so each order contributes C(|basket|, 2) rows
    * (baskets are bounded by order size, never corpus size) and only
    * (order, part) pairs cross the one exchange; part counts join at
    * the pair grain, which minCount keeps sparse. Counts exact; the
    * three ratios are fixed IEEE op sequences under stableRound →
    * full hash oracle. */
  def basketAffinity(lineitem: DataFrame, minCount: Long = 3L): DataFrame = {
    val baskets = graft.Caches.tracked(
      lineitem.select(col("l_orderkey"), col("l_partkey")).distinct())
    val nOrders = baskets.select("l_orderkey").distinct()
      .agg(count(lit(1)).as("n_orders"))
    val partN = baskets.groupBy("l_partkey").agg(count(lit(1)).as("n_part"))
    val a = baskets.select(col("l_orderkey"), col("l_partkey").as("part_a"))
    val b = baskets.select(col("l_orderkey"), col("l_partkey").as("part_b"))
    a.join(b, Seq("l_orderkey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minCount)
      .join(partN.select(col("l_partkey").as("part_a"), col("n_part").as("n_a")), "part_a")
      .join(partN.select(col("l_partkey").as("part_b"), col("n_part").as("n_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .withColumn("support", graft.Num.stableRound(
        col("n_both").cast("double") / col("n_orders"), 6))
      .withColumn("conf_a_to_b", graft.Num.stableRound(
        col("n_both").cast("double") / col("n_a"), 4))
      .withColumn("conf_b_to_a", graft.Num.stableRound(
        col("n_both").cast("double") / col("n_b"), 4))
      .withColumn("lift", graft.Num.stableRound(
        (col("n_both").cast("double") * col("n_orders"))
          / (col("n_a").cast("double") * col("n_b")), 4))
      .select(col("part_a"), col("part_b"), col("n_both"), col("n_a"),
        col("n_b"), col("support"), col("conf_a_to_b"),
        col("conf_b_to_a"), col("lift"))
      .orderBy("part_a", "part_b")
  }

  /** q75_cohort_revenue — monthly acquisition-cohort revenue matrix
    * (the classic retention-of-spend read): each customer joins the
    * cohort of their FIRST order month; every order then lands in
    * (cohort_month, month_offset) with distinct active customers and
    * cents-exact revenue.
    *
    * Scale: one customer-grain aggregate finds each cohort anchor,
    * and the join back to orders runs customer-key to customer-key —
    * the anchor table is customer-grain (never broadcast-sized at
    * 10⁹ customers, but co-partitioned with the orders shuffle), and
    * the final aggregate collapses to ≤ months² cells. Month offsets
    * are exact integer arithmetic on month-truncated dates; money
    * follows the cents protocol (BIGINT sum, one IEEE division). */
  def cohortRevenue(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_custkey"),
      date_trunc("month", col("o_orderdate")).as("om"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val anchors = o.groupBy("o_custkey").agg(min("om").as("cohort"))
    o.join(anchors, "o_custkey")
      .withColumn("month_offset", months_between(col("om"), col("cohort")).cast("int"))
      .groupBy(date_format(col("cohort"), "yyyy-MM").as("cohort_month"),
        col("month_offset"))
      .agg(countDistinct("o_custkey").as("n_customers"),
        sum("cents").as("rev_cents"))
      .withColumn("revenue", col("rev_cents").cast("double") / 100.0)
      .select("cohort_month", "month_offset", "n_customers", "rev_cents", "revenue")
      .orderBy("cohort_month", "month_offset")
  }
}
