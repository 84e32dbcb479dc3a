package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Trajectory / event-sequence surface of the reference (TrafficTeach
  * `CarTrackAnalyze`, `MonitorOneStepTimeAnalyze` (one-step conversion),
  * `RandomExtractCars`, area-collision analysis), over the `events`
  * fact table (ts/user_id/event_type ≈ action_time/car/monitor).
  *
  * Scale notes: every operator shuffles exactly once on the entity key
  * (user_id); ordering within an entity is done with array_sort after
  * collect (track) or a single window (funnel/session), never with a
  * global sort. The reference does the same work with groupByKey +
  * in-memory sort per car — the Spark plans here keep partial
  * aggregation and spill handling.
  */
object TrackAnalytics {

  /** The microsecond event time. Every event order and every reported
    * interval reads time at this precision, never at nanoseconds. */
  private def eventUs: Column = expr("ts_ns div 1000")

  /** The per-entity event order: (microsecond time, event_id) within
    * `keys`. This is the one statement of the tie contract: DuckDB
    * truncates timestamps to microseconds, so two events in the same
    * microsecond order by event_id, never by their nanoseconds (a
    * nanosecond order would silently diverge from the oracle on
    * same-microsecond events). `time` is the microsecond key as the
    * caller's plan spells it: `eventUs`, or a column projected from it. */
  private def eventOrder(keys: Seq[String], time: Column = eventUs): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(time, col("event_id"))

  /** One-step transitions behind q09, q56 and q58: each event's
    * successor type in the event order within `keys` (an entity's last
    * event has none and drops), counted per (from_type, to_type), with
    * `shareAs` = `share` of the pair's fraction of its from_type's
    * outgoing transitions. The count collapses through a map-side
    * partial agg to at most k² keys, so the per-from total windows
    * over k² rows. */
  private def transitions(events: DataFrame, keys: Seq[String], shareAs: String,
                          share: Column => Column): DataFrame =
    events
      .withColumn("to_type", lead(col("event_type"), 1).over(eventOrder(keys)))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn(shareAs,
        share(col("cnt") / sum(col("cnt")).over(Window.partitionBy("from_type"))))
      .orderBy("from_type", "to_type")

  /** Each event with its microsecond time `us` and its entity's NEXT
    * event time `next_us` — the dwell interval (`dwellUs`) behind q59
    * and q68. An entity's last event owns no interval and drops: its
    * closing interval is unobserved, not zero. */
  private def nextEvents(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_id"), col("event_type"), eventUs.as("us"))
      .withColumn("next_us", lead(col("us"), 1).over(eventOrder(Seq("user_id"), col("us"))))
      .filter(col("next_us").isNotNull)

  private def dwellUs: Column = col("next_us") - col("us")

  /** The (keys…, day DATE, n_events) daily count under q43, q60, q67,
    * q69, q77 and q78, and the per-trigger state of their streaming
    * twins (StreamingFlow.dailyStateBatch). */
  private[graft] def dailyCounts(events: DataFrame, keys: String*): DataFrame =
    events.groupBy(keys.map(col) :+ to_date(col("ts")).as("day"): _*)
      .agg(count(lit(1)).as("n_events"))

  /** A day surfaced as its ISO `yyyy-MM-dd` string: results carry days
    * as strings, never as raw date/time types (SURVEY §5). */
  private[graft] def isoDay(day: Column): Column = date_format(day, "yyyy-MM-dd")

  /** q08_car_track — per-entity time-ordered trajectory assembly.
    * collect_list is order-free (so partial aggregation still applies);
    * the deterministic (ts, event_id) order is imposed by array_sort on
    * the struct, inside codegen.
    *
    * The per-entity array is bounded by the domain (a car passes
    * checkpoints at human timescales); for unbounded entities pass
    * `maxEvents` — a ranked-window pre-filter keeps only each entity's
    * earliest `maxEvents` events, so no single group can exceed a
    * known buffer size (the window sorts within the same single
    * entity-key shuffle the aggregation needs). */
  def carTrack(events: DataFrame, maxEvents: Option[Int] = None): DataFrame = {
    val bounded = maxEvents match {
      case None => events
      case Some(m) =>
        events.withColumn("ev_rn", row_number().over(eventOrder(Seq("user_id"))))
          .filter(col("ev_rn") <= m).drop("ev_rn")
    }
    bounded
      .groupBy("user_id")
      .agg(
        concat_ws(">",
          transform(
            array_sort(collect_list(struct(eventUs.as("ts_us"),
              col("event_id"), col("event_type")))),
            x => x.getField("event_type"))).as("track"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** q09_funnel_step — consecutive-step transition counts and
    * conversion rate (the reference's one-step conversion rate between
    * checkpoints: transitions / departures from the step). */
  def funnelStep(events: DataFrame): DataFrame =
    transitions(events, Seq("user_id"), "conv_rate", graft.Num.stableRound(_, 4))

  /** q10_collision — two-cohort intersection (cars seen in both areas;
    * TrafficTeach "车辆碰撞" analysis). Distinct + intersect plans as a
    * shuffle on the key with partial distinct on both sides. */
  def collision(events: DataFrame, typeA: String = "click", typeB: String = "purchase"): DataFrame =
    events.filter(col("event_type") === typeA).select("user_id").distinct()
      .intersect(events.filter(col("event_type") === typeB).select("user_id").distinct())
      .orderBy("user_id")

  /** The SHARED gap-rule session assignment behind q11, q44 and q53:
    * events + a per-user session_id from the 30-minute-gap rule —
    * millisecond gap check, the `eventOrder` tie order, two stacked
    * windows on one user_id partitioning.
    * Every oracle mirrors this derivation exactly, so it exists ONCE:
    * a fix to the gap rule cannot silently miss a consumer. */
  private[graft] def withSessionIds(events: DataFrame, gapMs: Long): DataFrame = {
    val w = eventOrder(Seq("user_id"))
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("cur_ms", expr("ts_ns div 1000000"))
      .withColumn("prev_ms", lag(expr("ts_ns div 1000000"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ms").isNull || col("cur_ms") - col("prev_ms") > gapMs, 1).otherwise(0))
      .withColumn("session_id", sum("new_s").over(frame))
      .drop("cur_ms", "prev_ms", "new_s")
  }

  /** q11_sessionize — gap-based sessionization (30-minute gap), the
    * batch twin of streaming session windows. Two stacked windows on
    * the same (user_id) partitioning → a single shuffle. */
  def sessionize(events: DataFrame, gapMs: Long = 1800000L): DataFrame =
    withSessionIds(events, gapMs)
      .groupBy("user_id")
      .agg(
        countDistinct("session_id").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  /** q53_session_paths — behavioral PATH analysis (the Amplitude/
    * ClickHouse "top user journeys" report): each session's first
    * `maxSteps` event types in order, joined into a path string, with
    * the top-K paths by session count. q09/q39 score a KNOWN funnel;
    * this DISCOVERS the funnels worth scoring — the first question a
    * product owner asks of an event log.
    *
    * Derivation shares q11's sessionization exactly (same gap rule,
    * same micro-precision tie order), then one aggregation per
    * session assembles the path: collect_list of (us, event_id, type)
    * structs, array_sort (struct ordering = field order, so the sort
    * key IS the event order), slice to `maxSteps`, join. Per-session
    * arrays are human-scale (the q08 bound argument) and the slice
    * caps the path string. Plan: events cross ONE exchange (the
    * session window's user_id partitioning — hash(user_id) already
    * co-locates (user_id, session_id) for the path aggregation);
    * after that only (path, partial count) pairs move, at
    * path-vocabulary grain, and the top-K is TakeOrdered over
    * |distinct paths| rows — both PlanSpec-pinned. */
  def sessionPaths(events: DataFrame, gapMs: Long = 1800000L,
                   maxSteps: Int = 8, topK: Int = 20): DataFrame = {
    require(maxSteps >= 1 && topK >= 1, "sessionPaths: maxSteps and topK must be >= 1")
    withSessionIds(events, gapMs)
      .groupBy("user_id", "session_id")
      .agg(array_join(
        transform(
          slice(array_sort(collect_list(struct(
            eventUs.as("us"), col("event_id"), col("event_type")))),
            1, maxSteps),
          s => s.getField("event_type")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** q14_stratified_sample — deterministic stratified sampling: N
    * records per day-stratum (the reference's RandomExtractCars samples
    * per hour-block), ordered by `Num.scramble` of the record id
    * instead of rand(), so the sample is reproducible across engines
    * and runs. One shuffle on the stratum key. */
  def stratifiedSample(events: DataFrame, perStratum: Int = 5): DataFrame = {
    val w = Window.partitionBy(date_trunc("day", col("ts")))
      .orderBy(graft.Num.scramble(col("event_id")), col("event_id"))
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perStratum)
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")
  }

  /** q27_range_join — conversion-window counting: for every signup,
    * count same-user clicks in the following 30 minutes. The plan is a
    * hash join on the user key with the time-range predicate as a
    * post-join filter — at 100 TB the equi key keeps this a plain
    * shuffled hash join (never a nested-loop range join); a pure
    * range-only join would add a time-bucket equi key the same way. */
  def rangeJoin(events: DataFrame, windowNs: Long = 1800000000000L): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts_ns").as("s_ns"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts_ns").as("c_ns"))
    signups
      .join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ns") > col("s_ns") && col("c_ns") - col("s_ns") <= windowNs,
        "left_outer")
      .groupBy("signup_id")
      .agg(count(col("click_id")).as("clicks_30m"))
      .orderBy("signup_id")
  }

  /** q34_session_window — sessionization via the NATIVE session_window
    * operator (vs q11's lag/sum formulation): one mergeable
    * aggregation, no window-function pass, and the same expression
    * works under readStream with a watermark. Boundary semantics:
    * session_window merges an event iff it lands strictly INSIDE the
    * previous window (diff < gap; an exact-gap event opens a new
    * session) — the oracle encodes exactly that rule. */
  def sessionWindow(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        col("n_events"))
      .orderBy("user_id", "session_start_ms")

  /** q30_asof_join — as-of join: each signup is joined to the MOST
    * RECENT prior click of the same user (the "state at event time"
    * operator Spark lacks natively). Formulated as one tagged window
    * pass instead of a per-pair range join: a single shuffle on the
    * entity key, then `last(click, ignoreNulls)` over the preceding
    * frame carries the nearest-prior click to every signup row — cost
    * is O(events log events-per-user), independent of the pair count
    * a range join would enumerate. The `eventOrder` tie order keeps it
    * deterministic. */
  def asofJoin(events: DataFrame): DataFrame = {
    val w = eventOrder(Seq("user_id")).rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col("event_type").isin("click", "signup"))
      .withColumn("prev_click",
        last(when(col("event_type") === "click",
          struct(col("ts_ns"), col("event_id"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "signup")
      .select(
        col("event_id").as("signup_id"),
        col("user_id"),
        col("prev_click.event_id").as("click_id"),
        // gap surfaced at microsecond precision: each side truncated
        // BEFORE subtracting (truncate-then-subtract is engine-stable;
        // subtract-then-truncate is not)
        (eventUs - expr("prev_click.ts_ns div 1000")).as("gap_us"))
      .orderBy("signup_id")
  }

  /** q20_time_window — tumbling event-time window aggregation (the
    * reference's per-road congestion per time slice; batch twin of the
    * streaming job in graft.streaming). Uses the standard `window`
    * function so the same expression works under readStream. */
  def timeWindow(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .select(
        col("event_type"),
        unix_millis(col("window.start")).as("hour_ms"),
        col("n_events"), col("sum_value"))
      .orderBy("event_type", "hour_ms")

  /** q43_period_delta — period-over-period change report: daily event
    * volume per type with the previous PRESENT day's count, absolute
    * delta and relative change (the day-over-day / week-over-week
    * trend table every monitoring dashboard runs; the reference's
    * per-monitor daily reports generalize to exactly this). One
    * partial-agg groupBy to (type, day) — tiny — then a lag window
    * over the per-type day series, which is day-count-sized, never
    * event-sized, so the window costs nothing at any corpus scale.
    * pct_change is an exact int/int IEEE division rounded with
    * stableRound; days are surfaced as ISO strings (SURVEY §5). Note
    * lag is over PRESENT days: a day with zero events collapses into
    * the next day's baseline rather than producing a zero row —
    * dashboards that need explicit zero days join a calendar dim
    * first. */
  def periodDelta(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    dailyCounts(events, "event_type")
      .withColumn("prev_events", lag("n_events", 1).over(w))
      .select(
        col("event_type"),
        isoDay(col("day")).as("day"),
        col("n_events"),
        col("prev_events"),
        (col("n_events") - col("prev_events")).as("delta"),
        graft.Num.stableRound(
          (col("n_events") - col("prev_events")) / col("prev_events"), 4)
          .as("pct_change"))
      .orderBy("event_type", "day")
  }

  /** q37_streaks — consecutive-day activity streaks per entity
    * (the gaps-and-islands pattern): a user's distinct active days
    * collapse into islands of consecutive dates via the classic
    * day-minus-row_number constant, then two aggregations report
    * streak structure. One shuffle on user_id (the window), then
    * narrow partial-agg-friendly groupBys — the island constant is
    * computed inside codegen, no self-join, no sequence explode. */
  def activityStreaks(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("island", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("streak_len"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_streaks"),
        max("streak_len").as("longest_streak"),
        sum("streak_len").as("n_active_days"))
      .orderBy("user_id")
  }

  /** q38_retention — cohort retention: users cohorted by their first
    * active day, each cohort's distinct active users counted at every
    * later day offset (the classic retention triangle; the reference's
    * first-seen/return-visit analyses generalize to exactly this).
    * Two shuffles: the min-day cohort build (partial-agg'd on
    * user_id) and the (cohort, offset) distinct-count — the
    * cohort table joins back broadcast-or-shuffle by size. All-integer
    * arithmetic, fully oracle-checkable. `maxOffset` bounds the
    * triangle width (a year-long log would otherwise emit 365²/2
    * rows per cohort pair — harmless but noisy). */
  def retention(events: DataFrame, maxOffset: Int = 14): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days
      .join(cohorts, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset") <= maxOffset)
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      // ISO string per the SURVEY §5 protocol — never raw date/time types
      .select(isoDay(col("cohort_day")).as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** q39_window_funnel — multi-step funnel within a time window (the
    * ClickHouse `windowFunnel` shape; the reference's one-step
    * conversion q09 generalized to an ordered sequence): per user,
    * greedy-first matching — anchor at the FIRST step-1 event, then
    * each later step matches its first occurrence strictly after the
    * previous step and no later than anchor + window; the report is
    * users per deepest-level reached (0 = never entered).
    *
    * Greedy-first is the deterministic, relational-closed form:
    * each step is one per-user min-aggregation joined to the previous
    * step's result, so the whole funnel is a chain of small
    * (user_id, ts) aggs co-partitioned on user_id — per-user state is
    * O(1), no arrays, no per-user event sort, and every join key is
    * the same, so AQE plans one shuffle lineage. Timestamps compare at
    * MICROsecond precision (the q09 protocol — DuckDB's parquet nanos
    * are micro-truncated). */
  /** q41_graph_rank — weighted PageRank over the checkpoint transition
    * graph: consecutive events per user induce src→dst edges between
    * checkpoint ids (the JSON `k` prop — the reference's monitor
    * network), edge weights are transition counts, and a fixed number
    * of power iterations scores each checkpoint's structural
    * importance (which monitors traffic flows THROUGH, not just past —
    * the road-network centrality the per-monitor counts can't see).
    *
    * Size-adaptive (the d07 protocol): the edge build is always
    * distributed — one windowed pass over the events plus two partial
    * aggs. A checkpoint graph is |monitors|²-bounded, so when the
    * share table fits the driver (≤ `maxLocalEdges`, ~100 MB) the
    * power iteration runs as a local array loop — microseconds,
    * instead of 10 distributed rounds whose per-round job overhead
    * dwarfs the 100-row compute (measured at sf0.1: 37 s naive
    * persist+count loop — the LOGICAL plan deepens and per-round
    * analysis compounds — 11 s with eager localCheckpoint leaves,
    * ~2 s local). Web-scale graphs take the distributed branch:
    * per-round share-keyed join + groupBy with eager localCheckpoint
    * truncating the plan to a leaf each round (on a multi-node
    * cluster prefer reliable checkpoint() — localCheckpoint blocks
    * die with their executor). Dangling mass (nodes with no
    * out-edges) redistributes uniformly — the standard correction.
    * Float sums across iterations are aggregation-order-dependent, so
    * this is a rows-only op with exact-twin spec coverage (power
    * iteration on a hand-computed graph; distributed branch asserted
    * equal to the local one), not an oracle query. */
  def graphRank(events: DataFrame, iterations: Int = 10,
                damping: Double = 0.85, maxLocalEdges: Long = 4000000L): DataFrame = {
    val w = eventOrder(Seq("user_id"))
    val hops = events
      .select(col("user_id"), col("event_id"), col("ts_ns"),
        get_json_object(col("props"), "$.k").cast("int").as("node"))
      .filter(col("node").isNotNull)
      .withColumn("dst", lead("node", 1).over(w))
      .filter(col("dst").isNotNull && col("dst") =!= col("node"))
    val edges = hops.groupBy(col("node").as("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))
    val outW = edges.groupBy("src").agg(sum("weight").as("out_w"))
    val share = edges.join(outW, "src")
      .select(col("src"), col("dst"),
        (col("weight").cast("double") / col("out_w")).as("share"))
      .persist()
    if (share.count() <= maxLocalEdges) {
      // bounded-graph branch: collect (src, dst, share) triples and
      // power-iterate in a flat array loop on the driver
      val spark = events.sparkSession
      import spark.implicits._
      val es = share.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      share.unpersist()
      val nodeArr = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
      val n = nodeArr.length.toDouble
      val idx = nodeArr.zipWithIndex.toMap
      val srcSet = es.map(_._1).toSet
      val danglingIdx = nodeArr.zipWithIndex.collect { case (v, i) if !srcSet(v) => i }
      var rank = Array.fill(nodeArr.length)(1.0 / n)
      for (_ <- 1 to iterations) {
        val dang = danglingIdx.iterator.map(rank).sum
        val contrib = new Array[Double](nodeArr.length)
        es.foreach { case (s, t, sh) => contrib(idx(t)) += rank(idx(s)) * sh }
        rank = Array.tabulate(nodeArr.length)(i =>
          (1 - damping) / n + damping * (contrib(i) + dang / n))
      }
      nodeArr.zip(rank).toSeq
        .map { case (v, r) => (v, math.floor(r * 1e6 + 0.5) / 1e6) }
        .toDF("node", "rank")
        .orderBy(col("rank").desc, col("node"))
    } else {
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct().persist()
      val n = nodes.count().toDouble
      val srcs = share.select("src").distinct().persist()
      var ranks = nodes.withColumn("rank", lit(1.0 / n)).localCheckpoint(true)
      for (_ <- 1 to iterations) {
        // dangling mass rides the plan as a broadcast one-row
        // aggregate — no per-round driver action, ONE job per round
        val dang = ranks.join(srcs, col("node") === col("src"), "left_anti")
          .agg(coalesce(sum("rank"), lit(0.0)).as("dangling"))
        val contribs = share.join(ranks, col("src") === col("node"))
          .select(col("dst"), (col("rank") * col("share")).as("c"))
          .groupBy("dst").agg(sum("c").as("contrib"))
        ranks = nodes.join(contribs, col("node") === col("dst"), "left")
          .crossJoin(broadcast(dang))
          .select(col("node"),
            (lit((1 - damping) / n) +
              lit(damping) * (coalesce(col("contrib"), lit(0.0)) + col("dangling") / n)).as("rank"))
          .localCheckpoint(true) // eager: plan resets to a leaf each round
      }
      val out = ranks
        .select(col("node"), graft.Num.stableRound(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("node"))
      share.unpersist(); nodes.unpersist(); srcs.unpersist()
      out
    }
  }

  def windowFunnel(events: DataFrame,
                   steps: Seq[String] = Seq("view", "click", "purchase"),
                   windowMicros: Long = 86400000000L): DataFrame = {
    require(steps.nonEmpty, "windowFunnel: steps must be non-empty")
    val us = eventUs
    val anchor = events.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(us).as("t1"))
    // survivor chain: chain(i) = users whose deepest prefix is ≥ i+1
    // steps, carrying (t1 = window anchor, t_prev = last matched ts)
    // each stage is persisted (tracked): it feeds BOTH the next stage's
    // join and its own level flag below — per-user aggregates, far
    // smaller than the event log they summarize; the caller's
    // Caches.release() drops the chain after materialization
    val chain = steps.drop(1).scanLeft(
      graft.Caches.tracked(anchor.withColumn("t_prev", col("t1")))) {
      (prev, step) =>
        graft.Caches.tracked(events.filter(col("event_type") === step)
          .join(prev, "user_id")
          .filter(us > col("t_prev") && us <= col("t1") + windowMicros)
          .groupBy("user_id").agg(min("t1").as("t1"), min(us).as("t_prev")))
    }
    val users = events.select("user_id").distinct()
    val flagged = chain.zipWithIndex.foldLeft(users) { case (acc, (surv, i)) =>
      acc.join(surv.select(col("user_id"), lit(1).as(s"l${i + 1}")), Seq("user_id"), "left")
    }
    flagged
      .withColumn("level",
        // survival is monotone (l3 ⇒ l2 ⇒ l1); ascending fold leaves the
        // deepest level's test outermost
        steps.indices.foldLeft(lit(0)) { (acc, i) =>
          when(col(s"l${i + 1}").isNotNull, lit(i + 1)).otherwise(acc)
        })
      .groupBy("level").agg(count(lit(1)).as("n_users"))
      .orderBy("level")
  }

  /** q44_peak_concurrency — daily PEAK CONCURRENT SESSIONS: how many
    * gap-sessionized user sessions (q11's 30-minute-gap intervals) are
    * open at once, reported as the per-day maximum — the capacity /
    * load-planning number (peak simultaneous cars inside the monitored
    * area, peak concurrent users on a site). The interval-overlap
    * maximum is computed with the classic +1/−1 boundary sweep: each
    * session contributes a +1 at its start and a −1 at its end, and
    * the peak is the max of the running sum over time-ordered
    * boundaries. At equal timestamps starts count before ends
    * (inclusive intervals: a session ending at t and one starting at t
    * ARE concurrent) — the peer-inclusive default RANGE frame plus the
    * (t, delta DESC) sort key makes that deterministic in both engines.
    *
    * Scale posture: the sweep never runs as one global window over the
    * event log. Sessions reduce events to one row per session (one
    * user_id shuffle, the q11 plan); boundaries are 2·|sessions| rows;
    * and the running sum is HIERARCHICAL — a within-day window
    * partitioned on the day key plus a day-level offset computed on
    * the days-sized aggregate (the t10/t16 prefix-sum pattern), so no
    * stage ever single-partitions more than one day of boundaries.
    * A session spanning midnight contributes its −1 to the later day's
    * sweep and stays counted in the offset of every day in between —
    * exactly the global-sum semantics, split by day. */
  def peakConcurrency(events: DataFrame, gapMs: Long = 1800000L): DataFrame = {
    // tracked: the boundaries unionAll embeds sessions in BOTH
    // branches — uncached, the event-log scan + user_id shuffle of
    // sessionization would run twice
    val sessions = graft.Caches.tracked(withSessionIds(events, gapMs)
      .groupBy("user_id", "session_id")
      .agg(min(eventUs).as("start_us"), max(eventUs).as("end_us")))
    val boundaries = graft.Caches.tracked(
      sessions.select(col("start_us").as("t_us"), lit(1).as("delta"))
        .unionAll(sessions.select(col("end_us").as("t_us"), lit(-1).as("delta")))
        .withColumn("day", to_date(timestamp_micros(col("t_us")))))
    // stage 1: peer-inclusive running sum WITHIN each day (default
    // RANGE frame: all rows tied on (t_us, delta) aggregate together,
    // so the max is permutation-independent)
    val wDay = Window.partitionBy("day").orderBy(col("t_us"), col("delta").desc)
    val withinDay = boundaries.withColumn("run_in_day", sum("delta").over(wDay))
    // stage 2: day-level offsets on the days-sized aggregate — the
    // only unpartitioned window runs over one row per calendar day
    val wDays = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = boundaries.groupBy("day")
      .agg(sum("delta").as("day_delta"))
      .withColumn("carried_in", sum("day_delta").over(wDays) - col("day_delta"))
      .select(col("day"), col("carried_in"))
    withinDay
      .join(broadcast(offsets), "day")
      .groupBy("day")
      .agg(max(col("run_in_day") + col("carried_in")).as("peak_concurrent"),
        sum(when(col("delta") === 1, 1L).otherwise(0L)).as("sessions_started"))
      .select(isoDay(col("day")).as("day"),
        col("peak_concurrent"), col("sessions_started"))
      .orderBy("day")
  }

  /** q45_rolling_distinct — trailing-window distinct actives per day
    * (the "7-day active users" report): for each day with events, the
    * exact distinct user count over that day and the `windowDays`-1
    * before it, next to the same-day count. Exact sliding
    * count-distinct cannot be window-aggregated (distinct doesn't
    * merge), so the plan reduces first and fans out at the DAY grain:
    * one distinct pass collapses the event log to (active_day, user)
    * pairs, each pair explodes to the ≤`windowDays` report days it
    * supports (a compiled `sequence`, no join), and one
    * multi-distinct aggregation (a single Expand pass, like q40)
    * produces both counts. Report days are restricted to days that
    * have events via a broadcast day-list semi join — day lists are
    * calendar-bounded, the one always-broadcastable dimension.
    *
    * Scale posture: the event log is touched once (the distinct);
    * everything after is (day, user)-pair-sized ×windowDays — at
    * 100 TB that is the floor any exact formulation pays. The
    * approximate path for wider windows is q28's mergeable HLL
    * (per-day sketches union across the window); this operator is the
    * exact twin that keeps the oracle. */
  def rollingDistinct(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val pairs = graft.Caches.tracked(
      events.select(to_date(col("ts")).as("a_day"), col("user_id")).distinct())
    val days = pairs.select(col("a_day").as("day")).distinct()
    pairs
      .select(col("a_day"), col("user_id"),
        explode(sequence(col("a_day"), date_add(col("a_day"), windowDays - 1))).as("day"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day")
      .agg(
        countDistinct("user_id").as("uniq_win"),
        countDistinct(when(col("a_day") === col("day"), col("user_id"))).as("uniq_day"))
      .select(isoDay(col("day")).as("day"),
        col("uniq_win"), col("uniq_day"))
      .orderBy("day")
  }

  /** q49_rolling_distinct_hll — the wide-window sketch path q45's
    * scaladoc promises: trailing-window distinct actives per day via
    * MERGEABLE per-day HLL sketches (Spark's DataSketches
    * hll_sketch_agg / hll_union_agg) instead of exact (day, user)
    * fan-out. One pass collapses the event log to ONE sketch row per
    * calendar day; each day-row (a few KB of sketch, not a user list)
    * fans out to the ≤`windowDays` report days it supports, and a
    * day-grain union-aggregate merges the window. `uniq_day_est` is
    * the day's own sketch estimated directly.
    *
    * Scale posture: the event log is touched ONCE (the day-grain
    * sketch aggregation, full partial/merge combine on the map side);
    * everything downstream is |days| × windowDays sketch rows —
    * calendar-bounded, INDEPENDENT of corpus size. At windowDays=90
    * the exact q45 plan multiplies the (day, user) pair set 90×; this
    * plan multiplies ~365 rows/year 90×, each a ≤2^lgConfigK-byte
    * sketch (PlanSpec pins that the explode input is the aggregated
    * sketch row, not user-grain rows). Standard error is
    * ~1.04/√2^lgConfigK (≈1.6% at the default 12); DataSketches HLL is
    * exact in sparse mode at small cardinalities. Rows-only: DuckDB's
    * approx_count_distinct is a different sketch — the bound vs exact
    * q45 is ApproxSpec's job. */
  def rollingDistinctHll(events: DataFrame, windowDays: Int = 90,
                         lgConfigK: Int = 12): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val daySketch = graft.Caches.tracked(
      events.select(to_date(col("ts")).as("a_day"), col("user_id"))
        .groupBy("a_day")
        .agg(hll_sketch_agg(col("user_id"), lgConfigK).as("sk")))
    val days = daySketch.select(col("a_day").as("day"))
    daySketch
      .select(col("a_day"), col("sk"),
        explode(sequence(col("a_day"), date_add(col("a_day"), windowDays - 1))).as("day"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day")
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("uniq_win_est"),
        max(when(col("a_day") === col("day"),
          hll_sketch_estimate(col("sk")))).as("uniq_day_est"))
      .select(isoDay(col("day")).as("day"),
        col("uniq_win_est"), col("uniq_day_est"))
      .orderBy("day")
  }

  /** q56_transition_matrix — first-order Markov transition report over
    * each entity's time-ordered event sequence: for every (from, to)
    * event-type pair, how many consecutive-event transitions occur and
    * what fraction of `from`'s outgoing transitions they are (the
    * monitor→monitor flow matrix of the reference's one-step analysis,
    * generalized to the full k×k matrix).
    *
    * Scale: the lead window shuffles once on the entity key (same
    * exchange every sequence operator here pays); the transition rows
    * then collapse through a map-side partial agg to at most k² keys,
    * and the probability normalization windows over those k² rows —
    * nothing downstream of the first exchange grows with the corpus.
    * `prob` is one IEEE division of two exact longs per output cell
    * (bit-equal cross-engine). */
  def transitionMatrix(events: DataFrame): DataFrame =
    transitions(
      events.select(col("user_id"), col("event_id"), col("event_type"), col("ts_ns")),
      Seq("user_id"), "prob", identity)

  /** q58_session_transitions — q56's transition matrix restricted to
    * WITHIN-SESSION edges: the lead window partitions on (entity,
    * session) instead of entity alone, so a transition spanning the
    * 30-minute session gap (overnight returns, cross-visit noise)
    * contributes nothing — the matrix then measures in-journey
    * behavior, which is what a conversion analysis actually wants.
    * The sessionizer is the SHARED `withSessionIds` derivation (q11/
    * q34/q53's), so the gap rule exists once; the session windows and
    * the lead window stack on the same user_id exchange — still ONE
    * shuffle before the k²-grain aggregation. */
  def sessionTransitions(events: DataFrame, gapMs: Long = 1800000L): DataFrame =
    transitions(withSessionIds(events, gapMs), Seq("user_id", "session_id"), "prob", identity)

  /** q59_dwell_time — time-in-state attribution: each event owns the
    * interval until its entity's NEXT event (the standard "time spent
    * per road segment / per page" attribution; an entity's last event
    * owns nothing — its closing interval is unobserved, not zero).
    * Per event type: stay count, total dwell (exact integer micros)
    * and mean dwell seconds (ONE fixed-parenthesization IEEE division
    * chain per output row). Same single entity-key exchange as every
    * sequence operator here, then a k-grain partial agg. */
  def dwellTime(events: DataFrame): DataFrame =
    nextEvents(events)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_stays"), sum(dwellUs).as("total_dwell_us"))
      .withColumn("avg_dwell_s",
        col("total_dwell_us").cast("double") / col("n_stays").cast("double")
          / lit(1000000.0))
      .orderBy("event_type")

  /** q57_modal_event — each entity's most frequent event type
    * (deterministic tie-break: higher count, then lexicographically
    * smallest type), the reference's "top monitor per car" report.
    *
    * Scale: two full partial-agg exchanges and nothing else — the
    * (entity, type) count, then a min-of-struct fold to one row per
    * entity. The struct (−cnt, type, cnt) makes min() encode the whole
    * tie-break ordering, so no per-entity window buffer exists: the
    * reduction combines map-side and never materializes an entity's
    * full type histogram in one place. */
  def modalEventType(events: DataFrame): DataFrame = {
    events
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(min(struct((-col("cnt")).as("neg_cnt"),
        col("event_type").as("t"), col("cnt").as("c"))).as("m"))
      .select(col("user_id"), col("m.t").as("mode_type"), col("m.c").as("mode_cnt"))
      .orderBy("user_id")
  }

  /** q62_ohlc_downsample — per (event_type, day) OHLC bars over the
    * event value (the standard time-series downsample: open/high/low/
    * close/volume): open and close are the value of the day's FIRST
    * and LAST event under the (ts_ns, event_id) total order — picked
    * with min/max-of-struct folds (the q57 recipe), so no per-group
    * window buffer exists and the aggregation combines map-side.
    * Every output is an exact PICK or an exact count — no float
    * arithmetic at all (a value SUM would be order-nondeterministic
    * over arbitrary doubles and is deliberately absent) → full hash
    * oracle. One partial-agg exchange at (type, day) grain. */
  def ohlcDownsample(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("ts_ns"), col("event_id"), col("value"))
      .groupBy("event_type", "day")
      .agg(
        min(struct(col("ts_ns").as("t"), col("event_id").as("e"),
          col("value").as("v"))).as("of"),
        max(struct(col("ts_ns").as("t"), col("event_id").as("e"),
          col("value").as("v"))).as("cf"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("volume"))
      .select(col("event_type"),
        isoDay(col("day")).as("day"),
        col("of.v").as("open"), col("high"), col("low"),
        col("cf.v").as("close"), col("volume"))
      .orderBy("event_type", "day")

  /** q63_conversion_lag — time-to-convert distribution: for every
    * entity whose first `fromType` event precedes its first `toType`
    * event, the lag between them, reported as exact interpolated
    * p50/p90/p99 (q21's distributed percentile machinery — value-
    * grain partial agg, no holistic buffer) plus the exact-integer
    * mean; the "how long does the funnel take" read next to q09/q39's
    * "how many convert". Lags are exact integer micros; the
    * percentile interpolation and the one mean division are the same
    * IEEE op sequences DuckDB's quantile_cont/division run → full
    * hash oracle. Scale: two first-event partial aggs on the entity
    * key, then everything is at converting-entity grain. */
  def conversionLag(events: DataFrame, fromType: String = "click",
                    toType: String = "purchase"): DataFrame = {
    val f = events.filter(col("event_type") === fromType)
      .groupBy("user_id").agg(min("ts_ns").as("t_from"))
    val t = events.filter(col("event_type") === toType)
      .groupBy("user_id").agg(min("ts_ns").as("t_to"))
    val lags = f.join(t, "user_id")
      .filter(col("t_to") > col("t_from"))
      .select(lit("all").as("__g"),
        expr("(t_to - t_from) div 1000").as("lag_us"))
    val pcts = RelationalOps.exactGroupPercentiles(
      lags, "__g", "lag_us", Seq(0.5, 0.9, 0.99))
    val sums = lags.groupBy("__g").agg(
      count(lit(1)).as("n_converted"), sum("lag_us").as("sum_us"))
    // percentiles round at 2 decimals — the scale where the true
    // decimal value terminates (two-decimal fraction × integer
    // micros): at ~1e12 magnitudes the two engines' interpolation op
    // orders can differ by one ulp (~1e-4), which the terminating-
    // scale round absorbs (SURVEY §5)
    sums.join(pcts, "__g")
      .select(col("n_converted"),
        graft.Num.stableRound(col("__p0"), 2).as("p50_lag_us"),
        graft.Num.stableRound(col("__p1"), 2).as("p90_lag_us"),
        graft.Num.stableRound(col("__p2"), 2).as("p99_lag_us"),
        graft.Num.stableRound(
          col("sum_us").cast("double") / col("n_converted"), 4)
          .as("mean_lag_us"))
  }

  /** q68_dwell_percentiles — the DISTRIBUTION q59's mean dwell hides:
    * per event type the exact interpolated p50/p90/p99 of the
    * interval each event owns (to its entity's next event, q59's
    * derivation verbatim) — the tail-latency read of time-in-state,
    * where a long-tail p99 and a modest mean tell opposite staffing
    * stories. q21's distributed percentile machinery at (type,
    * dwell) value grain — no holistic buffer; intervals are exact
    * integer micros and the percentile columns round at 2 decimals,
    * the q63 terminating-scale protocol. */
  def dwellPercentiles(events: DataFrame): DataFrame = {
    val lags = graft.Caches.tracked(
      nextEvents(events).select(col("event_type"), dwellUs.as("dwell_us")))
    val pcts = RelationalOps.exactGroupPercentiles(
      lags, "event_type", "dwell_us", Seq(0.5, 0.9, 0.99))
    lags.groupBy("event_type").agg(count(lit(1)).as("n_stays"))
      .join(pcts, "event_type")
      .select(col("event_type"), col("n_stays"),
        graft.Num.stableRound(col("__p0"), 2).as("p50_dwell_us"),
        graft.Num.stableRound(col("__p1"), 2).as("p90_dwell_us"),
        graft.Num.stableRound(col("__p2"), 2).as("p99_dwell_us"))
      .orderBy("event_type")
  }

  /** q66_bounce_rate — per-entry-type session bounce report (the
    * classic engagement read): sessions group by the type of their
    * FIRST event; a session bounces when it contains exactly one
    * event. Reports session count, bounce count and rate per entry
    * type. Sessionization is the SHARED withSessionIds derivation
    * (q11/q34/q53's single gap rule), so everything stacks on the one
    * user_id exchange; the entry pick is a min-of-struct fold at
    * (user, session) grain — no second window. Counts exact, rate one
    * IEEE division under stableRound → full hash oracle. */
  def bounceRate(events: DataFrame, gapMs: Long = 1800000L): DataFrame =
    withSessionIds(events, gapMs)
      .groupBy("user_id", "session_id")
      .agg(
        min(struct(eventUs.as("us"), col("event_id").as("e"),
          col("event_type").as("t"))).as("entry"),
        count(lit(1)).as("n_ev"))
      .groupBy(col("entry.t").as("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounced"))
      .withColumn("bounce_rate", graft.Num.stableRound(
        col("n_bounced").cast("double") / col("n_sessions"), 4))
      .orderBy("entry_type")

  /** q67_volume_autocorr — lag-1 autocorrelation of each type's daily
    * event volume (the "is traffic momentum real" diagnostic q43's
    * day-over-day deltas feed): over consecutive-day pairs (x = day
    * d's count, y = day d+1's) the signed r² =
    * sign(cov)·cov²/(varx·vary) with cov/var the n-scaled integer
    * forms (n·Σxy − Σx·Σy etc.) — EXACT integer cross-products all
    * the way (the t21 discipline), one IEEE division at the end under
    * stableRound → full hash oracle. Pairs join at (type, day+1) ON
    * the aggregated daily relation, so raw events shuffle once.
    * Types with < 3 day pairs or zero variance emit null r². */
  def volumeAutocorr(events: DataFrame): DataFrame = {
    val daily = graft.Caches.tracked(
      dailyCounts(events, "event_type").withColumnRenamed("n_events", "n"))
    val pairs = daily.select(col("event_type"), col("day"), col("n").as("x"))
      .join(daily.select(col("event_type"), date_sub(col("day"), 1).as("day"),
        col("n").as("y")), Seq("event_type", "day"))
    pairs.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("cov", col("n_pairs") * col("sxy") - col("sx") * col("sy"))
      .withColumn("varx", col("n_pairs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vary", col("n_pairs") * col("syy") - col("sy") * col("sy"))
      // cov/varx/vary are exact longs well under 2^53 (so the double
      // casts are exact); the SQUARES happen in double — cov² would
      // overflow long at large SFs — as the same fixed IEEE op
      // sequence the oracle runs
      .withColumn("r2_lag1",
        when(col("n_pairs") >= 3 && col("varx") > 0 && col("vary") > 0,
          graft.Num.stableRound(
            signum(col("cov").cast("double")) *
              (col("cov").cast("double") * col("cov").cast("double"))
              / (col("varx").cast("double") * col("vary").cast("double")), 4)))
      .select(col("event_type"), col("n_pairs"), col("r2_lag1"))
      .orderBy("event_type")
  }

  /** q64_type_overlap — exact audience overlap between event types:
    * for every type pair (a < b) the distinct-entity counts, the
    * count of entities that did BOTH, and the Jaccard — the
    * cross-feature / cross-segment audience question (q10's two-set
    * collision generalized to all pairs). Pairs sharing no entity
    * carry no row. Scale: one exchange to distinct (type, entity),
    * then a user-grain self-join whose fan-out per entity is bounded
    * by the type vocabulary (≤ #types rows per user) — output is
    * k²-grain. The sketch path at unbounded cardinality is q65. */
  def typeOverlap(events: DataFrame): DataFrame = {
    val tu = graft.Caches.tracked(
      events.select("event_type", "user_id").distinct())
    val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
    val a = tu.select(col("event_type").as("type_a"), col("user_id"))
    val b = tu.select(col("event_type").as("type_b"), col("user_id"))
    a.join(b, Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_users_both"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n").as("n_users_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_users_b"))), Seq("type_b"))
      .withColumn("jaccard", graft.Num.stableRound(
        col("n_users_both").cast("double") /
          (col("n_users_a") + col("n_users_b") - col("n_users_both")), 4))
      .select(col("type_a"), col("type_b"), col("n_users_a"),
        col("n_users_b"), col("n_users_both"), col("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** q65_kmv_overlap — q64's SKETCH path: per-type KMV (bottom-k /
    * theta) sketches of the entity hash space, pairwise set algebra
    * over the sketch table. Per type the state is k longs however
    * many entities exist — the property that lets one pass over
    * 100 TB of events answer every pairwise audience question — and
    * the estimates are merge-order-independent (the KMV buffer is a
    * deterministic function of the input SET). est_union comes from
    * the union sketch's kth-min density ((k−1)/θ, exact when the
    * union still fits in k); est_jaccard is the fraction of the
    * union's bottom-k present in both sketches; est_both their
    * product. Rows-only (estimates); the spec bounds them against
    * exact q64 and pins the merge laws. */
  def kmvOverlap(events: DataFrame, k: Int = 256): DataFrame =
    kmvPairs(kmvSketches(events, k), k)

  /** The per-type KMV sketch table behind q65/s29: one row per type,
    * k XOR-shifted bottom-k hashes. */
  def kmvSketches(events: DataFrame, k: Int = 256): DataFrame = {
    val kmv = org.apache.spark.sql.functions.udaf(
      new graft.functions.TypedAggregators.KmvSketch(k))
    events
      .select(col("event_type"),
        xxhash64(col("user_id")).bitwiseXOR(lit(Long.MinValue)).as("h"))
      .groupBy("event_type").agg(kmv(col("h")).as("sk"))
  }

  /** Pairwise KMV set-algebra estimates over a sketch table. */
  def kmvPairs(sk: DataFrame, k: Int): DataFrame = {
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.crossJoin(broadcast(b))
      .filter(col("type_a") < col("type_b"))
      .withColumn("u",
        slice(array_sort(array_distinct(concat(col("sk_a"), col("sk_b")))), 1, k))
      .withColumn("ku", size(col("u")))
      // hash → uniform fraction: the sketch space is XOR-shifted so
      // natural long order is uniform order; +2^63 then /2^64
      .withColumn("theta",
        (element_at(col("u"), col("ku")).cast("double") + lit(9.223372036854776E18))
          / lit(1.8446744073709552E19))
      .withColumn("est_union", when(col("ku") < k, col("ku").cast("double"))
        .otherwise(lit((k - 1).toDouble) / col("theta")))
      .withColumn("n_common_mins", size(array_intersect(col("u"),
        array_intersect(col("sk_a"), col("sk_b")))))
      .withColumn("est_jaccard",
        col("n_common_mins").cast("double") / col("ku"))
      .select(col("type_a"), col("type_b"),
        graft.Num.stableRound(col("est_union"), 2).as("est_users_union"),
        graft.Num.stableRound(col("est_jaccard") * col("est_union"), 2)
          .as("est_users_both"),
        graft.Num.stableRound(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** q61_hourly_profile — the seasonal time-slot profile per event
    * type (the reference's flow-by-time-slot report, hour grain):
    * per (type, hour-of-day) the event count, the hour's share of the
    * type's total, and the hour's rank within the type (busiest
    * first, ties to the earlier hour) — the shape capacity planning
    * and staffing reads hang off. One partial-agg exchange to the
    * ≤ types×24-row grain; the share and rank windows run there, so
    * raw events shuffle exactly once. Counts are exact; share is one
    * IEEE division under stableRound → full hash oracle. */
  def hourlyProfile(events: DataFrame): DataFrame = {
    val byHour = events
      .groupBy(col("event_type"), hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val wTot = Window.partitionBy("event_type")
    val wRnk = Window.partitionBy("event_type")
      .orderBy(col("n_events").desc, col("hour"))
    byHour
      .withColumn("share", graft.Num.stableRound(
        col("n_events").cast("double") / sum("n_events").over(wTot), 4))
      .withColumn("rnk", row_number().over(wRnk))
      .select(col("event_type"), col("hour"), col("n_events"),
        col("share"), col("rnk"))
      .orderBy("event_type", "hour")
  }

  /** q60_event_anomaly — robust daily-volume anomaly report per event
    * type (the monitoring question every ingest pipeline asks of its
    * event stream): for each (event_type, day) the day's event count,
    * the type's exact median and MAD over its observed days, and the
    * robust z-score z = (cnt − med)/(1.4826·mad) with |z| > k flagged
    * — q46's median/MAD machinery turned into a time-series monitor,
    * where mean/stddev would be dragged by the very spike days it
    * exists to flag. Days with zero events carry no row (the median
    * is over OBSERVED days; at 100 TB the observed grid is dense).
    *
    * A type whose MAD is 0 (more than half its days share the median
    * count) has no finite z; those rows emit a null z and flag ANY
    * deviation from the median — the conservative reading.
    *
    * Exactness: counts are integers, the interpolated medians are
    * exact (middle-pair averages stay on the binary 0.25 grid), and z
    * is a fixed IEEE op sequence both engines evaluate identically →
    * full hash oracle. Scale: one partial-agg exchange to (type, day)
    * grain — ~types×days rows — and q46's median/MAD derivation runs at
    * that aggregated grain, so the raw events never shuffle anywhere. */
  def eventAnomaly(events: DataFrame, k: Double = 3.0): DataFrame = {
    val daily = graft.Caches.tracked(dailyCounts(events, "event_type"))
    val (devs, mad) = RelationalOps.medianMad(daily, Some("event_type"), "n_events",
      keep = graft.Caches.tracked)
    devs.join(broadcast(mad), "event_type")
      .withColumn("z", when(col("mad") > 0,
        graft.Num.stableRound(
          (col("n_events") - col("med")) / (lit(1.4826) * col("mad")), 4)))
      .select(col("event_type"),
        isoDay(col("day")).as("day"), col("n_events"),
        col("med"), col("mad"), col("z").as("robust_z"),
        when(col("mad") > 0,
            abs((col("n_events") - col("med")) / (lit(1.4826) * col("mad"))) > lit(k))
          .otherwise(col("n_events") =!= col("med")).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  /** q69_ewma_volume — dyadic-decay EWMA smoothing of each type's
    * daily event volume (the trend line q60's anomaly z-scores are
    * read against, and the denominator a "is today 2x normal?" alert
    * wants): per (event_type, day) the day's count and the
    * exponentially-weighted average over the trailing `horizon` days
    * with decay 1/2 per day, absent days zero-filled.
    *
    * The decay is DYADIC on purpose: weight(lag) = 2^(horizon-1-lag)
    * is an exact long, so the weighted sum is EXACT integer
    * arithmetic end to end — ewma = wsum / (2^horizon - 1) is the
    * only IEEE op, under stableRound → full hash oracle (a pow(0.9,
    * lag) decay would hit libm cross-engine drift and order-dependent
    * float summation). Zero-filling means the first horizon-1 days of
    * a series read damped (cold-start reads low, by definition, not
    * by accident); absent MIDDLE days damp the same way — an EWMA of
    * the true daily series, not of the observed subsequence.
    *
    * Scale: one partial-agg exchange to (type, day) grain, then each
    * daily row fans out to its `horizon` target days via posexplode
    * AT THAT GRAIN (≤ types x days x horizon rows — trivial next to
    * the raw events, which never shuffle again). Overflow: horizon
    * ≤ 32 keeps weight ≤ 2^31, so wsum stays in long for daily
    * counts up to ~2^31 per (type, day) — 100 TB headroom. */
  def ewmaVolume(events: DataFrame, horizon: Int = 16): DataFrame =
    ewmaFromDaily(graft.Caches.tracked(dailyCounts(events, "event_type")), horizon)

  /** q69's tiny-grain core over an already-aggregated (event_type,
    * day DATE, n_events) relation — shared with the streaming twin
    * (s32), whose state is exactly this grain. */
  private[graft] def ewmaFromDaily(daily: DataFrame, horizon: Int): DataFrame = {
    require(horizon >= 1 && horizon <= 32,
      s"ewmaVolume: horizon $horizon outside [1,32] — dyadic weights must stay in long")
    // source day s contributes n·2^(h-1-lag) to target days s..s+h-1;
    // posexplode's pos IS the lag, so no join-side datediff is needed
    val contrib = daily
      .select(col("event_type"), col("n_events").as("n"),
        posexplode(expr(s"sequence(day, date_add(day, ${horizon - 1}))"))
          .as(Seq("lag", "day")))
      .groupBy("event_type", "day")
      .agg(sum(expr(s"n * shiftleft(CAST(1 AS BIGINT), ${horizon - 1} - lag)"))
        .as("wsum"))
    val denom = (1L << horizon) - 1L
    daily.join(contrib, Seq("event_type", "day"))
      .withColumn("ewma", graft.Num.stableRound(
        col("wsum").cast("double") / lit(denom.toDouble), 4))
      .select(col("event_type"),
        isoDay(col("day")).as("day"),
        col("n_events"), col("ewma"))
      .orderBy("event_type", "day")
  }

  /** q70_touch_attribution — first-/last-touch conversion attribution
    * (the marketing-analytics question sessionization feeds): each
    * purchase is attributed to the same user's earliest (first-touch)
    * and latest (last-touch) preceding non-purchase event within a
    * `lookbackDays` window, and the report rolls attributed
    * conversions and revenue up per touch type. Revenue is cents-exact
    * (the q01/q05 discipline); purchases with no in-window touch fall
    * out (unattributable — direct conversions).
    *
    * Determinism: the touch pick is max/min of struct(ts_us,
    * event_id, type) — event_id is unique, so ties on the timestamp
    * break identically in both engines. Scale: one user_id exchange;
    * the purchase x touch fan-out is bounded by per-user activity in
    * the window (user-grain, never corpus-grain), and the rollup
    * output is ≤ #types rows per leg. */
  def touchAttribution(events: DataFrame, lookbackDays: Int = 7): DataFrame = {
    val us = eventUs
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), us.as("p_us"),
        expr("CAST(floor(value*100 + 0.5) AS BIGINT)").as("cents"))
    val t = events.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), us.as("t_us"), col("event_id").as("tid"),
        col("event_type"))
    val win = lit(lookbackDays * 86400000000L)
    val per = p.join(t, Seq("user_id"))
      .filter(col("t_us") < col("p_us") && col("t_us") >= col("p_us") - win)
      .groupBy("pid", "cents")
      .agg(
        min(struct(col("t_us"), col("tid"), col("event_type").as("tt"))).as("first"),
        max(struct(col("t_us"), col("tid"), col("event_type").as("tt"))).as("last"))
    def leg(field: String, n: String, rev: String): DataFrame = per
      .groupBy(col(s"$field.tt").as("touch_type"))
      .agg(count(lit(1)).as(n), sum("cents").as(rev))
    leg("first", "n_first", "rev_first_cents")
      .join(leg("last", "n_last", "rev_last_cents"), Seq("touch_type"), "full_outer")
      .na.fill(0L, Seq("n_first", "rev_first_cents", "n_last", "rev_last_cents"))
      .orderBy("touch_type")
  }

  /** q71_rfm_segments — RFM customer segmentation (the classic
    * marketing read over purchase behavior, and the scoring step q70's
    * attribution feeds): per purchasing user the recency (days from
    * the user's last purchase to the corpus's latest purchase day),
    * frequency (purchase count) and monetary value (cents-exact sum),
    * each quintile-scored 1..5 by EXACT global rank, plus the derived
    * segment label. Higher is better on every score (r_score 5 = most
    * recent).
    *
    * The three global ranks are RelationalOps.exactRank, q55's
    * hierarchical recipe — range buckets, a ≤1024-row prefix-sum
    * window, within-bucket row_number — so NO user-grain global window
    * exists (the q55/q44
    * precedent; an ntile over all users would single-partition the
    * sort at 100 TB). Ties break by user_id in both engines, so ranks
    * — and therefore boundary-adjacent scores — are deterministic.
    * Scale: raw events shuffle once to user grain; everything after
    * runs at that grain with broadcast-tiny sizing tables. */
  def rfmSegments(events: DataFrame): DataFrame = {
    val p = graft.Caches.tracked(
      events.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(
          max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("frequency"),
          sum(expr("CAST(floor(value*100 + 0.5) AS BIGINT)")).as("monetary_cents")))
    val mx = p.agg(max("last_day").as("corpus_day"))
    val base = graft.Caches.tracked(p.crossJoin(broadcast(mx))
      .withColumn("recency_days",
        datediff(col("corpus_day"), col("last_day")).cast("long"))
      .select("user_id", "recency_days", "frequency", "monetary_cents"))
    // q55's global-window-free exact rank of one metric at user grain
    def rankOf(valueCol: String, out: String): DataFrame =
      RelationalOps.exactRank(
        base.select(col("user_id"), col(valueCol).cast("long").as("v")), "v", "user_id", out)
        .select("user_id", out)
    base
      .join(rankOf("recency_days", "rr"), "user_id")
      .join(rankOf("frequency", "rf"), "user_id")
      .join(rankOf("monetary_cents", "rm"), "user_id")
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n_users"))))
      .withColumn("r_score", expr("5 - ((rr - 1) * 5) div n_users")) // recent = low days = high score
      .withColumn("f_score", expr("1 + ((rf - 1) * 5) div n_users"))
      .withColumn("m_score", expr("1 + ((rm - 1) * 5) div n_users"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
          .when(col("r_score") >= 4, "recent")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "lost")
          .otherwise("regular"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"),
        col("m_score"), col("segment"))
      .orderBy("user_id")
  }

  /** q78_cusum_shift — two-sided CUSUM sustained-shift detection over
    * daily event volumes: q60's median/MAD monitor flags POINT
    * anomalies (one bad day), but a level shift of modest size on
    * every day slips under any per-day threshold — CUSUM accumulates
    * the small daily excesses (S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ−med−k)),
    * mirrored for drops) until the sum crosses h, the classic
    * change-detection trade (Page's test). Robust parameterization:
    * center = exact interpolated MEDIAN of daily counts, allowance
    * k = MAD/2, threshold h = hSigma·MAD — all dyadic rationals over
    * integers (median/MAD of integers end in .0/.5), so the
    * sequential recurrence is bit-identical to the oracle's recursive
    * CTE (the q76/q77 protocol). Day-grain relation throughout; the
    * O(days²) prefix folds are free at any corpus size. MAD = 0
    * (constant series) makes any deviation flag immediately —
    * documented, not special-cased. */
  def cusumShift(events: DataFrame, hSigma: Double = 5.0): DataFrame =
    cusumFromDaily(dailyCounts(events), hSigma)

  /** The CUSUM derivation from an already-aggregated (day, n_events)
    * relation — shared by the batch op and its streaming twin (s39),
    * the holtFromDaily seam verbatim: center/allowance/threshold
    * re-derive from the full state each trigger (late days shift the
    * median, which re-parameterizes every day — another recurrence
    * that cannot be maintained incrementally). */
  private[graft] def cusumFromDaily(daily: DataFrame,
                                    hSigma: Double): DataFrame = {
    val (devs, mad) = RelationalOps.medianMad(daily, None, "n_events")
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    devs.crossJoin(broadcast(mad))
      .withColumn("xs", collect_list(
        struct(col("day"), col("n_events"))).over(w))
      .withColumn("st", expr(
        "aggregate(xs, named_struct('sp', CAST(0 AS DOUBLE), 'sn', CAST(0 AS DOUBLE)), " +
          "(acc, x) -> named_struct(" +
          "'sp', greatest(CAST(0 AS DOUBLE), acc.sp + (CAST(x.n_events AS DOUBLE) - med - mad/2D)), " +
          "'sn', greatest(CAST(0 AS DOUBLE), acc.sn + (med - CAST(x.n_events AS DOUBLE) - mad/2D))))"))
      // flag on the SAME rounded values the row displays (m11 rule)
      .withColumn("cusum_up", graft.Num.stableRound(col("st.sp"), 4))
      .withColumn("cusum_down", graft.Num.stableRound(col("st.sn"), 4))
      .select(isoDay(col("day")).as("day"),
        col("n_events"), col("cusum_up"), col("cusum_down"),
        (col("cusum_up") > lit(hSigma) * col("mad") ||
          col("cusum_down") > lit(hSigma) * col("mad")).as("shifted"))
      .orderBy("day")
  }

  /** q77_holt_trend — Holt's LINEAR-TREND exponential smoothing over
    * daily event volumes (the forecasting rung above q69's level-only
    * EWMA: a steadily growing series keeps a persistent trend
    * component, so the one-step forecast level+trend doesn't lag the
    * growth the way a plain EWMA structurally must). DYADIC smoothing
    * (α=β=1/2) keeps every intermediate a dyadic rational — exactly
    * representable in doubles — and the recurrence evaluates in
    * ascending-day order on both engines (Spark: a window-ordered
    * prefix fold; DuckDB: the recursive CTE), so levels/trends/
    * forecasts are bit-identical before the cosmetic 4-dp round (the
    * q76/t33 sequential protocol). Initialization: l₁=x₁, b₁=0.
    * Shuffle posture: raw events reduce to the DAY grain first; the
    * single-partition window and the O(days²) prefix folds run on
    * that ≤ horizon-days relation — free at any corpus size. */
  def holtTrend(events: DataFrame): DataFrame =
    holtFromDaily(dailyCounts(events))

  /** The Holt recurrence from an already-aggregated (day, n_events)
    * relation — shared by the batch op and its streaming twin (s38),
    * which maintains the daily counts as replay-exact
    * batch-partitioned state and re-derives the fold per trigger. */
  private[graft] def holtFromDaily(daily: DataFrame): DataFrame = {
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val step =
      "named_struct('l', 0.5D * CAST(x.n_events AS DOUBLE) + 0.5D * (acc.l + acc.b), " +
        "'b', 0.5D * ((0.5D * CAST(x.n_events AS DOUBLE) + 0.5D * (acc.l + acc.b)) - acc.l) " +
        "+ 0.5D * acc.b, 'init', false)"
    daily
      .withColumn("xs", collect_list(struct(col("day"), col("n_events"))).over(w))
      .withColumn("st", expr(
        "aggregate(xs, named_struct('l', CAST(0 AS DOUBLE), 'b', CAST(0 AS DOUBLE), " +
          "'init', true), (acc, x) -> CASE WHEN acc.init THEN " +
          "named_struct('l', CAST(x.n_events AS DOUBLE), 'b', CAST(0 AS DOUBLE), " +
          s"'init', false) ELSE $step END)"))
      .select(isoDay(col("day")).as("day"),
        col("n_events"),
        graft.Num.stableRound(col("st.l"), 4).as("level"),
        graft.Num.stableRound(col("st.b"), 4).as("trend"),
        graft.Num.stableRound(col("st.l") + col("st.b"), 4).as("forecast_next"))
      .orderBy("day")
  }

  /** q76_survival_curve — Kaplan–Meier time-to-conversion with RIGHT
    * CENSORING, the estimator q63's lag percentiles cannot be: q63
    * sees only users who DID convert, so its distribution is biased
    * fast (survivorship bias by construction); KM keeps every entered
    * user — non-converters count as at-risk until the observation
    * horizon censors them — giving the unbiased "fraction still
    * unconverted after t days" curve (churn/retention's standard
    * estimator). Subjects = first `fromType` per user (entry), event
    * = first later `toType` (duration in whole days, integer micros
    * div), censor = global max timestamp; users whose conversion
    * precedes entry are invalid subjects and drop (q63's rule).
    * Shuffle posture: raw events reduce AT THE USER GRAIN first, the
    * curve computes on the duration-DAY grain (≤ horizon-days rows) —
    * the single-partition cumulative window and the ascending product
    * fold run on that tiny relation, never on events. Float protocol:
    * every count is exact integer; each day's factor is ONE IEEE
    * division (n_risk−d)/n_risk; survival is the ASCENDING-day
    * sequential product — Spark folds a window-ordered collect_list,
    * DuckDB's recursive CTE multiplies in the same order, so the
    * doubles are bit-identical and the 4-dp round is cosmetic (the
    * t33 float-exact protocol). */
  def survivalCurve(events: DataFrame, fromType: String = "click",
                    toType: String = "purchase"): DataFrame = {
    val us = events.select(col("user_id"), col("event_type"),
      eventUs.as("us"))
    val from = us.filter(col("event_type") === fromType)
      .groupBy("user_id").agg(min("us").as("t_from"))
    val to = us.filter(col("event_type") === toType)
      .groupBy("user_id").agg(min("us").as("t_to"))
    val horizon = us.agg(max("us").as("horizon"))
    val subjects = from.join(to, Seq("user_id"), "left_outer")
      .crossJoin(broadcast(horizon))
      .filter(col("t_to").isNull || col("t_to") > col("t_from"))
      .select(
        when(col("t_to").isNotNull, expr("(t_to - t_from) div 86400000000"))
          .otherwise(expr("(horizon - t_from) div 86400000000")).as("dur_day"),
        when(col("t_to").isNotNull, lit(1L)).otherwise(lit(0L)).as("conv"))
    val daily = subjects.groupBy("dur_day").agg(
      sum("conv").as("n_events"), count(lit(1)).as("total_at"))
    val wCum = Window.orderBy("dur_day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("dur_day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("n_risk",
        sum("total_at").over(wAll) - sum("total_at").over(wCum) + col("total_at"))
      .withColumn("factor",
        (col("n_risk") - col("n_events")).cast("double") /
          col("n_risk").cast("double"))
      .withColumn("factors", collect_list(col("factor")).over(wCum))
      .withColumn("survival_raw",
        expr("aggregate(factors, CAST(1.0 AS DOUBLE), (acc, x) -> acc * x)"))
      .select(col("dur_day"), col("n_risk"), col("n_events"),
        (col("total_at") - col("n_events")).as("n_censored"),
        graft.Num.stableRound(col("survival_raw"), 4).as("survival"))
      .orderBy("dur_day")
  }
}
