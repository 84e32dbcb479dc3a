package graft

import graft.operators.TrackAnalytics
import org.apache.spark.sql.functions._

class TrackSpec extends SparkSpecBase {
  import spark.implicits._

  // events: user 1 has two sessions (gap > 30 min), user 2 one session
  private def events = Seq(
    (0L, 1000L * 0, 1L, "click"),
    (1L, 1000L * 60, 1L, "view"),
    (2L, 1000L * 60 * 60 * 2, 1L, "purchase"), // 2h later: new session
    (3L, 1000L * 30, 2L, "view"),
    (4L, 1000L * 90, 2L, "click")
  ).toDF("event_id", "ts_ms", "user_id", "event_type")
    .withColumn("ts_ns", col("ts_ms") * 1000000L)
    .withColumn("ts", timestamp_millis(col("ts_ms")))
    .withColumn("value", lit(1.0))

  test("sessionize splits on the 30-minute gap") {
    val out = TrackAnalytics.sessionize(events).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 2L)
    assert(out(2L) == 1L)
  }

  test("carTrack orders events by time within user") {
    val tracks = TrackAnalytics.carTrack(events).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tracks(1L) == "click>view>purchase")
    assert(tracks(2L) == "view>click")
  }

  test("funnelStep counts adjacent transitions") {
    val out = TrackAnalytics.funnelStep(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("click", "view")) == 1L)
    assert(out(("view", "purchase")) == 1L)
    assert(out(("view", "click")) == 1L)
    assert(out.size == 3)
  }

  test("same-microsecond events order by event_id, not nanoseconds, in every sequence operator") {
    // user 1: click (id 1) and signup (id 2) share microsecond 1000000
    // but their nanoseconds run the other way (signup first); view
    // (id 3) follows a second later. The (microsecond, event_id) order
    // is click > signup > view; a nanosecond order would read
    // signup > click > view.
    val ev = Seq(
      (1L, 1000000700L, 1L, "click"),
      (2L, 1000000200L, 1L, "signup"),
      (3L, 2000000000L, 1L, "view")
    ).toDF("event_id", "ts_ns", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withColumn("value", lit(1.0))
    val pairs = Set(("click", "signup"), ("signup", "view"))
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // q08
    assert(TrackAnalytics.carTrack(ev).collect().map(_.getString(1)).toSeq ==
      Seq("click>signup>view"))
    assert(TrackAnalytics.carTrack(ev, maxEvents = Some(1)).collect()
      .map(_.getString(1)).toSeq == Seq("click"))
    // q09, q56, q58
    assert(edges(TrackAnalytics.funnelStep(ev)) == pairs)
    assert(edges(TrackAnalytics.transitionMatrix(ev)) == pairs)
    assert(edges(TrackAnalytics.sessionTransitions(ev)) == pairs)
    // q11 / q53: one session whose path follows the event_id order
    assert(TrackAnalytics.sessionize(ev).collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 3L)))
    assert(TrackAnalytics.sessionPaths(ev).collect().map(_.getString(0)).toSeq ==
      Seq("click>signup>view"))
    // q30: the signup's nearest prior click is id 1, zero microseconds back
    val asof = TrackAnalytics.asofJoin(ev).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    assert(asof == Seq((2L, 1L, 0L)), s"got $asof")
    // q59: the click owns 0 us up to the signup, the signup the full second
    val dwell = TrackAnalytics.dwellTime(ev).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(dwell == Map("click" -> 0L, "signup" -> 1000000L), s"got $dwell")
  }

  test("asofJoin finds the most recent prior click per signup") {
    val ev = Seq(
      (0L, 1000L, 1L, "click"),
      (1L, 2000L, 1L, "click"),
      (2L, 3000L, 1L, "signup"),   // nearest prior click = 1
      (3L, 4000L, 1L, "signup"),   // still 1 (no click between)
      (4L, 1000L, 2L, "signup"),   // no prior click -> null
      (5L, 2000L, 2L, "click")
    ).toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    val out = TrackAnalytics.asofJoin(ev).collect()
    val byId = out.map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(byId == Map(2L -> 1L, 3L -> 1L, 4L -> -1L))
    val gap = out.find(_.getLong(0) == 2L).get.getLong(3)
    assert(gap == 1000L * 1000) // 1 s in micros
  }

  test("carTrack maxEvents caps each entity to its earliest events") {
    val capped = TrackAnalytics.carTrack(events, maxEvents = Some(2)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(capped == Map(1L -> 2L, 2L -> 2L))
    val full = TrackAnalytics.carTrack(events).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(full == Map(1L -> 3L, 2L -> 2L))
  }

  test("collision finds users present in both cohorts") {
    val out = TrackAnalytics.collision(events, "click", "view").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("retention cohorts users by first day and counts distinct returns per offset") {
    import java.sql.Timestamp
    // midnight-aligned base (1699920000000 = 2023-11-14T00:00:00Z) so
    // hour offsets stay inside their day
    def ts(day: Int, h: Int) = new Timestamp(1699920000000L + day * 86400000L + h * 3600000L)
    val ev = Seq(
      (1L, 10L, ts(0, 1)), (2L, 10L, ts(0, 5)), // user 10: day0 twice (distinct once)
      (3L, 10L, ts(1, 2)),                      // user 10 returns day1
      (4L, 20L, ts(0, 3)),                      // user 20: day0 only
      (5L, 30L, ts(1, 4)), (6L, 30L, ts(3, 4))  // user 30: cohort day1, returns day3
    ).toDF("event_id", "user_id", "ts")
    val out = TrackAnalytics.retention(ev).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val day0 = out.keys.map(_._1).min
    val day1 = out.keys.map(_._1).filter(_ != day0).min
    assert(out((day0, 0)) == 2L) // users 10, 20 start on day0
    assert(out((day0, 1)) == 1L) // only user 10 returns next day
    assert(out((day1, 0)) == 1L && out((day1, 2)) == 1L) // user 30's triangle
  }

  test("graphRank matches an exact power-iteration twin with dangling-mass correction") {
    // edges: 1→2, 2→3, 3→1, 3→4; node 4 dangles (no out-edges)
    val ev = Seq(
      (0L, 1L, 1L, 1), (1L, 1L, 2L, 2), (2L, 1L, 3L, 3), (3L, 1L, 4L, 1),
      (4L, 2L, 1L, 3), (5L, 2L, 2L, 4)
    ).map { case (eid, uid, t, k) => (eid, uid, t * 1000000000L, s"""{"k": $k}""") }
      .toDF("event_id", "user_id", "ts_ns", "props")
    val out = TrackAnalytics.graphRank(ev, iterations = 10).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // exact twin: same double ops, same iteration count
    var r = Map(1 -> 0.25, 2 -> 0.25, 3 -> 0.25, 4 -> 0.25)
    for (_ <- 1 to 10) {
      val dang = r(4)
      val contrib = Map(2 -> r(1), 3 -> r(2), 1 -> r(3) * 0.5, 4 -> r(3) * 0.5)
      r = r.map { case (v, _) =>
        v -> (0.15 / 4 + 0.85 * (contrib.getOrElse(v, 0.0) + dang / 4)) }
    }
    val expect = r.map { case (v, x) => v -> (math.floor(x * 1e6 + 0.5) / 1e6) }
    assert(out == expect, s"got $out expected $expect")
    assert(math.abs(out.values.sum - 1.0) < 1e-3, "ranks must sum to ~1")
    // distributed branch (forced with maxLocalEdges = 0) agrees with the
    // local loop up to float-summation order
    val dist = TrackAnalytics.graphRank(ev, iterations = 10, maxLocalEdges = 0L).collect()
      .map(r2 => r2.getInt(0) -> r2.getDouble(1)).toMap
    assert(dist.keySet == out.keySet)
    assert(dist.forall { case (v, x) => math.abs(x - out(v)) <= 2e-6 }, s"dist $dist vs $out")
  }

  test("windowFunnel reports deepest greedy level per user within the window") {
    val h = 3600000L // one hour in ms
    val ev = Seq(
      // user 1: view → click → purchase inside 24h → level 3
      (0L, h * 1, 1L, "view"), (1L, h * 2, 1L, "click"), (2L, h * 3, 1L, "purchase"),
      // user 2: click falls outside the 24h window after first view → level 1
      (3L, h * 1, 2L, "view"), (4L, h * 26, 2L, "click"),
      // user 3: click BEFORE the first view only → sequence broken → level 1
      (5L, h * 2, 3L, "click"), (6L, h * 3, 3L, "view"),
      // user 4: never views → level 0
      (7L, h * 1, 4L, "purchase"),
      // user 5: purchase arrives before the click → level 2, not 3
      (8L, h * 1, 5L, "view"), (9L, h * 2, 5L, "purchase"), (10L, h * 3, 5L, "click")
    ).toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val out = TrackAnalytics.windowFunnel(ev).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(0 -> 1L, 1 -> 2L, 2 -> 1L, 3 -> 1L), s"got $out")
  }

  test("transitionMatrix counts consecutive transitions with per-from probabilities") {
    // user 1: click>view>purchase; user 2: view>click — so `view` has
    // two outgoing transitions splitting 0.5/0.5, `click` one at 1.0,
    // and no cross-user transition exists
    val out = TrackAnalytics.transitionMatrix(events).collect()
    val m = out.map(r =>
      (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(m.size == 3, s"got $m")
    assert(m(("click", "view")) == ((1L, 1.0)))
    assert(m(("view", "purchase")) == ((1L, 0.5)))
    assert(m(("view", "click")) == ((1L, 0.5)))
  }

  test("sessionTransitions drops the gap-spanning edge q56 counts") {
    // user 1: click>view then (2h gap) purchase — the view>purchase
    // edge spans the session boundary and must vanish; user 2's
    // within-session view>click stays
    val full = TrackAnalytics.transitionMatrix(events).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(full.contains(("view", "purchase")), "premise: q56 counts the cross-gap edge")
    val out = TrackAnalytics.sessionTransitions(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(("click", "view"), ("view", "click")), s"got $out")
    assert(out(("click", "view")) == ((1L, 1.0)))
    assert(out(("view", "click")) == ((1L, 1.0)))
  }

  test("dwellTime attributes each interval to the event that opened it; last events own nothing") {
    // user 1: click(0s)→view(60s)→purchase(2h) — click owns 60 s, view
    // owns 7140 s, purchase (last) owns nothing; user 2:
    // view(30s)→click(90s) — view owns 60 s
    val out = TrackAnalytics.dwellTime(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set("click", "view"), s"got $out")
    assert(out("click") == ((1L, 60000000L, 60.0)))
    // view: two stays totalling 7140 + 60 = 7200 s → mean 3600 s
    assert(out("view") == ((2L, 7200000000L, 3600.0)), s"got $out")
  }

  test("modalEventType breaks count ties toward the lexicographically smaller type") {
    val ev = Seq(
      (0L, 0L, 1L, "view"), (1L, 1000L, 1L, "view"), (2L, 2000L, 1L, "click"),
      (3L, 0L, 2L, "view"), (4L, 1000L, 2L, "click") // 1-1 tie -> "click"
    ).toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    val out = TrackAnalytics.modalEventType(ev).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> (("view", 2L)), 2L -> (("click", 1L))), s"got $out")
  }

  test("dwellPercentiles reports exact interpolated tails of q59's intervals") {
    // user 1: "view" owns gaps 10s,20s,30s,40s; the last event owns none
    val rows = Seq((0L, 0L), (1L, 10000L), (2L, 30000L), (3L, 60000L), (4L, 100000L))
    val ev = rows.map { case (id, ms) => (id, ms, 1L, "view") }
      .toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    val out = TrackAnalytics.dwellPercentiles(ev).collect()
    graft.Caches.release()
    assert(out.length == 1)
    val r = out.head
    def r2(x: Double) = math.floor(x * 100 + 0.5) / 100
    // gaps (us): 1e7, 2e7, 3e7, 4e7 → p50 = 2.5e7 (midpoint),
    // p90 r=2.7 → 3e7+0.7*1e7, p99 r=2.97
    assert(r.getString(0) == "view" && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.5e7)
    assert(r.getDouble(3) == r2(3e7 + (4e7 - 3e7) * (2.7 - 2)))
    assert(r.getDouble(4) == r2(3e7 + (4e7 - 3e7) * (2.97 - 2)))
  }

  test("bounceRate keys sessions by entry type and counts single-event sessions") {
    val m = 60000L
    val ev = Seq(
      // user 1: session A (view, click) then after a 2h gap session B (view) — bounce
      (0L, 0L, 1L, "view"), (1L, m, 1L, "click"),
      (2L, 3 * 3600000L, 1L, "view"),
      // user 2: one session entered by click with 3 events
      (3L, 0L, 2L, "click"), (4L, m, 2L, "view"), (5L, 2 * m, 2L, "purchase"),
      // user 3: a lone purchase — bounce entered by purchase
      (6L, 0L, 3L, "purchase")
    ).toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    val out = TrackAnalytics.bounceRate(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      "view" -> ((2L, 1L, 0.5)),      // sessions A (no bounce) + B (bounce)
      "click" -> ((1L, 0L, 0.0)),
      "purchase" -> ((1L, 1L, 1.0))), s"got $out")
  }

  test("volumeAutocorr: alternating volume scores r2 = -1, trend +1, short/flat series null") {
    val day = 86400000L
    def counts(t: String, cs: Seq[Int]): Seq[(String, Long)] =
      cs.zipWithIndex.flatMap { case (c, d) =>
        (0 until c).map(i => (t, d * day + i * 1000L)) }
    val rows = counts("alt", Seq(10, 20, 10, 20, 10, 20)) ++ // perfect alternation
      counts("up", Seq(10, 20, 30, 40, 50)) ++               // perfect linear trend
      counts("flat", Seq(5, 5, 5, 5)) ++                     // zero variance
      counts("short", Seq(1, 2, 3))                          // only 2 pairs
    val ev = rows.toDF("event_type", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val out = TrackAnalytics.volumeAutocorr(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    graft.Caches.release()
    assert(out(("alt")) == ((5L, Some(-1.0))), s"got $out")
    assert(out(("up")) == ((4L, Some(1.0))))
    assert(out(("flat")) == ((3L, None)) && out(("short")) == ((2L, None)))
  }

  test("ewmaVolume: dyadic weights, zero-filled gaps, constant series converges exactly") {
    val day = 86400000L
    def burst(t: String, d: Int, c: Int): Seq[(String, Long)] =
      (0 until c).map(i => (t, d * day + i * 1000L))
    // "x": counts 1,2,_,4 with a gap on day 2; horizon 2 → weights (2,1), denom 3
    val rows = burst("x", 0, 1) ++ burst("x", 1, 2) ++ burst("x", 3, 4) ++
      // "c": constant 3/day for 20 days — past warm-up the EWMA is exactly 3
      (0 until 20).flatMap(d => burst("c", d, 3))
    val ev = rows.toDF("event_type", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val h2 = TrackAnalytics.ewmaVolume(ev.filter(col("event_type") === "x"), horizon = 2)
      .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    graft.Caches.release()
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    assert(h2 == Map(
      "1970-01-01" -> ((1L, r4(2.0 / 3))),        // 1*2 / 3
      "1970-01-02" -> ((2L, r4(5.0 / 3))),        // 2*2 + 1*1
      "1970-01-04" -> ((4L, r4(8.0 / 3)))),       // 4*2 + 0*1 — day-2 zero-fill
      s"got $h2")
    val c = TrackAnalytics.ewmaVolume(ev.filter(col("event_type") === "c"))
      .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    graft.Caches.release()
    assert(c("1970-01-20") == 3.0 && c("1970-01-16") == 3.0) // full window: 3·(2^16−1)/(2^16−1)
    assert(c("1970-01-01") == 1.5)                           // cold start: 3·2^15/65535 rounds to 1.5
  }

  test("touchAttribution: window bounds, struct tie-break, direct conversions fall out") {
    val s = 1000L
    val ev = Seq(
      // u1: click → view → purchase: first=click, last=view
      (1L, 1L, "click", 0.0, 0L), (2L, 1L, "view", 0.0, 10 * s),
      (3L, 1L, "purchase", 1.00, 20 * s),
      // u2: direct purchase, no touches — unattributed
      (4L, 2L, "purchase", 2.00, 0L),
      // u3: signup 8 days before (outside 7d lookback), view exactly 7d before (in)
      (5L, 3L, "signup", 0.0, 0L), (6L, 3L, "view", 0.0, 86400 * s),
      (7L, 3L, "purchase", 0.50, 8 * 86400 * s),
      // u4: two touches at the SAME ts — event_id splits first (8=click) from last (9=view)
      (8L, 4L, "click", 0.0, 100 * s), (9L, 4L, "view", 0.0, 100 * s),
      (10L, 4L, "purchase", 3.00, 200 * s)
    ).toDF("event_id", "user_id", "event_type", "value", "ts_ms")
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    val out = TrackAnalytics.touchAttribution(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(
      "click" -> ((2L, 400L, 0L, 0L)),   // first for u1+u4; never last
      "view" -> ((1L, 50L, 3L, 450L))),  // first for u3; last for all three
      s"got $out")
  }

  test("rfmSegments: exact quintile scores from hierarchical ranks, segment mapping") {
    val day = 86400000L
    // user k: purchases on days 0..k of $1 each → frequency k+1,
    // monetary (k+1)·100 cents, recency 9−k days. All three metrics
    // rank users identically EXCEPT recency, which reverses.
    val rows = for { k <- 0 until 10; d <- 0 to k } yield
      ((k * 100 + d).toLong, k.toLong, "purchase", 1.0, d * day)
    val ev = rows.toDF("event_id", "user_id", "event_type", "value", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val out = TrackAnalytics.rfmSegments(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))).toMap
    graft.Caches.release()
    assert(out.size == 10)
    // most recent + most frequent + highest spend → 5/5/5 champion
    assert(out(9L) == ((0L, 10L, 1000L, 5L, 5L, 5L, "champion")), s"got ${out(9L)}")
    // stale, one purchase, lowest spend → 1/1/1 lost
    assert(out(0L) == ((9L, 1L, 100L, 1L, 1L, 1L, "lost")), s"got ${out(0L)}")
    // the middle: rank 5 of 10 on recency (r=3), rank 6 on f/m (3/3)
    assert(out(5L) == ((4L, 6L, 600L, 3L, 3L, 3L, "regular")), s"got ${out(5L)}")
  }

  test("ohlcDownsample picks first/last by time then id; no float arithmetic in the bar") {
    val ev = Seq(
      // day 1, "px": open 10.5 (t=0), close 7.25 (t=3000), high 99.125, low 1.5
      (0L, 0L, "px", 10.5), (1L, 1000L, "px", 99.125),
      (2L, 2000L, "px", 1.5), (3L, 3000L, "px", 7.25),
      // same-ms tie at t=0 on day 2: event_id breaks it — open 5.0, close 6.0
      (10L, 86400000L, "px", 5.0), (11L, 86400000L, "px", 6.0)
    ).toDF("event_id", "ts_ms", "event_type", "value")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    val out = TrackAnalytics.ohlcDownsample(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))).toMap
    assert(out(("px", "1970-01-01")) == ((10.5, 99.125, 1.5, 7.25, 4L)), s"got $out")
    assert(out(("px", "1970-01-02")) == ((5.0, 6.0, 5.0, 6.0, 2L)))
  }

  test("conversionLag reports exact percentiles and mean over first-click→first-purchase lags") {
    // users 1..5 convert with lags 10s,20s,30s,40s,100s; user 6 buys
    // BEFORE clicking (excluded); user 7 never buys
    val rows = (1 to 5).flatMap { u =>
      Seq((u * 10L, 1000L, u.toLong, "click"),
        (u * 10 + 1L, 1000L + Seq(10, 20, 30, 40, 100)(u - 1) * 1000L, u.toLong, "purchase"))
    } ++ Seq((60L, 5000L, 6L, "purchase"), (61L, 9000L, 6L, "click"),
      (70L, 1000L, 7L, "click"))
    val ev = rows.toDF("event_id", "ts_ms", "user_id", "event_type")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    val out = TrackAnalytics.conversionLag(ev).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 5L)
    // lags (us): 1e7, 2e7, 3e7, 4e7, 1e8 → p50 = 3e7; p90 = r=3.6 →
    // 4e7 + 0.6*(1e8-4e7) = 7.6e7; p99 → r=3.96 → 4e7+0.96*6e7
    def r2(x: Double) = math.floor(x * 100 + 0.5) / 100
    assert(r.getDouble(1) == 3e7)
    assert(r.getDouble(2) == r2(4e7 + (1e8 - 4e7) * (3.6 - 3)))
    assert(r.getDouble(3) == r2(4e7 + (1e8 - 4e7) * (3.96 - 3)))
    assert(r.getDouble(4) == 4e7) // mean = 2e8/5
  }

  test("cusumShift accumulates a sustained level shift past h while noise days stay flat") {
    val dayMs = 86400000L
    // 8 in-control days alternating 10/12 events, then 4 days at 20:
    // median 12, MAD 2 → k=1, h=10; sp after the shift: 7,14,21,28 —
    // the alarm fires on the SECOND shifted day (one day of +8 is not
    // enough, the accumulation is the point vs q60's per-day z-score)
    val counts = Seq(10, 12, 10, 12, 10, 12, 10, 12, 20, 20, 20, 20)
    val rows = counts.zipWithIndex.flatMap { case (n, d) =>
      (0 until n).map(i => ((d * 100 + i).toLong, 1L, d * dayMs + 10L + i))
    }
    val ev = rows.toDF("event_id", "user_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    val out = TrackAnalytics.cusumShift(ev).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(4)))
    assert(out.map(_._2).takeRight(4).toSeq == Seq(7.0, 14.0, 21.0, 28.0),
      s"got ${out.toSeq}")
    assert(out.map(_._3).toSeq ==
      Seq.fill(9)(false) ++ Seq(true, true, true), s"got ${out.toSeq}")
    // in-control days never accumulate upward
    assert(out.take(8).forall(_._2 == 0.0), s"got ${out.toSeq}")
  }

  test("holtTrend follows the hand-computed dyadic recurrence, including a negative trend") {
    val dayMs = 86400000L
    // day 0: 4 events, day 1: 8, day 2: 2
    val rows = (0 until 4).map(i => (i.toLong, 1L, 10L + i)) ++
      (0 until 8).map(i => (10L + i, 1L, dayMs + 10L + i)) ++
      (0 until 2).map(i => (20L + i, 1L, 2 * dayMs + 10L + i))
    val ev = rows.toDF("event_id", "user_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    val out = TrackAnalytics.holtTrend(ev).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // t1: l=4 b=0 f=4; t2: l=.5·8+.5·4=6, b=.5·2=1, f=7;
    // t3: l=.5·2+.5·7=4.5, b=.5·(4.5−6)+.5·1=−0.25, f=4.25
    assert(out.toSeq == Seq(
      (4L, 4.0, 0.0, 4.0),
      (8L, 6.0, 1.0, 7.0),
      (2L, 4.5, -0.25, 4.25)), s"got ${out.toSeq}")
  }

  test("survivalCurve computes the hand-checked Kaplan-Meier table with censoring") {
    val dayMs = 86400000L
    // users 1,2,4 convert at days 0,2,2; user 3 never buys (censored
    // at the horizon, day 5, set by a stray view); user 5 buys BEFORE
    // clicking (invalid subject, dropped)
    val rows = Seq(
      (1L, 1L, 0L, "click"), (2L, 1L, dayMs / 2, "purchase"),
      (3L, 2L, 0L, "click"), (4L, 2L, (dayMs * 2.3).toLong, "purchase"),
      (5L, 3L, 0L, "click"),
      (6L, 4L, dayMs, "click"), (7L, 4L, (dayMs * 3.3).toLong, "purchase"),
      (8L, 5L, 0L, "purchase"), (9L, 5L, dayMs, "click"),
      (10L, 9L, 5 * dayMs, "view"))
    val ev = rows.toDF("event_id", "user_id", "ts_ms", "event_type")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withColumn("ts_ns", col("ts_ms") * 1000000L)
    val out = TrackAnalytics.survivalCurve(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // KM by hand over subjects {(0,ev),(2,ev),(2,ev),(5,cens)}:
    //   day 0: n_risk 4, d 1 → S = 3/4 = 0.75
    //   day 2: n_risk 3, d 2 → S = 0.75 · 1/3 = 0.25
    //   day 5: n_risk 1, d 0 (censor) → S unchanged
    assert(out.toSeq == Seq(
      (0L, 4L, 1L, 0L, 0.75),
      (2L, 3L, 2L, 0L, 0.25),
      (5L, 1L, 0L, 1L, 0.25)), s"got ${out.toSeq}")
  }

  test("hourlyProfile shares sum to 1 per type; rank is busiest-first with earlier-hour ties") {
    val hour = 3600000L
    val rows = Seq.fill(3)(("click", 9L)) ++ Seq.fill(6)(("click", 12L)) ++
      Seq.fill(3)(("click", 18L)) ++ Seq.fill(2)(("view", 0L)) ++
      Seq.fill(2)(("view", 23L))
    val ev = rows.zipWithIndex.map { case ((t, h), i) => (t, h * hour + i) }
      .toDF("event_type", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val out = TrackAnalytics.hourlyProfile(ev).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(out(("click", 12)) == ((6L, 0.5, 1)))
    // 3-count tie at hours 9 and 18: earlier hour ranks first
    assert(out(("click", 9))._3 == 2 && out(("click", 18))._3 == 3)
    assert(out(("view", 0)) == ((2L, 0.5, 1)) && out(("view", 23))._3 == 2)
    assert(out.keys.count(_._1 == "click") == 3)
  }

  test("eventAnomaly flags the spike day by robust z; mad=0 types flag any deviation") {
    val day = 86400000L
    // "click": daily counts 4,5,6,5,7,5,100 → med 5, mad 1;
    // "view": 5,5,5,5,6 → med 5, mad 0 (conservative branch);
    // "buy": 2 days of 2,4 → even-count interpolated med 3, mad 1;
    // "pay": 4 days of 1,3,4,12 → med 3.5 (a .5 midpoint), devs
    // 2.5,0.5,0.5,8.5 → mad 1.5 (a midpoint on the quarter grid)
    def burst(t: String, d: Int, n: Int): Seq[(String, Long)] =
      (0 until n).map(i => (t, d * day + i * 1000L))
    val rows = burst("click", 0, 4) ++ burst("click", 1, 5) ++
      burst("click", 2, 6) ++ burst("click", 3, 5) ++ burst("click", 4, 7) ++
      burst("click", 5, 5) ++ burst("click", 6, 100) ++
      (0 until 4).flatMap(d => burst("view", d, 5)) ++ burst("view", 4, 6) ++
      burst("buy", 0, 2) ++ burst("buy", 1, 4) ++
      burst("pay", 0, 1) ++ burst("pay", 1, 3) ++ burst("pay", 2, 4) ++ burst("pay", 3, 12)
    val ev = rows.toDF("event_type", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val out = TrackAnalytics.eventAnomaly(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]), r.getBoolean(6)))).toMap
    graft.Caches.release()
    val spike = out(("click", "1970-01-07"))
    assert(spike._1 == 100L && spike._2 == 5.0 && spike._3 == 1.0)
    assert(spike._4.get == math.floor((95.0 / 1.4826) * 10000 + 0.5) / 10000)
    assert(spike._5, "the 20x day must flag")
    // a 2-count deviation at mad 1 is |z| 1.35 — quiet
    assert(!out(("click", "1970-01-05"))._5)
    // mad=0: z is null; the deviating day flags, the median days don't
    assert(out(("view", "1970-01-05")) == ((6L, 5.0, 0.0, None, true)))
    assert(out(("view", "1970-01-01")) == ((5L, 5.0, 0.0, None, false)))
    // even day count: interpolated median 3.0, both days |z| < 3
    assert(out(("buy", "1970-01-01"))._2 == 3.0 &&
      out(("buy", "1970-01-01"))._3 == 1.0 && !out(("buy", "1970-01-02"))._5)
    // even day count with a .5 median: z = (n − 3.5)/(1.4826·1.5)
    def z(n: Double) = math.floor((n - 3.5) / (1.4826 * 1.5) * 10000 + 0.5) / 10000
    val pay = (0 to 3).map(i => out(("pay", s"1970-01-0${i + 1}")))
    assert(pay.forall(p => p._2 == 3.5 && p._3 == 1.5), s"got $pay")
    assert(pay.map(_._4.get) == Seq(1.0, 3.0, 4.0, 12.0).map(z), s"got $pay")
    assert(pay.map(_._5) == Seq(false, false, false, true), "only the 12-count day flags")
  }
}
