package graft

import graft.streaming.StreamingFlow
import graft.streaming.StreamingFlow.{Ev, SessionCount}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(minute * 60000L)

  test("s01 congestion aggregates per hour window across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingFlow.congestion(df).writeStream
      .format("memory").queryName("congestion_out").outputMode("complete").start()
    try {
      input.addData((ts(0), "click", 1.0), (ts(10), "click", 2.0), (ts(70), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("congestion_out")
        .orderBy("hour_ms").collect()
      assert(rows.length == 2)
      assert(rows(0).getLong(2) == 2L && rows(0).getDouble(3) == 3.0)
      assert(rows(1).getLong(2) == 1L && rows(1).getDouble(3) == 4.0)
      // second micro-batch lands in the first window
      input.addData((ts(20), "click", 10.0))
      q.processAllAvailable()
      val rows2 = spark.table("congestion_out").orderBy("hour_ms").collect()
      assert(rows2(0).getLong(2) == 3L && rows2(0).getDouble(3) == 13.0)
    } finally q.stop()
  }

  test("s28 streaming OHLC bars equal batch q62 however events arrive across triggers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val df = input.toDF().toDF("event_id", "ts", "event_type", "value")
      .withColumn("ts_ns", unix_millis(col("ts")) * 1000000L)
    val q = StreamingFlow.streamOhlc(df).writeStream
      .format("memory").queryName("ohlc_out").outputMode("complete").start()
    // day-1 events arrive OUT OF ORDER and split across two triggers:
    // the struct-fold state must still pick open by earliest (ts, id)
    def t(ms: Long) = new Timestamp(ms)
    try {
      input.addData((2L, t(7200000), "px", 1.5), (3L, t(10800000), "px", 7.25))
      q.processAllAvailable()
      input.addData((0L, t(0), "px", 10.5), (1L, t(3600000), "px", 99.125))
      q.processAllAvailable()
      val bar = spark.table("ohlc_out").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))))
        .toMap
      assert(bar(("px", 0L)) == ((10.5, 99.125, 1.5, 7.25, 4L)), s"got $bar")
      // the batch twin computes the identical bar on the same rows
      val ev = Seq((0L, 0L, "px", 10.5), (1L, 3600000L, "px", 99.125),
        (2L, 7200000L, "px", 1.5), (3L, 10800000L, "px", 7.25))
        .toDF("event_id", "ts_ms", "event_type", "value")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .withColumn("ts_ns", col("ts_ms") * 1000000L)
      val batch = graft.operators.TrackAnalytics.ohlcDownsample(ev).collect()
        .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
      assert(batch.head == bar(("px", 0L)), s"stream ${bar(("px", 0L))} vs batch ${batch.head}")
    } finally q.stop()
  }

  test("s02 blacklist filters stream rows by the static side") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("user_id", "event_type")
    val blacklist = Seq(Tuple1(13L)).toDF("user_id")
    val q = StreamingFlow.blacklistFilter(stream, blacklist).writeStream
      .format("memory").queryName("bl_out").outputMode("append").start()
    try {
      input.addData((13L, "click"), (7L, "view"), (13L, "view"), (8L, "click"))
      q.processAllAvailable()
      val users = spark.table("bl_out").select("user_id").collect().map(_.getLong(0)).sorted
      assert(users.toSeq == Seq(7L, 8L))
    } finally q.stop()
  }

  test("s04 complete-mode top-N recomputes ranking per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingFlow.topNCongested(df, n = 1).writeStream
      .format("memory").queryName("topn_out").outputMode("complete").start()
    try {
      input.addData((ts(0), "roadA", 5.0), (ts(1), "roadB", 2.0))
      q.processAllAvailable()
      assert(spark.table("topn_out").collect().map(_.getString(0)).toSeq == Seq("roadA"))
      input.addData((ts(2), "roadB", 9.0))
      q.processAllAvailable()
      assert(spark.table("topn_out").collect().map(_.getString(0)).toSeq == Seq("roadB"))
    } finally q.stop()
  }

  test("s06 streaming approx distinct counts unique users per window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val df = input.toDF().toDF("ts", "event_type", "user_id")
    val q = StreamingFlow.approxDistinctUsers(df).writeStream
      .format("memory").queryName("approx_out").outputMode("complete").start()
    try {
      input.addData((ts(0), "click", 1L), (ts(5), "click", 1L), (ts(10), "click", 2L))
      q.processAllAvailable()
      // second batch adds one repeat and one new user to the same window
      input.addData((ts(20), "click", 2L), (ts(25), "click", 3L))
      q.processAllAvailable()
      val rows = spark.table("approx_out").collect()
      assert(rows.length == 1)
      // rsd 2% on tiny cardinalities is exact
      assert(rows(0).getLong(2) == 3L, s"got ${rows(0).getLong(2)}")
    } finally q.stop()
  }

  test("s07 stream-stream interval join matches clicks inside the window only") {
    implicit val sqlCtx = spark.sqlContext
    // realistic timestamps: event times at epoch ~0 collide with the
    // join's INITIAL watermark (0) and are dropped as late
    def rts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)
    val signups = MemoryStream[(Long, Long, Timestamp, String)]
    val clicks = MemoryStream[(Long, Long, Timestamp, String)]
    def df(m: MemoryStream[(Long, Long, Timestamp, String)]) =
      m.toDF().toDF("event_id", "user_id", "ts", "event_type")
    val q = StreamingFlow.intervalJoin(df(signups), df(clicks), windowMin = 30)
      .writeStream.format("memory").queryName("ivj_out").outputMode("append").start()
    try {
      signups.addData((1L, 7L, rts(0), "signup"))
      clicks.addData(
        (2L, 7L, rts(10), "click"),   // inside 30 min -> match
        (3L, 7L, rts(45), "click"),   // outside window -> no match
        (4L, 8L, rts(5), "click"))    // other user -> no match
      q.processAllAvailable()
      val rows = spark.table("ivj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 2L)), s"got $rows")
    } finally q.stop()
  }

  test("s08 checkpointed streaming parquet sink commits micro-batches to files") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ssink").toString
    val input = MemoryStream[(Long, String)]
    val q = graft.sources.Sources.writeStreamParquet(
      input.toDF().toDF("id", "v"), s"$dir/data", s"$dir/ckpt")
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/data")
      assert(back.count() == 3)
      // the checkpoint recorded both committed batches
      assert(new java.io.File(s"$dir/ckpt/commits").list().length >= 2)
    } finally q.stop()
  }

  test("s09 streaming near-dedup collapses reordered rewrites, keeps distinct docs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    // away from epoch 0: initial-watermark collision drops ts(0) rows
    def rts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)
    val q = StreamingFlow.streamNearDedup(input.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("ndedup_out").outputMode("append").start()
    try {
      input.addData((rts(0), 1L, "alpha beta gamma delta"))
      q.processAllAvailable()
      // reordered + word-repeated rewrite -> same distinct-token set ->
      // same fingerprint -> dropped; genuinely new doc -> kept
      input.addData(
        (rts(1), 2L, "delta gamma beta alpha alpha"),
        (rts(2), 3L, "completely different content here"))
      q.processAllAvailable()
      val ids = spark.table("ndedup_out").collect().map(_.getLong(1)).toSet
      assert(ids == Set(1L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("s05 streaming dedup drops duplicate keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val df = input.toDF().toDF("ts", "content_key", "doc_id")
    val q = StreamingFlow.streamDedup(df).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData((ts(0), "ka", 1L), (ts(1), "ka", 2L), (ts(2), "kb", 3L))
      q.processAllAvailable()
      input.addData((ts(3), "ka", 4L), (ts(4), "kc", 5L))
      q.processAllAvailable()
      val keys = spark.table("dedup_out").select("content_key").collect()
        .map(_.getString(0)).sorted
      assert(keys.toSeq == Seq("ka", "kb", "kc"))
    } finally q.stop()
  }

  test("s11 streaming decontamination counts shared shingles identically to batch d09") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val bench = "the capital of france is paris and the capital of spain is madrid"
    val leak = "answer key the capital of france is paris and the capital of spain"
    val clean = "a completely unrelated training document about cooking pasta at home"
    val static = Seq(
      (0L, bench, "eval"), (1L, leak, "train"), (2L, clean, "train")
    ).toDF("doc_id", "text", "source")
    val evalSet = StreamingFlow.evalShingleSet(static, evalSource = "eval")
    assert(evalSet.nonEmpty)
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamDecontaminate(
        input.toDF().toDF("doc_id", "text"), evalSet, minShared = 5)
      .writeStream.format("memory").queryName("decon_out").outputMode("append").start()
    try {
      input.addData((1L, leak), (2L, clean), (3L, "too short"))
      q.processAllAvailable()
      val rows = spark.table("decon_out").orderBy("doc_id").collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
      assert(rows(1L)._2 == "quarantine" && rows(2L)._2 == "pass")
      assert(rows(3L) == (0L, "pass"), "sub-3-token doc carries no shingles")
      // stream n_shared == batch d09 n_shared for the same docs
      val batch = graft.dedup.Dedup.decontaminate(static, "eval", 5).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows(1L)._1 == batch(1L) && rows(2L)._1 == batch(2L),
        s"stream ${rows.view.mapValues(_._1).toMap} vs batch $batch")
    } finally q.stop()
  }

  test("s17 bloom decontamination routes like s11 and counts >= batch d13's exact twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val bench = "the capital of france is paris and the capital of spain is madrid"
    val leak = "answer key the capital of france is paris and the capital of spain"
    val clean = "a completely unrelated training document about cooking pasta at home"
    val static = Seq(
      (0L, bench, "eval"), (1L, leak, "train"), (2L, clean, "train")
    ).toDF("doc_id", "text", "source")
    val bloomBytes = StreamingFlow.evalShingleBloom(static, evalSource = "eval")
    assert(bloomBytes.nonEmpty)
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamBloomDecontaminate(
        input.toDF().toDF("doc_id", "text"), bloomBytes, minShared = 5)
      .writeStream.format("memory").queryName("bloom_decon_out").outputMode("append").start()
    try {
      input.addData((1L, leak), (2L, clean), (3L, "too short"))
      q.processAllAvailable()
      val rows = spark.table("bloom_decon_out").orderBy("doc_id").collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
      assert(rows(1L)._2 == "quarantine", s"leak must quarantine: ${rows(1L)}")
      assert(rows(2L)._2 == "pass", s"clean doc false-quarantined: ${rows(2L)}")
      assert(rows(3L) == (0L, "pass"), "sub-3-token doc carries no shingles")
      // one-sidedness: stream maybe-counts dominate exact d09 counts
      val exact = graft.dedup.Dedup.decontaminate(static, "eval", 5).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows(1L)._1 >= exact(1L) && rows(2L)._1 >= exact(2L),
        s"stream ${rows.view.mapValues(_._1).toMap} vs exact $exact")
    } finally q.stop()
  }

  test("s15 streaming CDC dedup collapses the prefix-shifted copy, keeps distinct payloads") {
    implicit val sqlCtx = spark.sqlContext
    // long payloads → ~40 CDC chunks, so the min-hash chunk is (for
    // this fixed seed) not the prefix-edited first chunk — the key
    // miss mode the scaladoc quantifies
    val rnd = new scala.util.Random(7)
    val base = Iterator.continually(rnd.alphanumeric.head).take(2000).mkString
    val other = Iterator.continually(rnd.alphanumeric.head).take(2000).mkString
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingFlow.streamCdcDedup(
        input.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("cdc_out").outputMode("append").start()
    try {
      input.addData((ts(1), 0L, base), (ts(2), 1L, other))
      q.processAllAvailable()
      // a later micro-batch delivers the one-byte-prefixed copy — the
      // CDC key re-synchronizes, so it drops as a duplicate; payloads
      // under minLen carry no chunks and fall back to the whole-payload
      // hash key, so only BYTE-IDENTICAL short payloads collapse:
      // the two empties merge, the two distinct short strings both
      // survive, and the repeated short string drops
      input.addData((ts(3), 2L, "X" + base), (ts(4), 3L, other),
        (ts(5), 4L, ""), (ts(6), 5L, ""),
        (ts(7), 6L, "abc"), (ts(8), 7L, "xyz"), (ts(9), 8L, "abc"))
      q.processAllAvailable()
      val kept = spark.table("cdc_out").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(0L, 1L, 4L, 6L, 7L), s"got $kept")
    } finally q.stop()
  }

  test("s16 streaming rolling distinct matches batch exact q45 per report day") {
    implicit val sqlCtx = spark.sqlContext
    // midnight-aligned UTC days well past epoch (watermark-safe)
    def dayTs(d: Int) = new Timestamp((20000L + d) * 86400000L)
    val events = Seq(
      (dayTs(0), 1L), (dayTs(0), 2L), // day 0: users {1,2}
      (dayTs(1), 2L),                 // day 1: user {2}
      (dayTs(3), 1L), (dayTs(3), 3L), (dayTs(3), 4L)) // day 3: {1,3,4}
    val input = MemoryStream[(Timestamp, Long)]
    val q = StreamingFlow.streamRollingDistinct(
        input.toDF().toDF("ts", "user_id"), windowDays = 7, rsd = 0.01)
      .writeStream.format("memory").queryName("s16_out").outputMode("complete").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val stream = spark.table("s16_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.operators.TrackAnalytics.rollingDistinct(
          events.toDF("ts", "user_id"), windowDays = 7).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // batch reports only days WITH events; the stream emits every
      // window an event supports — compare on the batch's days
      batch.foreach { case (day, exact) =>
        assert(stream.contains(day), s"stream missing report day $day")
        assert(stream(day) == exact,
          s"$day: stream ${stream(day)} vs exact $exact (HLL exact at these counts)")
      }
    } finally q.stop()
  }

  test("s14 streaming ingest admission matches batch d12 per trigger and compounds the corpus") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("s14").toString
    val corpusPath = s"$dir/corpus"; val verdictPath = s"$dir/verdicts"
    val docA = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val docB = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val docC = "papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu mike"
    // seed the corpus with the sentinel batch_id partition
    Seq((100L, docA)).toDF("doc_id", "text")
      .withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id").parquet(corpusPath)
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamIngestAdmit(
      input.toDF().toDF("doc_id", "text"), corpusPath, verdictPath, s"$dir/ckpt")
    try {
      // trigger 1: 1 near-dups the corpus; 2+3 near-dup each other; 4 fresh
      input.addData((1L, docA), (2L, docB), (3L, docB), (4L, docC))
      q.processAllAvailable()
      val v1 = spark.read.parquet(verdictPath).filter(col("batch_id") === 0)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(v1 == Map(1L -> "corpus_dup", 2L -> "admitted",
        3L -> "batch_dup", 4L -> "admitted"), s"got $v1")
      // the stream verdicts ARE the batch d12 verdicts on the same snapshot
      val b1 = graft.dedup.Dedup.ingestAdmit(
          Seq((1L, docA), (2L, docB), (3L, docB), (4L, docC)).toDF("doc_id", "text"),
          Seq((100L, docA)).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(v1 == b1, s"stream $v1 vs batch $b1")
      // trigger 2: a copy of docB — admitted only one trigger ago — must
      // now be a corpus_dup: the admission loop compounds
      input.addData((5L, docB), (6L, docA))
      q.processAllAvailable()
      val v2 = spark.read.parquet(verdictPath).filter(col("batch_id") === 1)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(v2 == Map(5L -> "corpus_dup", 6L -> "corpus_dup"), s"got $v2")
      // the corpus dir now holds the seed + exactly trigger 1's admissions
      val corpusIds = spark.read.parquet(corpusPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpusIds == Set(100L, 2L, 4L), s"got $corpusIds")
      // REPLAY: a batch that crashed after its writes but before the
      // streaming commit re-runs with the same batch_id — re-invoking
      // the per-trigger step directly must reproduce batch 0's
      // verdicts bit-for-bit (its own admissions are excluded from
      // the corpus snapshot), not flip them to corpus_dup
      StreamingFlow.ingestAdmitBatch(corpusPath, verdictPath, 0.8, None)(
        Seq((1L, docA), (2L, docB), (3L, docB), (4L, docC)).toDF("doc_id", "text"), 0L)
      val replayed = spark.read.parquet(verdictPath).filter(col("batch_id") === 0)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(replayed == v1, s"replay must be idempotent: $replayed vs $v1")
      val corpusAfter = spark.read.parquet(corpusPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpusAfter == Set(100L, 2L, 4L), "replay must not duplicate corpus docs")
    } finally q.stop()
  }

  test("s18 indexed streaming admission: s14 verdicts at batch-proportional cost, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("s18").toString
    val idxPath = s"$dir/index"; val verdictPath = s"$dir/verdicts"
    val docA = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val docB = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val docC = "papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu mike"
    // seed the index from the corpus under the sentinel batch_id
    graft.dedup.Dedup.writeDedupIndex(
      Seq((100L, docA)).toDF("doc_id", "text"), idxPath, batchId = Some(-1L))
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamIngestAdmitIndexed(
      input.toDF().toDF("doc_id", "text"), idxPath, verdictPath, s"$dir/ckpt")
    try {
      input.addData((1L, docA), (2L, docB), (3L, docB), (4L, docC))
      q.processAllAvailable()
      val v1 = spark.read.parquet(verdictPath).filter(col("batch_id") === 0)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      // identical verdicts to the live-corpus batch operator (s14's gate)
      val b1 = graft.dedup.Dedup.ingestAdmit(
          Seq((1L, docA), (2L, docB), (3L, docB), (4L, docC)).toDF("doc_id", "text"),
          Seq((100L, docA)).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(v1 == b1, s"stream $v1 vs batch $b1")
      // compounding: docB admitted a trigger ago is now a corpus_dup
      input.addData((5L, docB), (6L, docA))
      q.processAllAvailable()
      val v2 = spark.read.parquet(verdictPath).filter(col("batch_id") === 1)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(v2 == Map(5L -> "corpus_dup", 6L -> "corpus_dup"), s"got $v2")
      // the index now holds seed + exactly trigger 1's admissions
      val idxIds = spark.read.parquet(s"$idxPath/shingles")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(idxIds == Set(100L, 2L, 4L), s"got $idxIds")
      // replay of batch 0 (same batch_id) reproduces its verdicts —
      // its own index partitions are excluded from the probe — and
      // overwrites rather than duplicates its appended rows
      StreamingFlow.ingestAdmitIndexedBatch(idxPath, verdictPath, 0.8)(
        Seq((1L, docA), (2L, docB), (3L, docB), (4L, docC)).toDF("doc_id", "text"), 0L)
      val replayed = spark.read.parquet(verdictPath).filter(col("batch_id") === 0)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(replayed == v1, s"replay must be idempotent: $replayed vs $v1")
      val idxAfter = spark.read.parquet(s"$idxPath/shingles")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(idxAfter.sorted == Seq(2L, 4L, 100L), s"replay duplicated index rows: $idxAfter")
    } finally q.stop()
  }

  test("s10 quality gate routes docs and scores identically to batch t02") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamingFlow.qualityGate(stream, minQuality = 0.5).writeStream
      .format("memory").queryName("gate_out").outputMode("append").start()
    val good = ("the quick brown fox jumps over the lazy dog " * 12).trim
    val junk = "!!! ### 123 &&& *** 456 @@@ %%% 789"
    try {
      input.addData((1L, good), (2L, junk), (3L, ""))
      q.processAllAvailable()
      val rows = spark.table("gate_out").orderBy("doc_id").collect()
      assert(rows.length == 2) // the empty doc is filtered, not routed
      assert(rows.map(r => r.getLong(0) -> r.getString(3)).toSeq ==
        Seq(1L -> "pass", 2L -> "reject"))
      // the stream score IS the batch t02 score — same qualityExpr,
      // same rounding, so threshold routing is engine-identical
      val batch = graft.text.TextStats.qualityScore(
          Seq((1L, good), (2L, junk)).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
      val streamed = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(streamed == batch, s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("s03 stateful sessionization carries state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // away from epoch 0: initial-watermark collision drops t=0 rows
    val base = 1700000000000L
    val input = MemoryStream[Ev]
    val q = StreamingFlow.sessionCount(input.toDS()).writeStream
      .format("memory").queryName("sess_out").outputMode("update").start()
    try {
      input.addData(Ev(1L, base), Ev(1L, base + 60000L))
      q.processAllAvailable()
      // 2h later in a second micro-batch: new session for user 1
      input.addData(Ev(1L, base + 7200000L), Ev(2L, base))
      q.processAllAvailable()
      val last = spark.table("sess_out").collect()
        .map(r => r.getAs[Long]("userId") -> r.getAs[Int]("sessions"))
        .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).max }
      assert(last(1L) == 2)
      assert(last(2L) == 1)
    } finally q.stop()
  }

  test("s20 emits each session's path on close; late events slot in order, never rewind the gap") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingFlow.PathEv
    val base = 1700000000000L
    val h = 3600000L
    val input = MemoryStream[PathEv]
    val q = StreamingFlow.sessionPathFeed(input.toDS(),
        gapMs = 1800000L, maxSteps = 4, watermarkDelay = "1 hour").writeStream
      .format("memory").queryName("path_out").outputMode("append").start()
    try {
      input.addData(PathEv(1L, base, 1L, "view"), PathEv(1L, base + 120000, 2L, "cart"))
      q.processAllAvailable()
      // an IN-WATERMARK late event between the two: it must land at
      // its true position (view>click>cart) and must NOT rewind the
      // gap anchor (the session stays open from base+120000)
      input.addData(PathEv(1L, base + 60000, 3L, "click"))
      q.processAllAvailable()
      // 25 min after the session's true last event (< gap): same session
      input.addData(PathEv(1L, base + 120000 + 1500000, 4L, "checkout"))
      q.processAllAvailable()
      // a gap-exceeding event closes session 1 (4 steps) and opens #2
      input.addData(PathEv(1L, base + 4 * h, 5L, "view"))
      q.processAllAvailable()
      val afterGap = spark.table("path_out").collect().map(_.getString(1)).toSet
      assert(afterGap == Set("view>click>cart>checkout"),
        s"late event must order correctly and not split the session: $afterGap")
      // other-user traffic pushes the watermark past session 2 + gap;
      // the following batch processes the timeout and emits its path
      input.addData(PathEv(9L, base + 9 * h, 6L, "view"))
      q.processAllAvailable()
      input.addData(PathEv(9L, base + 9 * h + 1000, 7L, "click"))
      q.processAllAvailable()
      val afterEvict = spark.table("path_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(afterEvict.contains((1L, "view")),
        s"evicted session must emit its final path: $afterEvict")
      // END-OF-STREAM DRAIN: user 9's session is still open (nothing
      // pushed the watermark past it) — a heartbeat stamped far past
      // last+gap+delay flushes it through the normal timeout path,
      // and the heartbeat itself opens no session
      input.addData(StreamingFlow.DrainEvent(base + 24 * h))
      q.processAllAvailable()
      val drained = spark.table("path_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(drained.contains((9L, "view>click")),
        s"drain heartbeat must flush the open session: $drained")
      assert(!drained.exists(_._1 == Long.MinValue),
        s"the heartbeat must not emit a session of its own: $drained")
    } finally q.stop()
  }

  test("s03 evicts idle session state on event-time timeout; a late return re-anchors") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val h = 3600000L
    val input = MemoryStream[Ev]
    val q = StreamingFlow.sessionCount(input.toDS(),
        gapMs = 1800000L, watermarkDelay = "10 minutes").writeStream
      .format("memory").queryName("sess_evict_out").outputMode("update").start()
    try {
      input.addData(Ev(1L, base), Ev(1L, base + 60000L)) // user 1: one session
      q.processAllAvailable()
      // other-user traffic advances the watermark far past user 1's
      // last event + gap; the NEXT batch processes the timeout
      input.addData(Ev(9L, base + 3 * h))
      q.processAllAvailable()
      input.addData(Ev(9L, base + 3 * h + 60000L)) // user 1 times out here
      q.processAllAvailable()
      // user 1 returns: with the dead state resumed this would be
      // session #2 — a fresh re-anchor reports session #1
      input.addData(Ev(1L, base + 4 * h))
      q.processAllAvailable()
      val u1 = spark.table("sess_evict_out").collect()
        .filter(_.getAs[Long]("userId") == 1L).map(_.getAs[Int]("sessions"))
      assert(u1.nonEmpty && u1.max == 1,
        s"expected only fresh session counts after eviction, got ${u1.toSeq}")
    } finally q.stop()
  }

  test("s12 evicts expired funnel state; a post-window step-1 event re-anchors fresh") {
    import StreamingFlow.FunnelEv
    implicit val sqlCtx = spark.sqlContext
    val baseUs = 1700000000000000L
    val hUs = 3600000000L
    val input = MemoryStream[FunnelEv]
    // 1h funnel window, 10min lateness bound
    val q = StreamingFlow.windowFunnelLevel(input.toDS(),
        windowMicros = hUs, watermarkDelay = "10 minutes").writeStream
      .format("memory").queryName("funnel_evict_out").outputMode("update").start()
    try {
      // user 1 anchors and reaches level 2 inside the window
      input.addData(FunnelEv(1L, baseUs, "view"),
        FunnelEv(1L, baseUs + hUs / 6, "click"))
      q.processAllAvailable()
      input.addData(FunnelEv(9L, baseUs + 3 * hUs, "view")) // watermark advances
      q.processAllAvailable()
      input.addData(FunnelEv(9L, baseUs + 3 * hUs + 60000000L, "view")) // user 1 times out
      q.processAllAvailable()
      // user 1 re-engages with a view long after anchor+window: a
      // FRESH funnel at level 1 — resumed dead state would stay at 2
      // and never emit a 1
      input.addData(FunnelEv(1L, baseUs + 4 * hUs, "view"))
      q.processAllAvailable()
      val u1 = spark.table("funnel_evict_out").collect()
        .filter(_.getAs[Long]("userId") == 1L).map(_.getAs[Int]("level"))
      assert(u1.contains(2), s"pre-eviction level-2 emission missing: ${u1.toSeq}")
      // level 1 can ONLY come from the re-anchor: batch 1 processed
      // view+click together and emitted the final level 2 once
      assert(u1.contains(1),
        s"expected a fresh level-1 emission after eviction, got ${u1.toSeq}")
    } finally q.stop()
  }

  test("s13 streaming mixture gate routes docs identically to batch t15") {
    implicit val sqlCtx = spark.sqlContext
    val big = (10L to 19L).map(i => (i, "big", (1 to 10).map(j => s"w$j").mkString(" ")))
    val corpus = (Seq((1L, "small", "two words")) ++ big).toDF("doc_id", "source", "text")
    val rates = StreamingFlow.sourceRates(corpus) // static snapshot side
    val input = MemoryStream[(Long, String, String)]
    val q = StreamingFlow.streamSourceMix(
        input.toDS().toDF("doc_id", "source", "text"), rates)
      .writeStream.format("memory").queryName("mix_out").outputMode("append").start()
    try {
      input.addData((1L, "small", "two words"))
      input.addData(big.toSeq: _*)
      q.processAllAvailable()
      val streamKept = spark.table("mix_out").collect()
        .filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id")).toSet
      val batchKept = graft.text.TextStats.sourceMix(corpus).collect()
        .map(_.getLong(0)).toSet
      assert(streamKept == batchKept, s"stream $streamKept vs batch $batchKept")
    } finally q.stop()
  }

  test("s12 stateful window funnel matches batch q39 levels across micro-batches") {
    import StreamingFlow.FunnelEv
    implicit val sqlCtx = spark.sqlContext
    val hUs = 3600000000L // one hour in micros
    val input = MemoryStream[FunnelEv]
    val q = StreamingFlow.windowFunnelLevel(input.toDS()).writeStream
      .format("memory").queryName("funnel_out").outputMode("update").start()
    try {
      // batch 1: user 1 views+clicks; user 2 views; user 3 clicks only
      input.addData(FunnelEv(1L, hUs, "view"), FunnelEv(1L, 2 * hUs, "click"),
        FunnelEv(2L, hUs, "view"), FunnelEv(3L, hUs, "click"))
      q.processAllAvailable()
      // batch 2: user 1 purchases (level 3); user 2's click falls OUTSIDE
      // the 24h window (level stays 1); user 3 now views (level 1)
      input.addData(FunnelEv(1L, 3 * hUs, "purchase"),
        FunnelEv(2L, 26 * hUs, "click"), FunnelEv(3L, 2 * hUs, "view"))
      q.processAllAvailable()
      val last = spark.table("funnel_out").collect()
        .map(r => r.getAs[Long]("userId") -> r.getAs[Int]("level"))
        .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).max }
      assert(last == Map(1L -> 3, 2L -> 1, 3L -> 1), s"got $last")
      // batch twin on the same flattened events
      val ev = Seq(
        (0L, 1L, hUs, "view"), (1L, 1L, 2 * hUs, "click"), (2L, 1L, 3 * hUs, "purchase"),
        (3L, 2L, hUs, "view"), (4L, 2L, 26 * hUs, "click"),
        (5L, 3L, hUs, "click"), (6L, 3L, 2 * hUs, "view")
      ).toDF("event_id", "user_id", "ts_us", "event_type")
        .withColumn("ts_ns", col("ts_us") * 1000L)
      val batch = graft.operators.TrackAnalytics.windowFunnel(ev).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(batch == Map(1 -> 2L, 3 -> 1L), s"batch twin diverged: $batch")
    } finally q.stop()
  }

  test("s21 streaming frequent terms accumulate across triggers; MG bounds hold over the stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = StreamingFlow.streamFrequentTerms(docs, k = 4).writeStream
      .format("memory").queryName("freq_out").outputMode("complete").start()
    try {
      input.addData((1L, "spark spark flink"), (2L, "spark beam"))
      q.processAllAvailable()
      val t1 = spark.table("freq_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // vocab (3) ≤ k: the MG sketch is exact on this prefix
      assert(t1 == Map("spark" -> 3L, "flink" -> 1L, "beam" -> 1L), s"got $t1")
      // second trigger MERGES into the standing sketch state
      input.addData((3L, "spark flink flink arrow"))
      q.processAllAvailable()
      val t2 = spark.table("freq_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // 4 distinct terms ≤ k=4 — still exact over BOTH triggers
      assert(t2 == Map("spark" -> 4L, "flink" -> 3L, "beam" -> 1L, "arrow" -> 1L),
        s"got $t2")
      // MG one-sidedness on overflow: stream a wide-vocab trigger and
      // check every estimate under-counts by ≤ N/(k+1) and the heavy
      // term survives
      input.addData((4L, "spark spark spark x1 x2 x3 x4 x5 x6 x7 x8"))
      q.processAllAvailable()
      val t3 = spark.table("freq_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = 3 + 2 + 4 + 11 // tokens streamed so far
      assert(t3.contains("spark"), "guaranteed-heavy term evicted")
      assert(t3("spark") <= 7L && t3("spark") >= 7L - n / 5,
        s"spark estimate ${t3("spark")} outside MG bound")
    } finally q.stop()
  }

  test("s35 streaming percentiles accumulate across triggers within the sketch's rank bound") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val events = input.toDF().toDF("event_type", "value")
    val q = StreamingFlow.streamPercentiles(events, b = 64).writeStream
      .format("memory").queryName("pct_out").outputMode("complete").start()
    try {
      // first trigger: 100 values per type — below 2b, the sketch is
      // exact order statistics
      input.addData((1 to 100).map(i => ("api", i.toDouble)) ++
        (1 to 100).map(i => ("db", i * 10.0)): _*)
      q.processAllAvailable()
      val t1 = spark.table("pct_out").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(t1("api") == ((50.0, 90.0, 99.0)), s"got ${t1("api")}")
      assert(t1("db") == ((500.0, 900.0, 990.0)), s"got ${t1("db")}")
      // second trigger MERGES into standing state: api now holds
      // 1..1000, and estimates must sit within the sketch's rank
      // envelope over the ACCUMULATED stream
      input.addData((101 to 1000).map(i => ("api", i.toDouble)): _*)
      q.processAllAvailable()
      val t2 = spark.table("pct_out").collect()
        .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      for ((p, est) <- Seq(0.5, 0.9, 0.99).zip(t2("api"))) {
        val rankErr = math.abs(est - p * 1000) / 1000.0
        assert(rankErr <= 0.05, s"accumulated p$p=$est off by rank fraction $rankErr")
      }
      // the untouched key's state is unaffected by the other key's batch
      assert(t2("db") == Seq(500.0, 900.0, 990.0), s"got ${t2("db")}")
    } finally q.stop()
  }

  test("s23 containment admission gates subset docs the Jaccard loop admits, and compounds") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("s23").toString
    val corpusPath = s"$dir/corpus"; val verdictPath = s"$dir/verdicts"
    val big = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val sub = "alpha bravo charlie delta echo foxtrot golf hotel" // ⊂ big, J=0.6
    val fresh = "one two three four five six seven eight nine ten eleven twelve"
    Seq((100L, big)).toDF("doc_id", "text")
      .withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id").parquet(corpusPath)
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamContainmentAdmit(
      input.toDF().toDF("doc_id", "text"), corpusPath, verdictPath, s"$dir/ckpt")
    try {
      // trigger 1: doc 1 is a verbatim SUBSET of the corpus doc
      // (C=1.0 but J=6/10 — the Jaccard-0.8 loop would admit it);
      // doc 2 is fresh
      input.addData((1L, sub), (2L, fresh))
      q.processAllAvailable()
      val v1 = spark.read.parquet(verdictPath).filter(col("batch_id") === 0)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(v1 == Set((1L, "contained", 100L), (2L, "admitted", -1L)), s"got $v1")
      // the Jaccard admission on the same snapshot admits the subset
      val jac = graft.dedup.Dedup.ingestAdmit(
          Seq((1L, sub)).toDF("doc_id", "text"),
          Seq((100L, big)).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(jac(1L) == "admitted", "premise: Jaccard misses the subset case")
      // trigger 2: a subset of TRIGGER 1's admitted doc — compounding
      input.addData((3L, "one two three four five six seven eight nine"))
      q.processAllAvailable()
      val v2 = spark.read.parquet(verdictPath).filter(col("batch_id") === 1)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(v2 == Set((3L, "contained", 2L)), s"got $v2")
      val corpusIds = spark.read.parquet(corpusPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpusIds == Set(100L, 2L), s"got $corpusIds")
      // replay batch 0: idempotent verdicts, no corpus duplication
      StreamingFlow.containmentAdmitBatch(corpusPath, verdictPath, 0.8, 5, None)(
        Seq((1L, sub), (2L, fresh)).toDF("doc_id", "text"), 0L)
      val replayed = spark.read.parquet(verdictPath).filter(col("batch_id") === 0)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(replayed == v1, s"replay must be idempotent: $replayed vs $v1")
      assert(spark.read.parquet(corpusPath).select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(100L, 2L))
    } finally q.stop()
  }

  test("s24 indexed containment admission: s23 verdicts at batch-proportional cost, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("s24").toString
    val indexPath = s"$dir/idx"; val verdictPath = s"$dir/verdicts"
    val big = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val sub = "alpha bravo charlie delta echo foxtrot golf hotel"
    val fresh = "one two three four five six seven eight nine ten eleven twelve"
    // seed the index with the sentinel batch_id (the s18 recipe)
    graft.dedup.Dedup.writeContainmentIndex(
      Seq((100L, big)).toDF("doc_id", "text"), indexPath, batchId = Some(-1L))
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamContainmentAdmitIndexed(
      input.toDF().toDF("doc_id", "text"), indexPath, verdictPath, s"$dir/ckpt")
    try {
      input.addData((1L, sub), (2L, fresh))
      q.processAllAvailable()
      val r1 = spark.read.parquet(verdictPath).filter(col("batch_id") === 0)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(r1 == Set((1L, "contained", 100L), (2L, "admitted", -1L)), s"got $r1")
      // compounding THROUGH THE INDEX: a subset of trigger 1's
      // admission is contained without any corpus text re-scan
      input.addData((3L, "one two three four five six seven eight nine"))
      q.processAllAvailable()
      val r2 = spark.read.parquet(verdictPath).filter(col("batch_id") === 1)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(r2 == Set((3L, "contained", 2L)), s"got $r2")
      // the index now holds the seed + exactly the admitted doc
      val idxIds = spark.read.parquet(indexPath + "/sets")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(idxIds == Set(100L, 2L), s"got $idxIds")
      // replay batch 0: same verdicts, no index duplication
      StreamingFlow.containmentAdmitIndexedBatch(indexPath, verdictPath, 0.8, 5)(
        Seq((1L, sub), (2L, fresh)).toDF("doc_id", "text"), 0L)
      val replayed = spark.read.parquet(verdictPath).filter(col("batch_id") === 0)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(replayed == r1, s"replay must be idempotent: $replayed vs $r1")
      assert(spark.read.parquet(indexPath + "/sets").select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(100L, 2L))
    } finally q.stop()
  }

  test("s24 refreeze policy: the admission loop self-repairs order decay on cadence — one refreeze, verdicts invariant") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("s24pol").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gen(p: String) = graft.sources.Snapshots.currentGen(fs, new Path(p))
    // twin loops over identical triggers: `pol` carries the policy
    // (check on even batchIds), `ref` runs bare — verdict equality
    // pins that self-repair never changes what the stream admits
    // seed large enough that trigger 0's small admission stays under
    // the 0.3 odf-0 share, while trigger 1's heavy one breaches it
    val seed = (100L to 105L)
      .map(i => (i, (1 to 12).map(j => s"seed${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val policy = graft.dedup.Dedup.RefreezePolicy(
      maxOdf0Share = 0.3, sampleBuckets = 64, checkEvery = 2)
    val loops = Seq(
      s"$dir/pol" -> StreamingFlow.containmentAdmitIndexedBatch(
        s"$dir/pol/idx", s"$dir/pol/v", 0.8, 5, Some(policy)),
      s"$dir/ref" -> StreamingFlow.containmentAdmitIndexedBatch(
        s"$dir/ref/idx", s"$dir/ref/v", 0.8, 5, None))
    loops.foreach { case (root, _) =>
      graft.dedup.Dedup.writeContainmentIndex(seed, s"$root/idx", batchId = Some(-1L))
    }
    // trigger 0 (on cadence): one small fresh doc — admitted, but the
    // odf-0 share stays under the threshold → no refreeze
    val b0 = Seq((1L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    // triggers 1-2: heavy all-new-vocab admissions; trigger 1 is OFF
    // cadence (no check even though decay has breached), trigger 2's
    // check fires the one repair
    def fresh(lo: Long, n: Int) = (lo until lo + n)
      .map(i => (i, (1 to 12).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    loops.foreach { case (root, batchFn) =>
      batchFn(b0, 0L)
      assert(gen(s"$root/idx") == 0L, s"$root: trigger 0 below threshold")
      batchFn(fresh(200L, 8), 1L)
      assert(gen(s"$root/idx") == 0L, s"$root: trigger 1 off cadence")
      batchFn(fresh(300L, 8), 2L)
    }
    assert(gen(s"$dir/pol/idx") == 1L,
      "trigger 2's on-cadence check must fire exactly one refreeze")
    assert(gen(s"$dir/ref/idx") == 0L, "the bare twin never rewrites")
    assert(graft.dedup.Dedup.containmentOrderDecay(spark, s"$dir/pol/idx", 64) == 0.0)
    // a post-repair trigger probes the refrozen index: verdicts equal
    // the bare twin's in every trigger, including one probing a doc
    // contained by a pre-repair admission
    val b3 = Seq(
      (400L, (1 to 10).map(j => s"w300x$j").mkString(" ")),
      (401L, "totally new content admitted after the repair lands here"))
      .toDF("doc_id", "text")
    loops.foreach { case (_, batchFn) => batchFn(b3, 3L) }
    val Seq(vPol, vRef) = loops.map { case (root, _) =>
      spark.read.parquet(s"$root/v")
        // the partition column reads back via directory-value
        // inference (Int) — cast for a stable tuple shape
        .select(col("batch_id").cast("long"), col("doc_id"),
          col("verdict"), col("evidence_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    }
    assert(vPol == vRef, s"verdicts must be policy-invariant: $vPol != $vRef")
    assert(vPol.exists { case (b, d, v, of) => b == 3L && d == 400L && v == "contained" && of == 300L },
      s"post-repair trigger must still see pre-repair admissions: $vPol")
    graft.Caches.release()
  }

  test("s22 emits transition edges across micro-batch boundaries, matching the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingFlow.TransEv
    val base = 1700000000000L
    val input = MemoryStream[TransEv]
    val q = StreamingFlow.transitionFeed(input.toDS()).writeStream
      .format("memory").queryName("trans_out").outputMode("append").start()
    try {
      // batch 1: user 1 click→view (one edge); user 2 lone event (none)
      input.addData(TransEv(1L, base, 0L, "click"), TransEv(1L, base + 60000, 1L, "view"),
        TransEv(2L, base, 2L, "view"))
      q.processAllAvailable()
      val e1 = spark.table("trans_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(e1 == Set((1L, "click", "view")), s"got $e1")
      // batch 2: the CROSS-BATCH edge view→purchase must come from state
      input.addData(TransEv(1L, base + 120000, 3L, "purchase"),
        TransEv(2L, base + 60000, 4L, "click"))
      q.processAllAvailable()
      val e2 = spark.table("trans_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(e2 == Set((1L, "click", "view"), (1L, "view", "purchase"),
        (2L, "view", "click")), s"got $e2")
      // the edge multiset equals batch q56's transition counts on the
      // same rows (before its from/to aggregation)
      import spark.implicits._
      val ev = Seq((0L, base, 1L, "click"), (1L, base + 60000, 1L, "view"),
        (3L, base + 120000, 1L, "purchase"), (2L, base, 2L, "view"),
        (4L, base + 60000, 2L, "click"))
        .toDF("event_id", "ts_ms", "user_id", "event_type")
        .withColumn("ts_ns", col("ts_ms") * 1000000L)
      val batch = graft.operators.TrackAnalytics.transitionMatrix(ev).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val streamCounts = spark.table("trans_out").collect()
        .map(r => (r.getString(1), r.getString(2)))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(streamCounts == batch, s"stream=$streamCounts batch=$batch")
    } finally q.stop()
  }

  test("s40 ANN serve pages equal live a15 on the same index; replay overwrites its pages") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ann.Ann
    val dir = java.nio.file.Files.createTempDirectory("graft_s40").toString
    // 4 axis cells, corpus on the axes: full-recall probes at nprobe=1
    val cents = (0 until 4).map { c =>
      val a = Array.fill(4)(0.0f); a(c) = 1.0f; (c, a)
    }.toDF("c_label", "centroid")
    val corpus = (0 until 20).map { i =>
      val a = Array.fill(4)(0.02f * (i % 3)); a(i % 4) = 1.0f; (100L + i, a)
    }.toDF("vec_id", "embedding")
    Ann.writeAnnIndex(corpus, cents, s"$dir/ann")
    val q0 = Seq((0L, Seq(1.0f, 0f, 0f, 0.1f)), (1L, Seq(0f, 1.0f, 0.1f, 0f)))
    val q1 = Seq((2L, Seq(0f, 0f, 1.0f, 0f)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingFlow.streamAnnServe(
      input.toDF().toDF("query_id", "embedding"),
      s"$dir/ann", s"$dir/res", s"$dir/ckpt", k = 3, nprobe = 1)
    try {
      input.addData(q0: _*); q.processAllAvailable()
      input.addData(q1: _*); q.processAllAvailable()
      def page(b: Int) = spark.read.parquet(s"$dir/res")
        .filter(col("batch_id") === b).drop("batch_id")
        .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(3)))
      def live(qs: Seq[(Long, Seq[Float])]) = graft.Caches.scoped {
        Ann.ivfKnnIndexed(
          qs.toDF("vec_id", "embedding"), s"$dir/ann", k = 3, nprobe = 1)
          .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(3)))
      }
      assert(page(0).nonEmpty && page(0) == live(q0),
        s"batch-0 pages must equal live a15: ${page(0)} vs ${live(q0)}")
      assert(page(1) == live(q1))
      // replaying trigger 0 overwrites its partition, never duplicates
      val before = page(0)
      StreamingFlow.annServeBatch(s"$dir/ann", s"$dir/res", 3, 1)(
        q0.toDF("query_id", "embedding"), 0L)
      assert(page(0) == before, "replay must be idempotent")
    } finally q.stop()
  }

  test("s41 hybrid serve pages equal live a21 rrfFuseIndexed; replay overwrites") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ann.Ann
    import graft.text.TextStats
    val docs = Seq(
      (0L, "spark shuffle exchange partition plan"),
      (1L, "spark broadcast join plan cost"),
      (2L, "parquet scan pruning column filter"),
      (3L, "shuffle partition skew salt key"),
      (4L, "unrelated prose about gardens and rain"),
      (5L, "filter pushdown scan parquet footer")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_s41").toString
    val emb = graft.Caches.tracked(TextStats.hashEmbed(docs))
    val corpusVec = emb.select(col("doc_id").as("vec_id"), col("embedding"))
    TextStats.writeTextIndex(docs, s"$dir/text")
    val oneCell = Seq((1, Array.fill(64)(1.0f))).toDF("c_label", "centroid")
    Ann.writeAnnIndex(corpusVec, oneCell, s"$dir/ann")
    val qt = TextStats.sampleQueries(docs, every = 3, maxQueries = 2)
    val qe = emb.filter(col("doc_id") % 3 === 0 && col("doc_id") < 6)
      .select(col("doc_id").as("query_id"), col("embedding"))
    // one stream row per query: both faces (terms array + embedding)
    val terms = qt.groupBy("query_id").agg(collect_list("term").as("terms"))
    val streamRows = terms.join(qe, "query_id")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[Float](2)))
      .toSeq.sortBy(_._1)
    val live = graft.Caches.scoped {
      Ann.rrfFuseIndexed(qt, qe, s"$dir/text", s"$dir/ann", nprobe = 1)
        .collect().toSeq
    }
    val input = MemoryStream[(Long, Seq[String], Seq[Float])]
    val q = StreamingFlow.streamHybridServe(
      input.toDF().toDF("query_id", "terms", "embedding"),
      s"$dir/text", s"$dir/ann", s"$dir/res", s"$dir/ckpt", nprobe = 1)
    try {
      input.addData(streamRows: _*); q.processAllAvailable()
      def page() = spark.read.parquet(s"$dir/res")
        .filter(col("batch_id") === 0).drop("batch_id")
        .collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(1)))
      assert(page().nonEmpty && page() == live.sortBy(r => (r.getLong(0), r.getInt(1))),
        s"fused stream pages must equal live a21: ${page()} vs $live")
      // replay overwrites
      val before = page()
      StreamingFlow.hybridServeBatch(s"$dir/text", s"$dir/ann", s"$dir/res",
        10, 60, 10, 1)(streamRows.toDF("query_id", "terms", "embedding"), 0L)
      assert(page() == before, "replay must be idempotent")
    } finally q.stop()
    graft.Caches.release()
  }

  test("s25 streaming bm25 pages equal the live batch search; replay overwrites its pages") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "apple fig grape"),
      (3L, "banana banana kiwi melon plum"),
      (4L, "quince rose straw tulip")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_s25").toString
    val idxPath = s"$dir/idx"; val resPath = s"$dir/res"
    graft.Caches.scoped { graft.text.TextStats.writeTextIndex(corpus, idxPath) }
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamBm25Indexed(
      input.toDF().toDF("query_id", "term"), idxPath, resPath, s"$dir/ckpt")
    try {
      input.addData((10L, "apple"), (10L, "banana"))
      q.processAllAvailable()
      val p1 = spark.read.parquet(resPath).filter(col("batch_id") === 0)
        .drop("batch_id").collect().toSeq.sortBy(_.getLong(2))
      val live = graft.Caches.scoped {
        graft.text.TextStats.bm25Search(corpus,
          Seq((10L, "apple"), (10L, "banana")).toDF("query_id", "term"))
          .collect().toSeq
      }.sortBy(_.getLong(2))
      assert(p1.nonEmpty && p1 == live, s"stream $p1 vs live $live")
      // a later trigger lands under its own batch_id; earlier pages stay
      input.addData((11L, "kiwi"))
      q.processAllAvailable()
      val p2 = spark.read.parquet(resPath).filter(col("batch_id") === 1).collect()
      assert(p2.length == 1 && p2.head.getLong(2) == 3L, s"got ${p2.toSeq}")
      assert(spark.read.parquet(resPath).filter(col("batch_id") === 0)
        .count() == p1.size.toLong)
      // replaying trigger 0 overwrites its partition, never duplicates
      StreamingFlow.bm25IndexedBatch(idxPath, resPath, 10)(
        Seq((10L, "apple"), (10L, "banana")).toDF("query_id", "term"), 0L)
      val replayed = spark.read.parquet(resPath).filter(col("batch_id") === 0)
        .drop("batch_id").collect().toSeq.sortBy(_.getLong(2))
      assert(replayed == p1, s"replay must be idempotent: $replayed vs $p1")
    } finally q.stop()
  }

  test("s29 streaming audience overlap accumulates sketches; replay is a no-op by algebra") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TrackAnalytics
    val dir = java.nio.file.Files.createTempDirectory("graft_s29").toString
    val statePath = s"$dir/state"; val resPath = s"$dir/res"
    val input = MemoryStream[(String, Long)]
    val q = StreamingFlow.streamAudienceOverlap(
      input.toDF().toDF("event_type", "user_id"), statePath, resPath,
      s"$dir/ckpt", k = 16)
    val b1 = (0L until 30L).map(u => ("A", u)) ++ (10L until 40L).map(u => ("B", u))
    val b2 = (100L until 120L).map(u => ("A", u)) // A grows later
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // the trigger-2 estimates equal the batch q65 over ALL events so far
      val stream2 = spark.read.parquet(resPath).filter(col("batch_id") === 1)
        .drop("batch_id").collect().toSeq.sortBy(_.getString(0))
      val batchTwin = graft.Caches.scoped {
        TrackAnalytics.kmvOverlap((b1 ++ b2).toDF("event_type", "user_id"), k = 16)
          .collect().toSeq.sortBy(_.getString(0))
      }
      assert(stream2.nonEmpty && stream2 == batchTwin,
        s"stream $stream2 vs batch $batchTwin")
      // REPLAY trigger 0: re-merging its own hashes must leave the
      // state bit-identical — idempotence of the KMV algebra
      val stateBefore = spark.read.parquet(statePath).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      StreamingFlow.audienceOverlapBatch(statePath, resPath, 16)(
        b1.toDF("event_type", "user_id"), 0L)
      val stateAfter = spark.read.parquet(statePath).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(stateAfter == stateBefore, "replayed merge must be a no-op")
    } finally q.stop()
  }

  test("s39 streaming CUSUM re-parameterizes from full state; shift alarm fires mid-stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_millis
    import graft.operators.TrackAnalytics
    val day = 86400000L
    def ev(d: Int, c: Int): Seq[(Long, Long)] =
      (0 until c).map(i => ((d * 100 + i).toLong, d * day + i * 1000L))
    val dir = java.nio.file.Files.createTempDirectory("graft_s39").toString
    val statePath = s"$dir/state"; val resPath = s"$dir/res"
    val input = MemoryStream[(Long, Long)]
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = StreamingFlow.streamCusum(
      withTs(input.toDF().toDF("event_id", "ts_ms")),
      statePath, resPath, s"$dir/ckpt")
    // trigger 1: the in-control regime; trigger 2: the level shift
    val b1 = (0 until 8).flatMap(d => ev(d, if (d % 2 == 0) 10 else 12))
    val b2 = (8 until 12).flatMap(d => ev(d, 20))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      val t1 = spark.read.parquet(resPath).filter(col("batch_id") === 0)
      assert(t1.filter(col("shifted")).count() == 0, "in-control must not alarm")
      input.addData(b2: _*); q.processAllAvailable()
      // trigger-2 ≡ batch q78 over all events: the alarm fires on the
      // second shifted day (the hand-computed TrackSpec series)
      val stream2 = spark.read.parquet(resPath).filter(col("batch_id") === 1)
        .drop("batch_id").collect().toSeq.sortBy(_.getString(0))
      val batchTwin = graft.Caches.scoped {
        TrackAnalytics.cusumShift(
          withTs((b1 ++ b2).toDF("event_id", "ts_ms"))).collect().toSeq
          .sortBy(_.getString(0))
      }
      assert(stream2.nonEmpty && stream2 == batchTwin,
        s"stream $stream2 vs batch $batchTwin")
      assert(stream2.count(_.getBoolean(4)) == 3, "alarm from the second shifted day")
    } finally q.stop()
  }

  test("s38 streaming Holt re-derives the fold from replay-exact daily state; late days fold in") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_millis
    import graft.operators.TrackAnalytics
    val day = 86400000L
    def ev(d: Int, c: Int): Seq[(Long, Long)] =
      (0 until c).map(i => ((d * 100 + i).toLong, d * day + i * 1000L))
    val dir = java.nio.file.Files.createTempDirectory("graft_s38").toString
    val statePath = s"$dir/state"; val resPath = s"$dir/res"
    val input = MemoryStream[(Long, Long)]
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = StreamingFlow.streamHolt(
      withTs(input.toDF().toDF("event_id", "ts_ms")),
      statePath, resPath, s"$dir/ckpt")
    val b1 = ev(0, 4) ++ ev(1, 8)
    val b2 = ev(1, 2) ++ ev(2, 2) // LATE day-1 events + a new day
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // trigger-2 output ≡ batch q77 over ALL events so far: the late
      // day-1 arrivals changed day 1's count, which re-derives EVERY
      // subsequent level/trend (why the state is counts, not the fold)
      val stream2 = spark.read.parquet(resPath).filter(col("batch_id") === 1)
        .drop("batch_id").collect().toSeq.sortBy(_.getString(0))
      val batchTwin = TrackAnalytics.holtTrend(
        withTs((b1 ++ b2).toDF("event_id", "ts_ms"))).collect().toSeq
        .sortBy(_.getString(0))
      assert(stream2.nonEmpty && stream2 == batchTwin,
        s"stream $stream2 vs batch $batchTwin")
      // replayed trigger overwrites its own state partition: totals exact
      val before = spark.read.parquet(statePath)
        .groupBy("day").sum("n_events").collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      StreamingFlow.holtBatch(statePath, resPath)(
        withTs(b1.toDF("event_id", "ts_ms")), 0L)
      val after = spark.read.parquet(statePath)
        .groupBy("day").sum("n_events").collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(after == before, s"replay changed state: $after vs $before")
    } finally q.stop()
  }

  test("s32 streaming EWMA folds late days exactly; replayed trigger leaves counts unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_millis
    import graft.operators.TrackAnalytics
    val day = 86400000L
    def ev(t: String, d: Int, c: Int): Seq[(String, Long)] =
      (0 until c).map(i => (t, d * day + i * 1000L))
    val dir = java.nio.file.Files.createTempDirectory("graft_s32").toString
    val statePath = s"$dir/state"; val resPath = s"$dir/res"
    val input = MemoryStream[(String, Long)]
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = StreamingFlow.streamEwma(
      withTs(input.toDF().toDF("event_type", "ts_ms")),
      statePath, resPath, s"$dir/ckpt", horizon = 4)
    val b1 = ev("A", 0, 2) ++ ev("A", 1, 3) ++ ev("B", 0, 1)
    val b2 = ev("A", 1, 1) ++ ev("A", 2, 5) // a LATE day-1 event + a new day
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // trigger-2 EWMA equals batch q69 over ALL events so far — the
      // late day-1 arrival re-weighted day 1 and its successors
      val stream2 = spark.read.parquet(resPath).filter(col("batch_id") === 1)
        .drop("batch_id").collect().toSeq
        .sortBy(r => (r.getString(0), r.getString(1)))
      val batchTwin = graft.Caches.scoped {
        TrackAnalytics.ewmaVolume(
          withTs((b1 ++ b2).toDF("event_type", "ts_ms")), horizon = 4)
          .collect().toSeq.sortBy(r => (r.getString(0), r.getString(1)))
      }
      assert(stream2.nonEmpty && stream2 == batchTwin,
        s"stream $stream2 vs batch $batchTwin")
      // replaying trigger 0 overwrites its state partition — total
      // daily counts stay exact, never double-counted
      def totals = spark.read.parquet(statePath)
        .groupBy("event_type", "day").sum("n_events").collect()
        .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2)).toMap
      val before = totals
      StreamingFlow.ewmaBatch(statePath, resPath, 4)(
        withTs(b1.toDF("event_type", "ts_ms")), 0L)
      assert(totals == before, "replayed trigger must not double-count")
    } finally q.stop()
  }

  test("s32/s38/s39: an EMPTY first trigger skips the derivation instead of crash-looping") {
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_millis
    val dir = java.nio.file.Files.createTempDirectory("graft_semptyb").toString
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", timestamp_millis(col("ts_ms")))
    val empty = withTs(Seq.empty[(String, Long)].toDF("event_type", "ts_ms"))
    val day = 86400000L
    val rows = withTs(((0 until 3).flatMap(d =>
      (0 to d).map(i => ("A", d * day + i * 1000L)))).toDF("event_type", "ts_ms"))
    // an empty batch 0 lands a state dir holding only _SUCCESS; reading it
    // fails schema inference — pre-fix, the checkpointed replay of batch 0
    // crash-looped the query. Post-fix: a silent skip, then batch 1 works.
    StreamingFlow.ewmaBatch(s"$dir/s1", s"$dir/r1", 4)(empty, 0L)
    assert(!graft.Fs.exists(spark, s"$dir/r1"), "no result for an all-empty store")
    StreamingFlow.ewmaBatch(s"$dir/s1", s"$dir/r1", 4)(rows, 1L)
    assert(spark.read.parquet(s"$dir/r1").count() > 0)
    StreamingFlow.holtBatch(s"$dir/s2", s"$dir/r2")(empty.drop("event_type"), 0L)
    assert(!graft.Fs.exists(spark, s"$dir/r2"))
    StreamingFlow.holtBatch(s"$dir/s2", s"$dir/r2")(rows.drop("event_type"), 1L)
    assert(spark.read.parquet(s"$dir/r2").count() > 0)
    StreamingFlow.cusumBatch(s"$dir/s3", s"$dir/r3", 5.0)(empty.drop("event_type"), 0L)
    assert(!graft.Fs.exists(spark, s"$dir/r3"))
    StreamingFlow.cusumBatch(s"$dir/s3", s"$dir/r3", 5.0)(rows.drop("event_type"), 1L)
    assert(spark.read.parquet(s"$dir/r3").count() > 0)
    // an empty LATER trigger over existing state still derives (results
    // re-land under the new batch_id from the already-populated state)
    StreamingFlow.ewmaBatch(s"$dir/s1", s"$dir/r1", 4)(empty, 2L)
    assert(spark.read.parquet(s"$dir/r1").filter(col("batch_id") === 2).count() > 0,
      "empty trigger over existing state must still re-derive")
  }

  test("s27 streaming percolation matches batch t31 per trigger; replay overwrites") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val queries = Seq((100L, "alpha"), (100L, "beta"), (101L, "delta"))
      .toDF("query_id", "term")
    val dir = java.nio.file.Files.createTempDirectory("graft_s27").toString
    val resPath = s"$dir/res"
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamPercolate(
      input.toDF().toDF("doc_id", "text"), queries, resPath, s"$dir/ckpt")
    try {
      val b1 = Seq((0L, "alpha beta gamma delta"), (1L, "alpha only"))
      input.addData(b1: _*); q.processAllAvailable()
      val p1 = spark.read.parquet(resPath).filter(col("batch_id") === 0)
        .select("doc_id", "query_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batchTwin = graft.Caches.scoped {
        graft.text.TextStats.percolate(b1.toDF("doc_id", "text"), queries)
          .select("doc_id", "query_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(p1 == batchTwin && p1 == Set((0L, 100L), (0L, 101L)), s"got $p1")
      // a doc arriving later fires the standing query in ITS trigger
      input.addData((2L, "beta alpha")); q.processAllAvailable()
      val p2 = spark.read.parquet(resPath).filter(col("batch_id") === 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p2 == Set((2L, 100L)), s"got $p2")
      // replayed trigger overwrites its own partition
      StreamingFlow.percolateBatch(queries, resPath, 1.0)(
        b1.toDF("doc_id", "text"), 0L)
      val replayed = spark.read.parquet(resPath).filter(col("batch_id") === 0)
        .select("doc_id", "query_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(replayed == p1, s"replay must be idempotent: $replayed")
    } finally q.stop()
  }

  test("s26 streamed corpus ingest serves pages identical to a single-shot index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val b1 = Seq((1L, "apple banana apple cherry"), (2L, "apple fig grape"))
    val b2 = Seq((3L, "banana banana kiwi melon plum"), (4L, "quince rose straw tulip"))
    val queries = Seq((10L, "apple"), (10L, "banana"))
    val dir = java.nio.file.Files.createTempDirectory("graft_s26").toString
    val idxPath = s"$dir/idx"
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamTextIndexIngest(
      input.toDF().toDF("doc_id", "text"), idxPath, s"$dir/ckpt")
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      def probe() = graft.Caches.scoped {
        graft.text.TextStats.bm25SearchIndexed(
          queries.toDF("query_id", "term"), idxPath).collect().toSeq
      }
      val live = graft.Caches.scoped {
        graft.text.TextStats.bm25Search((b1 ++ b2).toDF("doc_id", "text"),
          queries.toDF("query_id", "term")).collect().toSeq
      }
      val streamed = probe()
      assert(streamed.nonEmpty && streamed == live,
        s"streamed-index pages $streamed vs live $live")
      // replaying trigger 0 overwrites its partitions — scores unchanged
      StreamingFlow.textIndexIngestBatch(idxPath)(b1.toDF("doc_id", "text"), 0L)
      assert(probe() == live, "replayed ingest must not change any score")
      // compaction preserves the probe (the staged-swap contract)
      graft.sources.Sources.optimizeIndex(spark, idxPath)
      assert(probe() == live, "compacted index must serve identical pages")
    } finally q.stop()
  }

  // orthogonal-axis planted vectors (the AnnSpec construction): cluster
  // c's members sit on axis c with a small deterministic spread
  private def axisVec(c: Int, j: Int): Array[Float] = {
    val a = Array.fill(4)(0.0f); a(c) = 1.0f; a((c + 1) % 4) = 0.02f * j; a
  }

  test("s30 streaming ANN ingest: streamed index probe equals single-shot; replay idempotent; growth stats fire") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ann.Ann
    val dir = java.nio.file.Files.createTempDirectory("graft_s30").toString
    val idxPath = s"$dir/idx"; val statsPath = s"$dir/stats"
    val cents = (0 until 4).map { c =>
      val a = Array.fill(4)(0.0f); a(c) = 1.0f; (c, a)
    }.toDF("c_label", "centroid")
    val seed = (for { c <- 0 until 4; j <- 0 until 5 }
      yield ((c * 10 + j).toLong, axisVec(c, j))).toDF("vec_id", "embedding")
    Ann.writeAnnIndex(seed, cents, idxPath, batchId = Some(-1L))
    // trigger 1: balanced growth; trigger 2: a twin of seed vec 20
    // (c=2, j=0) plus a planted hot load on cell 2
    val b1 = for { c <- 0 until 4; j <- 5 until 8 }
      yield ((100 + c * 10 + j).toLong, axisVec(c, j))
    val b2 = Seq((999L, axisVec(2, 0))) ++
      (0 until 30).map(j => ((2000 + j).toLong, axisVec(2, j % 10)))
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingFlow.streamAnnIndexIngest(
      input.toDF().toDF("vec_id", "embedding"), idxPath, statsPath, s"$dir/ckpt")
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val queries = Seq((9000L, axisVec(2, 0)), (9001L, axisVec(0, 6)))
        .toDF("vec_id", "embedding")
      def page(ix: String) = graft.Caches.scoped {
        Ann.ivfKnnIndexed(queries, ix, k = 3).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      }
      val streamed = page(idxPath)
      // single-shot twin: the same corpus written in one shot under the
      // same quantizer must serve the identical page
      val oneShot = s"$dir/oneshot"
      Ann.writeAnnIndex(
        seed.unionByName(b1.toDF("vec_id", "embedding"))
          .unionByName(b2.toDF("vec_id", "embedding")), cents, oneShot)
      assert(streamed.nonEmpty && streamed == page(oneShot),
        s"streamed-index page $streamed differs from single-shot")
      // the appended twin is retrieved at cos 1.0
      val q9000 = streamed.filter(_._1 == 9000L)
      assert(q9000.exists(t => t._2 == 999L && t._3 == 1.0),
        s"appended twin must be retrieved at cos 1.0: $q9000")
      // growth stats: the planted hot cell flags needs_split
      val st = spark.read.parquet(statsPath).filter(col("batch_id") === 1)
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
      assert(st(2)._1 == 39L && st(2)._2, s"hot cell must flag: $st")
      assert(!st(0)._2 && !st(1)._2 && !st(3)._2, s"balanced cells must not flag: $st")
      // replaying trigger 1 overwrites its own partitions — no duplicates
      val before = spark.read.parquet(idxPath + "/vectors").count()
      StreamingFlow.annIndexIngestBatch(idxPath, statsPath, 2.0, codec = "float")(
        b2.toDF("vec_id", "embedding"), 1L)
      assert(spark.read.parquet(idxPath + "/vectors").count() == before,
        "replayed trigger must not duplicate index rows")
      assert(page(idxPath) == streamed, "replayed trigger must not change the page")
    } finally q.stop()
  }

  test("s31 streaming SQ8 ANN ingest: codes-only index serves appended twins; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ann.Ann
    val dir = java.nio.file.Files.createTempDirectory("graft_s31").toString
    val idxPath = s"$dir/idx"; val statsPath = s"$dir/stats"
    val cents = (0 until 4).map { c =>
      val a = Array.fill(4)(0.0f); a(c) = 1.0f; (c, a)
    }.toDF("c_label", "centroid")
    val seed = (for { c <- 0 until 4; j <- 0 until 5 }
      yield ((c * 10 + j).toLong, axisVec(c, j))).toDF("vec_id", "embedding")
    Ann.writeAnnIndexSq8(seed, cents, idxPath, dim = 4, batchId = Some(-1L))
    val b1 = Seq((999L, axisVec(1, 0))) // twin of seed vec 10 (c=1, j=0)
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingFlow.streamAnnIndexIngestSq8(
      input.toDF().toDF("vec_id", "embedding"), idxPath, statsPath, s"$dir/ckpt")
    try {
      input.addData(b1: _*); q.processAllAvailable()
      val queries = Seq((9000L, axisVec(1, 0))).toDF("vec_id", "embedding")
      def page() = graft.Caches.scoped {
        Ann.ivfSq8KnnIndexed(queries, idxPath, k = 3).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      }
      val p1 = page()
      // the appended twin scores at the top alongside its seed twin —
      // SQ8 codes are near-lossless on the planted axis vectors
      assert(p1.exists(t => t._2 == 999L && t._3 >= 0.99),
        s"appended twin must be retrieved near cos 1.0: $p1")
      assert(p1.exists(t => t._2 == 10L && t._3 >= 0.99),
        s"the seed twin must also surface: $p1")
      // growth stats land under the trigger's batch_id
      val st = spark.read.parquet(statsPath).filter(col("batch_id") === 0)
      assert(st.count() == 4, "one stats row per occupied cell")
      // replay: same batch_id overwrites its own partitions
      val before = spark.read.parquet(idxPath + "/codes").count()
      StreamingFlow.annIndexIngestBatch(idxPath, statsPath, 2.0, codec = "sq8")(
        b1.toDF("vec_id", "embedding"), 0L)
      assert(spark.read.parquet(idxPath + "/codes").count() == before,
        "replayed trigger must not duplicate code rows")
      assert(page() == p1, "replayed trigger must not change the page")
    } finally q.stop()
  }

  test("s37 streaming chunk ingest: cross-batch chunk dedup, replay lands zero chunk rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.BinaryPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft_s37").toString
    val store = s"$dir/store"
    val rnd = new scala.util.Random(5)
    val base = Iterator.continually(rnd.alphanumeric.head).take(2000).mkString
    // seed the store batch-rooted with the original payload
    BinaryPipeline.writeChunkStore(Seq((1L, base)).toDF("doc_id", "text"),
      store, batchId = Some(-1L))
    val chunksAfterSeed = spark.read.parquet(store + "/chunks").count()
    // trigger 1: an exact copy (all chunks already stored) + fresh content
    val fresh = Iterator.continually(rnd.alphanumeric.head).take(800).mkString
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamChunkIngest(
      input.toDF().toDF("doc_id", "text"), store, s"$dir/ckpt")
    try {
      input.addData((2L, base), (3L, fresh)); q.processAllAvailable()
      val chunksAfterB0 = spark.read.parquet(store + "/chunks").count()
      // the exact copy contributed ZERO chunk rows; only fresh content lands
      val freshOnly = BinaryPipeline.chunkStoreRoundtrip(
        Seq((9L, fresh)).toDF("doc_id", "text"),
        java.nio.file.Files.createTempDirectory("graft_s37f").toString)
        .collect().head.getLong(1)
      assert(chunksAfterB0 == chunksAfterSeed + freshOnly,
        s"copy must dedup against the store: $chunksAfterSeed + $freshOnly vs $chunksAfterB0")
      // every payload (seeded + streamed) reassembles byte-exactly
      val rebuilt = BinaryPipeline.readChunkStore(spark, store)
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      assert(new String(rebuilt(1L), "UTF-8") == base &&
        new String(rebuilt(2L), "UTF-8") == base &&
        new String(rebuilt(3L), "UTF-8") == fresh, "streamed store must roundtrip")
      // replay: the same trigger re-lands zero chunk rows, recipes stable
      val recipesBefore = spark.read.parquet(store + "/recipes").count()
      StreamingFlow.chunkIngestBatch(store, 32, 6)(
        Seq((2L, base), (3L, fresh)).toDF("doc_id", "text"), 0L)
      assert(spark.read.parquet(store + "/chunks").count() == chunksAfterB0,
        "replayed trigger must not duplicate chunks")
      assert(spark.read.parquet(store + "/recipes").count() == recipesBefore,
        "replayed trigger overwrites its own recipe partitions")
    } finally q.stop()
    // layout guard: appends onto a single-shot store refuse loudly
    val flat = s"$dir/flat"
    BinaryPipeline.writeChunkStore(Seq((1L, base)).toDF("doc_id", "text"), flat)
    intercept[IllegalArgumentException](
      BinaryPipeline.appendChunkStore(Seq((2L, fresh)).toDF("doc_id", "text"), flat, 0L))
  }

  test("s37 replay AFTER m15 vacuum converges: the superseded trigger re-lands its rows and bytes") {
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.BinaryPipeline
    val dir = java.nio.file.Files.createTempDirectory("graft_s37v").toString
    val store = s"$dir/store"
    val rnd = new scala.util.Random(41)
    def payload(n: Int) = Iterator.continually(rnd.alphanumeric.head).take(n).mkString
    val keep = payload(1200); val v1 = payload(1600); val v2 = payload(1600)
    BinaryPipeline.writeChunkStore(Seq((2L, keep)).toDF("doc_id", "text"),
      store, batchId = Some(-1L))
    val input = MemoryStream[(Long, String)]
    val q = StreamingFlow.streamChunkIngest(
      input.toDF().toDF("doc_id", "text"), store, s"$dir/ckpt")
    try {
      input.addData((1L, v1)); q.processAllAvailable() // trigger 0
      input.addData((1L, v2)); q.processAllAvailable() // trigger 1 supersedes
      // direct chunk-row inspection must follow the snapshot pointer:
      // after a vacuum publishes, the raw root copy is the retained
      // grace generation, not the live store
      def liveChunkRows() = spark.read
        .parquet(BinaryPipeline.chunkStorePaths(spark, store)._1).count()
      val preVacuum = liveChunkRows()
      val rep = BinaryPipeline.vacuumChunkStore(spark, store).collect().head
      assert(rep.getLong(2) > 0L, s"vacuum must reclaim v1's superseded bytes: $rep")
      val postVacuum = liveChunkRows()
      assert(postVacuum < preVacuum, "v1's chunk rows must be gone after vacuum")
      // the SUPERSEDED trigger replays (checkpoint loss / reprocessing):
      // its recipe partition re-lands and its chunk anti-join re-appends
      // exactly the bytes the vacuum removed — the docstring's claim
      StreamingFlow.chunkIngestBatch(store, 32, 6)(
        Seq((1L, v1)).toDF("doc_id", "text"), 0L)
      assert(liveChunkRows() == preVacuum,
        "replayed superseded trigger must re-land its chunk rows")
      // reads converge: latest version still wins, every live byte exact
      val rebuilt = BinaryPipeline.readChunkStore(spark, store).collect()
        .map(r => r.getLong(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
      assert(rebuilt == Map(1L -> v2, 2L -> keep),
        "store after replay-after-vacuum must serve the live versions byte-exactly")
      // and the next vacuum reclaims the re-appended garbage again
      val rep2 = BinaryPipeline.vacuumChunkStore(spark, store).collect().head
      assert(rep2.getLong(2) > 0L && liveChunkRows() == postVacuum,
        s"second vacuum must re-reclaim the replayed garbage: $rep2")
    } finally q.stop()
  }

  test("s36 streaming BQ ANN ingest: drift-free codes serve appended twins; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.ann.Ann
    val dir = java.nio.file.Files.createTempDirectory("graft_s36").toString
    val idxPath = s"$dir/idx"; val statsPath = s"$dir/stats"
    val cents = (0 until 4).map { c =>
      val a = Array.fill(4)(0.0f); a(c) = 1.0f; (c, a)
    }.toDF("c_label", "centroid")
    val seed = (for { c <- 0 until 4; j <- 0 until 5 }
      yield ((c * 10 + j).toLong, axisVec(c, j))).toDF("vec_id", "embedding")
    Ann.writeAnnIndexBq(seed, cents, idxPath, batchId = Some(-1L))
    val b1 = Seq((999L, axisVec(1, 0))) // twin of seed vec 10 (c=1, j=0)
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingFlow.streamAnnIndexIngestBq(
      input.toDF().toDF("vec_id", "embedding"), idxPath, statsPath, s"$dir/ckpt")
    try {
      input.addData(b1: _*); q.processAllAvailable()
      val queries = Seq((9000L, axisVec(1, 0))).toDF("vec_id", "embedding")
      // the cold float source for the exact re-rank: seed + streamed rows
      val floats = seed.unionByName(b1.toDF("vec_id", "embedding"))
      def page() = graft.Caches.scoped {
        Ann.ivfBqKnnIndexed(queries, idxPath, floats, k = 3).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      }
      val p1 = page()
      // twin retrieval is EXACT here: re-rank is float cosine
      assert(p1.exists(t => t._2 == 999L && t._3 >= 0.9999),
        s"appended twin must be retrieved at cos 1.0: $p1")
      assert(p1.exists(t => t._2 == 10L && t._3 >= 0.9999),
        s"the seed twin must also surface: $p1")
      val st = spark.read.parquet(statsPath).filter(col("batch_id") === 0)
      assert(st.count() == 4, "one stats row per occupied cell")
      // replay: same batch_id overwrites its own partitions
      val before = spark.read.parquet(idxPath + "/codes").count()
      StreamingFlow.annIndexIngestBatch(idxPath, statsPath, 2.0, codec = "bq")(
        b1.toDF("vec_id", "embedding"), 0L)
      assert(spark.read.parquet(idxPath + "/codes").count() == before,
        "replayed trigger must not duplicate code rows")
      assert(page() == p1, "replayed trigger must not change the page")
    } finally q.stop()
  }

  test("batch layout guard over every index family: refusals write nothing") {
    import graft.ann.Ann
    import graft.dedup.Dedup
    import graft.multimodal.BinaryPipeline
    import graft.text.TextStats
    val cents = Seq((0, Array(1.0f, 0f, 0f, 0f)), (1, Array(0f, 1.0f, 0f, 0f)))
      .toDF("c_label", "centroid")
    val vecs = Seq((0L, Array(1.0f, 0.1f, 0f, 0f)), (1L, Array(0.1f, 1.0f, 0f, 0f)),
      (2L, Array(0.9f, 0f, 0.2f, 0f)), (3L, Array(0f, 0.8f, 0f, 0.3f))).toDF("vec_id", "embedding")
    val moreVecs = Seq((10L, Array(1.0f, 0f, 0f, 0.1f))).toDF("vec_id", "embedding")
    val texts = Seq((1L, "the quick brown fox jumps over the lazy dog once more"),
      (2L, "a stream of words arrives at the index on every trigger")).toDF("doc_id", "text")
    val moreTexts = Seq((3L, "fresh documents land under their own batch partition today"))
      .toDF("doc_id", "text")
    // one batch-capable family: its seed and append (by batch id), whether
    // it has a plain append (elsewhere a batchId-less call is a seed), and
    // the relation whose layout is checked with its inner partition column
    case class Family(name: String, seed: (String, Option[Long]) => Unit,
                      append: (String, Option[Long]) => Unit, plainAppend: Boolean,
                      relation: String, inner: Option[String])
    val families = Seq(
      Family("ann float", (p, b) => Ann.writeAnnIndex(vecs, cents, p, batchId = b),
        (p, b) => Ann.appendAnnIndex(moreVecs, p, batchId = b), true, "vectors", Some("c_label")),
      Family("ann sq8", (p, b) => Ann.writeAnnIndexSq8(vecs, cents, p, dim = 4, batchId = b),
        (p, b) => Ann.appendAnnIndexSq8(moreVecs, p, batchId = b), true, "codes", Some("c_label")),
      Family("ann bq", (p, b) => Ann.writeAnnIndexBq(vecs, cents, p, batchId = b),
        (p, b) => Ann.appendAnnIndexBq(moreVecs, p, batchId = b), true, "codes", Some("c_label")),
      Family("ann pq",
        (p, b) => Ann.writeAnnIndexPq(vecs, cents, p, m = 2, ksub = 2, dim = 4, batchId = b),
        (p, b) => Ann.appendAnnIndexPq(moreVecs, p, batchId = b), true, "codes", Some("c_label")),
      Family("text", (p, b) => TextStats.writeTextIndex(texts, p, batchId = b),
        (p, b) => TextStats.writeTextIndex(moreTexts, p, batchId = b), false, "postings", Some("bkt")),
      Family("dedup", (p, b) => Dedup.writeDedupIndex(texts, p, batchId = b),
        (p, b) => Dedup.appendDedupIndex(moreTexts, p, batchId = b), true, "sig", Some("bi")),
      Family("containment", (p, b) => Dedup.writeContainmentIndex(texts, p, batchId = b),
        (p, b) => Dedup.writeContainmentIndex(moreTexts, p, batchId = b), false, "postings",
        Some("bkt")),
      Family("chunk store", (p, b) => BinaryPipeline.writeChunkStore(texts, p, batchId = b),
        (p, b) => BinaryPipeline.appendChunkStore(moreTexts, p, b.get), false, "recipes", None))
    def visible(d: java.io.File) =
      d.listFiles().toSeq.filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    families.foreach { f =>
      val root = java.nio.file.Files.createTempDirectory("graft_layout").toString
      def refused(path: String, batchId: Option[Long], message: String): Unit = {
        val before = filesUnder(path)
        val e = intercept[IllegalArgumentException](f.append(path, batchId))
        assert(e.getMessage.contains(message), s"${f.name}: ${e.getMessage}")
        assert(filesUnder(path) == before, s"${f.name}: a refused append wrote files")
        graft.Caches.release()
      }
      f.seed(s"$root/single", None)
      refused(s"$root/single", Some(0L), "single-shot layout")
      f.seed(s"$root/batched", Some(-1L))
      if (f.plainAppend) refused(s"$root/batched", None, "batch-rooted")
      f.append(s"$root/batched", Some(0L))
      graft.Caches.release()
      val batches = visible(new java.io.File(s"$root/batched/${f.relation}"))
      assert(batches.map(_.getName).sorted == Seq("batch_id=-1", "batch_id=0"),
        s"${f.name}: ${batches.map(_.getName)}")
      batches.foreach { b =>
        val kids = visible(b)
        assert(kids.nonEmpty && kids.forall(k => f.inner match {
          case Some(c) => k.isDirectory && k.getName.startsWith(s"$c=")
          case None => k.isFile && k.getName.endsWith(".parquet")
        }), s"${f.name}: ${b.getName} holds ${kids.map(_.getName)}")
      }
    }
  }

  test("s33 streaming DQ gate: verdicts equal batch rowGate on the same rows; stateless replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.lang.Long, Timestamp, String, Double)]
    val df = input.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = StreamingFlow.streamDqGate(df).writeStream
      .format("memory").queryName("dq_gate_out").outputMode("append").start()
    try {
      input.addData(
        (1L, ts(0), "click", 1.0),          // clean → admit
        (null, ts(1), "view", 2.0),         // user_id missing
        (2L, ts(2), "login", 3.0),          // off-domain type
        (3L, ts(3), "purchase", -5.0))      // negative value
      q.processAllAvailable()
      // two violations on one row across two triggers: both listed
      input.addData((null, ts(4), "bogus", 1.0))
      q.processAllAvailable()
      val out = spark.table("dq_gate_out").collect()
        .map(r => (r.getString(2), r.getDouble(3)) -> (r.getString(4), r.getString(5))).toMap
      assert(out(("click", 1.0)) == ("", "admit"))
      assert(out(("view", 2.0)) == (("user_id_present", "quarantine")))
      assert(out(("login", 3.0)) == (("type_domain", "quarantine")))
      assert(out(("purchase", -5.0)) == (("value_nonneg", "quarantine")))
      assert(out(("bogus", 1.0)) == (("user_id_present,type_domain", "quarantine")))
      // batch twin on the identical rows: verdict-for-verdict equal
      val batch = graft.operators.Quality.rowGate(
        Seq[(java.lang.Long, Timestamp, String, Double)](
          (1L, ts(0), "click", 1.0), (null, ts(1), "view", 2.0),
          (2L, ts(2), "login", 3.0), (3L, ts(3), "purchase", -5.0),
          (null, ts(4), "bogus", 1.0))
          .toDF("user_id", "ts", "event_type", "value"),
        graft.operators.Quality.eventChecks).collect()
        .map(r => (r.getString(2), r.getDouble(3)) -> (r.getString(4), r.getString(5))).toMap
      assert(batch == out, "stream and batch verdicts must be identical")
    } finally q.stop()
  }
}
