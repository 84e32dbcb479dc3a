package graft

import java.nio.file.Files
import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.util.Try

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Loader-contract pins for the driver-generated tables — above all the
  * events `ts` column, which has shipped in three parquet vintages
  * (TIMESTAMP(MICROS) tz-adjusted, TIMESTAMP(MICROS) NTZ, and
  * TIMESTAMP(NANOS) which resolves as LongType under
  * `spark.sql.legacy.parquet.nanosAsLong`). Round 13 broke all 20
  * events queries because only the vintage that happened to be on disk
  * was ever exercised; this spec writes a tiny table in each vintage
  * and asserts the loader lands every one on the identical
  * (ts timestamp, ts_ns long) contract.
  *
  * The loaders read through `Sources.readParquet`'s schema memo; the
  * memo specs pin that a hit runs no Spark job and that a rewrite, a
  * parquet conf flip or a missing path never yields a stale answer. */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  private def tableDir(rows: Seq[(Long, Long)]): String = {
    val root = Files.createTempDirectory("graft_memo").toString
    rows.toDF("k", "v").write.parquet(s"$root/lineitem.parquet")
    root
  }

  test("events loader: all three ts vintages yield the identical (ts, ts_ns) contract") {
    val root = Files.createTempDirectory("graft_vintage").toString
    // micro-truncated instants (the nanos vintage was micro-truncated
    // at generation, so all vintages carry exact multiples of 1000 ns)
    val micros = Seq(1704112496789012L, 1704198896000001L)
    val instants = micros.map(m =>
      Instant.ofEpochSecond(m / 1000000L, (m % 1000000L) * 1000L))

    // vintage A — tz-adjusted TIMESTAMP(MICROS): Instant encodes as
    // TimestampType; force the micros physical type (Spark's default
    // parquet output is INT96)
    val prevOut = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try instants.zipWithIndex.map { case (i, n) => (n.toLong, i) }
      .toDF("event_id", "ts").write.parquet(s"$root/micros/events.parquet")
    finally prevOut match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }

    // vintage B — TIMESTAMP(MICROS) NTZ (the current testdata): a
    // LocalDateTime encodes as TimestampNTZType, written un-adjusted;
    // the naive value IS the UTC wall clock (the generator convention)
    instants.zipWithIndex.map { case (i, n) =>
      (n.toLong, LocalDateTime.ofInstant(i, ZoneOffset.UTC)) }
      .toDF("event_id", "ts").write.parquet(s"$root/ntz/events.parquet")

    // vintage C — TIMESTAMP(NANOS): Spark cannot WRITE nanos parquet,
    // but under nanosAsLong the nanos column RESOLVES as a plain long
    // of epoch nanos — which is exactly what a long column named ts is,
    // so this exercises the same loader branch the pyarrow vintage hits
    micros.zipWithIndex.map { case (m, n) => (n.toLong, m * 1000L) }
      .toDF("event_id", "ts").write.parquet(s"$root/nanos/events.parquet")

    for (vintage <- Seq("micros", "ntz", "nanos")) {
      val ev = Tables.events(spark, s"$root/$vintage")
      assert(ev.schema("ts").dataType == TimestampType,
        s"$vintage: ts must land as TimestampType")
      assert(ev.schema("ts_ns").dataType == LongType,
        s"$vintage: ts_ns must land as LongType")
      val rows = ev.select("event_id", "ts", "ts_ns").collect()
        .map(r => r.getLong(0) -> (r.getTimestamp(1).toInstant, r.getLong(2))).toMap
      micros.zipWithIndex.foreach { case (m, n) =>
        val (ts, tsNs) = rows(n.toLong)
        assert(tsNs == m * 1000L, s"$vintage row $n: ts_ns $tsNs != ${m * 1000L}")
        assert(ts == instants(n), s"$vintage row $n: ts $ts != ${instants(n)}")
      }
    }
  }

  test("events loader refuses a non-UTC session (the oracle's epoch contract)") {
    // the contract (naive-as-UTC epoch math, UTC date/window grains)
    // silently shifts in any other zone — the loader must fail loudly
    // — also when the schema memo already holds the table, so that the
    // guard cannot ride on the footer job a plain read runs first
    val dir = Files.createTempDirectory("graft_utc").toString
    Seq((0L, LocalDateTime.of(2024, 1, 1, 12, 0))).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    Tables.events(spark, dir)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    val jobs = try jobsRunBy {
      intercept[IllegalArgumentException] { Tables.events(spark, dir) }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    assert(jobs == 0, s"a memo hit ran $jobs jobs")
  }

  test("schema memo: the first load of a table runs one Spark job, a second on the same files none") {
    val dir = tableDir((1L to 20L).map(i => (i % 5, i)))
    assert(jobsRunBy(Tables.lineitem(spark, dir)) == 1, "first load infers the schema")
    assert(jobsRunBy(Tables.lineitem(spark, dir)) == 0, "second load must hit the memo")
    assert(Tables.lineitem(spark, dir).count() == 20)
  }

  test("schema memo: rewriting a table with an extra column makes the next load see it") {
    val dir = tableDir(Seq((1L, 10L)))
    assert(Tables.lineitem(spark, dir).columns.toSeq == Seq("k", "v"))
    Seq((2L, 20L, "x")).toDF("k", "v", "extra")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val after = Tables.lineitem(spark, dir)
    assert(after.columns.toSeq == Seq("k", "v", "extra"))
    assert(after.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((2L, 20L, "x")))
  }

  test("schema memo: flipping nanosAsLong between loads gives each setting's inferred type") {
    // a TIMESTAMP(NANOS) column, written with parquet-mr (Spark cannot
    // write nanos): nanosAsLong decides whether it resolves as LongType
    val root = Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$root/events.parquet/part-0.parquet"),
      spark.sparkContext.hadoopConfiguration)).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 0L).append("ts", 1704112496789012000L))
    finally writer.close()
    val path = s"$root/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def outcome(df: => DataFrame) =
      Try(df.schema("ts").dataType).toEither.left.map(_.getClass)
    val prev = spark.conf.get(key)
    try for (setting <- Seq("true", "false", "true")) {
      spark.conf.set(key, setting)
      val memo = outcome(Tables.load(spark, root, "events"))
      assert(memo == outcome(spark.read.parquet(path)), s"nanosAsLong=$setting")
      if (setting == "true") assert(memo == Right(LongType))
    } finally spark.conf.set(key, prev)
  }

  test("schema memo: a missing path fails with the exception a plain parquet read throws") {
    val dir = Files.createTempDirectory("graft_missing").toString
    val plain = intercept[Exception](spark.read.parquet(s"$dir/lineitem.parquet"))
    val memo = intercept[Exception](Tables.lineitem(spark, dir))
    assert(memo.getClass == plain.getClass)
    assert(memo.getMessage == plain.getMessage)
  }

  test("schema memo: a self-join of two loads of one table equals the plain-read self-join") {
    val dir = tableDir((1L to 30L).map(i => (i % 4, i)))
    def pairs(a: DataFrame, b: DataFrame) =
      a.join(b, a("k") === b("k") && a("v") < b("v"))
        .select(a("v"), b("v")).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val path = s"$dir/lineitem.parquet"
    val plain = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert(plain.nonEmpty)
    assert(pairs(Tables.lineitem(spark, dir), Tables.lineitem(spark, dir)) == plain)
  }

  test("schema memo: 20 appends leave one entry for the path; deleting the path drops it") {
    val dir = tableDir(Seq((0L, 0L)))
    val path = s"$dir/lineitem.parquet"
    assert(Tables.lineitem(spark, dir).count() == 1)
    (1L to 20L).foreach { i =>
      Seq((i, i)).toDF("k", "v").write.mode("append").parquet(path)
      assert(Tables.lineitem(spark, dir).count() == i + 1, s"append $i not seen")
    }
    assert(graft.sources.Sources.parquetSchemas.paths.count(_ == path) == 1)
    assert(jobsRunBy(Tables.lineitem(spark, dir)) == 0, "the last version must still hit")
    // a deleted path drops its entry when it is next read
    Harness.rm(new java.io.File(path))
    intercept[Exception](Tables.lineitem(spark, dir))
    assert(!graft.sources.Sources.parquetSchemas.paths.contains(path))
  }
}
