package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed external tables; the
  * loaders keep a single entry point so a production deployment swaps
  * the parquet read for a catalog lookup without touching any
  * operator code.
  *
  * Every load goes through `Sources.readParquet`, which infers a
  * table's schema once per (path, file listing, parquet conf) and
  * reads with it after that. A plain `spark.read.parquet` ran a
  * one-task footer job per relation per call: 22 of them in one pass
  * of the 14 traffic queries. Each load is still a fresh relation
  * with its own attribute ids.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.readParquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The events table's `ts` column has shipped as BOTH
    * TIMESTAMP(NANOS) parquet (read as raw long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`) and plain TIMESTAMP(MICROS)
    * (read natively as TimestampType), depending on the generator
    * version. Branch on the type Spark actually resolved so either
    * vintage loads to the SAME contract:
    *   - `ts_ns`  LongType  — nanosecond epoch, the exact sort key
    *     (nanos vintage was micro-truncated at generation, so both
    *     vintages yield identical multiples of 1000)
    *   - `ts`     TimestampType — microsecond timestamp for
    *     window/date functions
    * `spark.sql.legacy.parquet.nanosAsLong` stays in the session
    * builders (GraftSession.create / specs) rather than being
    * set here as a loader side effect, which would silently change how
    * OTHER readers in the same session see nanos columns. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    // ALL vintages require a UTC session, not just NTZ: the NTZ→TZ cast
    // interprets the naive value in the session zone, and even for the
    // instant-semantics vintages every downstream date/window function on
    // `ts` (day grains, sessionization windows) must agree with the DuckDB
    // oracle, which evaluates them naive-as-UTC. All internal builders
    // (GraftSession.create/specs) pin UTC; this guards external ones.
    require(s.conf.getOption("spark.sql.session.timeZone").contains("UTC"),
      "Tables.events needs spark.sql.session.timeZone=UTC in the session " +
        "builder: the events time contract (epoch math and date/window " +
        "functions vs the naive-as-UTC oracle) only holds under UTC")
    raw.schema("ts").dataType match {
      case TimestampType =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        val ts = col("ts").cast(TimestampType)
        raw.withColumn("ts_ns", unix_micros(ts) * lit(1000L))
          .withColumn("ts", ts)
      case LongType => // nanos-as-long vintage
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => throw new IllegalStateException(
        s"events.ts resolved as $other — expected TIMESTAMP / TIMESTAMP_NTZ (micros) " +
          "or LongType (TIMESTAMP(NANOS) under spark.sql.legacy.parquet.nanosAsLong=true)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
