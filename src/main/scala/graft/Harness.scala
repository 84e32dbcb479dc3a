package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The dev harness shared by `graft.Bench`, `graft.Verify`,
  * `graft.PlanDump` and `graft.Profile`: one read of the environment
  * knobs (one default each), the session, the query selection, the
  * table warm-up and the file/JSON helpers those mains need. */
object Harness {
  // dev knobs (unset in contract runs → full suite, single shot):
  // SPARK_GRAFT_ONLY=csv of query keys; SPARK_GRAFT_REPS=N keeps the
  // per-query MINIMUM across N runs (the bench host's CPU-steal noise
  // is ~2x, so minima are the comparable number — PLANS.md)
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt
  val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
  val reps: Int = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").trim.toInt

  /** The engine's one session config, sized to `cpus`. */
  def session(): SparkSession = GraftSession.create(s"local[$cpus]", cpus)

  /** `SparkEntry.queries` restricted to `only`, in sorted key order: Map iteration
    * order is arbitrary, and a log capture can clip the head of
    * Bench's JSON line — with a deterministic order the clipped
    * prefix is at least a known set. An unknown key fails the selection
    * (a typo would otherwise select nothing and read as a clean run). */
  def select(only: Option[Set[String]] = only): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val queries = SparkEntry.queries
    val unknown = only.getOrElse(Set.empty) -- queries.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    queries.toSeq.sortBy(_._1).filter { case (name, _) => only.forall(_.contains(name)) }
  }

  /** Absorb session init + parquet footer reads so per-query timings
    * measure the operators, not first-query JVM spin-up. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach { n =>
      try {
        (if (n == "events") Tables.events(spark, sfDir)
         else Tables.load(spark, sfDir, n)).count()
      } catch { case _: Throwable => () }
    }

  /** Recursive delete of a file or directory tree. */
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the oracle compare's json.load fail and silently zero the
    * round's correctness. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
