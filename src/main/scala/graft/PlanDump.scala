package graft

/** Dev tool: dump `.explain("formatted")` for every declared query to
  * plans/<tag>/<query>_<suffix>.txt (SPARK_GRAFT_PLAN_TAG, default
  * r21; SPARK_GRAFT_PLAN_SUFFIX, default "before"; the harness knobs
  * pick the scale, cores and query set). Runs under the Bench session
  * so the dumped plans are the plans the bench executes.
  *
  * Dumps are diffable: run-specific tokens are made stable before
  * writing (see `normalize`), so two dumps of the same plan are
  * byte-equal. Known exceptions, whose plan text itself can vary run
  * to run: q50_table_stats and q73_dq_profile (the Expand row order of
  * their multi-column exact-distinct aggregates follows expression-id
  * hashing) and m16_payload_sweep (its AQE plan around cached stages
  * differs). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r21")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val selected = Harness.select()
    val spark = Harness.session()
    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, Harness.sfDir)
        val txt = normalize(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] $name ok")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: $e")
      } finally Caches.release()
    }
    spark.stop()
  }

  /** Session counters (expression ids `#1234`, exchange `plan_id=56`,
    * lambda variables `x_64`, `y_65`) are renumbered in first-appearance
    * order; RDD ids, lambda class names, object-hash suffixes and
    * scratch-dir suffixes are masked. Lambda variables share one
    * JVM-wide counter, so `x_N`, `y_N` and `z_N` share one renumbering
    * and a subset dump matches the same plan in a full one. */
  private[graft] def normalize(plan: String): String =
    Seq("(#)(\\d+)", "(plan_id=)(\\d+)", "\\b([xyz]_)(\\d+)\\b").foldLeft(plan) { (text, pattern) =>
      val ids = scala.collection.mutable.HashMap[String, Int]()
      pattern.r.replaceAllIn(text, m => m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size))
    }.replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda").replaceAll("@[0-9a-f]{5,}\\b", "@_")
      .replaceAll("RDD\\[\\d+]", "RDD[_]").replaceAll("(/graft_\\w+?_)\\d+", "$1_")
}
