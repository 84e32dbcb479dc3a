package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = Harness.select()
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // a query that THROWS must stay loud in the artifacts: r13's ts-type
    // regression errored 20 queries and the round's correctness report
    // silently shrank 114→94 entries because failures left no output dir.
    // Record every failure (errors.json + manifest counts) and exit
    // nonzero so coverage shrinkage can't read as all-green again.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = e.toString.take(300)
        System.err.println(s"[verify] $name failed: $e")
        e.getStackTrace.take(3).foreach(f => System.err.println(s"[verify]   at $f"))
        // a stale dump from a previous run into the same outDir would
        // make the per-query compare print a misleading OK for a query
        // that actually threw this run — remove it so absence stays loud
        Harness.rm(new java.io.File(s"$outDir/$name"))
      }
      finally Caches.release() // drop operator-held intermediate caches
    }
    def jsonObject(m: Iterable[(String, String)]): String = m
      .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObject(errors))
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      s"""{"expected":${selected.size},"dumped":${selected.size - errors.size},"failed":${errors.size}}""")
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size}/${selected.size} queries FAILED: " +
        errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
