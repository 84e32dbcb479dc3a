package graft

import org.apache.spark.sql.functions._

/** Dev-only phase profiler: times the sub-steps of a composite query
  * under the Bench session so optimization targets the real cost, not
  * a guess. SPARK_GRAFT_PROFILE=a21 (the default) splits a21 into its
  * phases; any other query key is timed whole. Not part of the driver
  * contract. */
object Profile {
  def main(args: Array[String]): Unit = {
    import Harness.sfDir
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    def time[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    val which = sys.env.getOrElse("SPARK_GRAFT_PROFILE", "a21")
    (1 to Harness.reps).foreach { rep =>
      println(s"--- rep $rep: $which ---")
      which match {
        case "a21" =>
          val docs = Tables.documents(spark, sfDir)
          val tmpT = SparkEntry.scratchDir("graft_prof_t_")
          val tmpA = SparkEntry.scratchDir("graft_prof_a_")
          time("writeTextIndex") {
            graft.text.TextStats.writeTextIndex(docs, tmpT)
          }
          val emb = graft.text.TextStats.hashEmbed(docs)
          val corpusVec = emb.select(col("doc_id").as("vec_id"), col("embedding"))
          val cents = time("kmeansCentroids") {
            val c = graft.ann.Ann.kmeansCentroids(corpusVec)
            c.count(); c
          }
          time("writeAnnIndex") {
            graft.ann.Ann.writeAnnIndex(corpusVec, cents, tmpA)
          }
          val qe = emb.filter(col("doc_id") % 97 === 0 && col("doc_id") < 97L * 32)
            .select(col("doc_id").as("query_id"), col("embedding"))
          time("  lex leg (bm25SearchIndexed)") {
            graft.text.TextStats.bm25SearchIndexed(
              graft.text.TextStats.sampleQueries(docs), tmpT)
              .write.format("noop").mode("overwrite").save()
          }
          time("  sem leg (ivfKnnIndexed)") {
            graft.ann.Ann.ivfKnnIndexed(
              qe.select(col("query_id").as("vec_id"), col("embedding")),
              tmpA, k = 10, nprobe = 2, excludeSelf = false)
              .write.format("noop").mode("overwrite").save()
          }
          time("rrfFuseIndexed (probe)") {
            graft.ann.Ann.rrfFuseIndexed(
              graft.text.TextStats.sampleQueries(docs), qe, tmpT, tmpA)
              .write.format("noop").mode("overwrite").save()
          }
          time("count files") {
            def cnt(p: String): Long = scala.util.Using.resource(java.nio.file.Files.walk(
              java.nio.file.Paths.get(p)))(_.filter(java.nio.file.Files.isRegularFile(_)).count())
            println(s"[profile]   text index files: ${cnt(tmpT)}  ann index files: ${cnt(tmpA)}")
          }
        case other =>
          // fall back: any registered query key
          val fn = SparkEntry.queries(other)
          time(other) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
      }
      Caches.release()
    }
    spark.stop()
  }
}
