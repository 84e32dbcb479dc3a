package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Filesystem existence probes shared by the stateful sinks.
  *
  * The index/state writers must distinguish "path genuinely absent"
  * (a legitimate first trigger / seeding call → start empty) from a
  * transient read failure on EXISTING state (IO error, permissions,
  * corruption). Collapsing both into one catch-Throwable fallback
  * silently rebuilds state from empty and the subsequent overwrite
  * persists the loss — so the fallback is gated on an explicit
  * existence check and every other error propagates, failing the
  * batch so the retry sees the real state.
  */
object Fs {

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** True when `path` is a directory with at least one child directory
    * whose name starts with `prefix` (e.g. a `batch_id=` partition). */
  def hasChildDir(spark: SparkSession, path: String, prefix: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith(prefix))
  }
}
