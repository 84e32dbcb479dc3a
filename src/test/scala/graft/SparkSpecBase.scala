package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Shared local session for all specs. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session

  override def afterAll(): Unit = {
    // shared session stays alive across suites; drop any intermediate
    // caches graft operators tracked during this suite (cache hygiene —
    // and re-invocations in later suites re-persist without the
    // CacheManager "already cached" warning)
    Caches.release()
  }

  /** Spark jobs started by `body`: counted by job group, after a marker
    * job in a second group has reached the listener (the bus delivers
    * in order, so every earlier job start has arrived by then). */
  def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"spec-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "spec")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "spec marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds)) { assert(seen.contains(marker)) }
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  /** Every regular file under `dir` (hidden ones too) as (path, length,
    * mtime), sorted: two equal listings mean nothing was written. */
  def filesUnder(dir: String): Seq[(String, Long, Long)] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
      (f.toString, java.nio.file.Files.size(f),
        java.nio.file.Files.getLastModifiedTime(f).toMillis)
    }.toSeq.sorted
    finally s.close()
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
