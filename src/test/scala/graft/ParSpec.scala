package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

class ParSpec extends SparkSpecBase {

  test("Par.jobs: a failure cancels the sibling jobs and rethrows the original error") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException("boom")
    val sleepMs = 20000
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Par.jobs(
        // listed first, so a wait in list order would sit out its
        // sleep before seeing the failure. Interruptible, so the
        // cancelled tasks free their slots for the specs that follow
        () => {
          sc.setInterruptOnCancel(true)
          sc.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(sleepMs))
        },
        () => { Thread.sleep(1000); throw boom })
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom, s"expected the original failure, got $thrown")
    assert(secs < sleepMs / 1000.0 / 2, f"Par.jobs took $secs%.1f s")
    // the job-end event reaches the status store through the listener bus
    eventually(timeout(10.seconds)) {
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
    }
  }
}
