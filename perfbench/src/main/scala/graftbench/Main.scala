package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** One benchmark run in one JVM: set up, drive the workload's closed loop
  * for about the given seconds, run its checks and write a JSON record of raw
  * timings, check outputs and (traced runs) per-layer metrics to
  * `<out>/run.json`. Statistics and the oracle comparison are left to the
  * caller.
  *
  * Arguments: --workload traffic|corpus|retrieval --data DIR --out DIR
  * --seconds S --trace 0|1 --seed N
  *
  * A traced run alternates untraced and traced passes, so the two are
  * measured under the same host conditions; only traced passes register
  * the listeners. */
object Main {
  val TrafficQueries: Seq[String] = Seq(
    "q01_flow_agg", "q02_topn_flow", "q03_speed_buckets", "q04_group_topn",
    "q05_star_join_flow", "q06_group_concat", "q07_distinct_count", "q08_car_track",
    "q09_funnel_step", "q10_collision", "q14_stratified_sample", "q20_time_window",
    "q24_monitor_health", "q25_global_stats")
  val CorpusQueries: Seq[String] = Seq(
    "d03_minhash_lsh", "d19_containment_prefix", "d22_containment_apply", "d24_dedup_sweep",
    "m06_chunk_dedup", "m16_payload_sweep", "t13_ngram_novelty", "t33_textrank")
  val Modules: Seq[String] = Seq("operators", "dedup", "text", "ann", "multimodal")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadStart = Host.loadavg()

    val spark = GraftSession.create(s"local[$nproc]", nproc)
    val w: Workload = opt("workload") match {
      case "traffic" => new QueryWorkload(spark, data, out, TrafficQueries, 9.0)
      case "corpus" => new QueryWorkload(spark, data, out, CorpusQueries, 15.0)
      case "retrieval" => new RetrievalWorkload(spark, data, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - Host.jvmStartMs()) / 1e3
    val setupCpuS = Host.cpuSeconds()
    w.preCheck()

    val tracer = new Tracer(spark)
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var heapMb = 0.0
    val cpu0 = Host.cpuTicks()
    val gc0 = Host.gcMillis()
    val t0 = System.nanoTime()
    val passCount = math.max(if (trace) 2 else 1, math.round(seconds / w.nominalPassSeconds).toInt)
    for (i <- 0 until passCount) {
      val traced = trace && i % 2 == 1
      if (traced) tracer.attach()
      val p0 = System.nanoTime()
      val c0 = Host.cpuSeconds()
      w.pass(i, if (traced) Some(tracer) else None)
      passes += Map("traced" -> traced, "seconds" -> (System.nanoTime() - p0) / 1e9,
        "cpu_seconds" -> (Host.cpuSeconds() - c0))
      if (traced) tracer.detach()
      heapMb = math.max(heapMb, Host.postGcHeapMb())
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val steal = Host.stealShare(cpu0, Host.cpuTicks())
    val gcS = (Host.gcMillis() - gc0) / 1e3
    w.finish()

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"),
      "nproc" -> nproc,
      "spark_version" -> spark.version,
      "setup_s" -> setupS,
      "setup_cpu_s" -> setupCpuS,
      "timed_s" -> timedS,
      "peak_heap_mb" -> heapMb,
      "host" -> Map("loadavg_start" -> loadStart, "loadavg_end" -> Host.loadavg(),
        "steal_share" -> steal, "gc_s" -> gcS),
      "passes" -> passes,
      "ops" -> w.ops.map(o => Map("pass" -> o.pass, "name" -> o.name, "kind" -> o.kind,
        "traced" -> o.traced, "seconds" -> o.seconds, "error" -> o.error)),
      "info" -> w.info)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    if (trace) {
      record("layers") = Layers.of(tracer, w, gcS) ++
        Kernels.run(opt("seed").toLong).map { case (k, v) => s"functions.${k}_ns" -> v }
      Files.write(Paths.get(out, "spans.jsonl"), tracer.spans.map(s => json.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "module" -> s.module, "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("\n").getBytes("UTF-8"))
    }
    Files.write(Paths.get(out, "run.json"), json.writeValueAsBytes(record))
    spark.stop()
  }
}

/** Per-layer metrics from the traced passes' spans and counters. Module
  * metrics are means per call over the calls attributed to the module
  * whose public function built the frame; a module no call reached reads 0. */
object Layers {
  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def of(tracer: Tracer, w: Workload, gcS: Double): Map[String, Double] = {
    val spans = tracer.spans.toSeq
    val calls = spans.filter(s => s.parent == 0L && (s.kind == "query" || s.kind == "probe"))
    val children = spans.groupBy(_.parent)
    def childSeconds(op: Span, kind: String) =
      children.getOrElse(op.id, Seq.empty).filter(_.kind == kind).map(_.seconds).sum
    val stats = calls.map(c => c -> tracer.callStats(c)).toMap

    val modules = Main.Modules.flatMap { m =>
      val cs = calls.filter(_.module == m)
      def avg(f: CallStats => Double) = mean(cs.map(c => f(stats(c))))
      Seq(
        s"$m.build_s" -> mean(cs.map(childSeconds(_, "build"))),
        s"$m.exec_s" -> mean(cs.map(childSeconds(_, "exec"))),
        s"$m.plan_s" -> avg(_.planMs / 1e3),
        s"$m.stages" -> avg(_.stages.toDouble),
        s"$m.tasks" -> avg(_.tasks.toDouble),
        s"$m.exchanges" -> avg(_.exchanges.toDouble),
        s"$m.shuffle_bytes" -> avg(_.shuffleBytes.toDouble),
        s"$m.spill_bytes" -> avg(_.spillBytes.toDouble),
        s"$m.peak_exec_mem_bytes" -> avg(_.peakExecMem.toDouble),
        s"$m.task_run_s" -> avg(_.taskRunMs / 1e3),
        s"$m.task_cpu_s" -> avg(_.taskCpuNs / 1e9),
        s"$m.task_wait_s" -> avg(_.taskWaitMs / 1e3))
    }

    val writes = spans.filter(_.kind == "write")
    val compacts = spans.filter(_.kind == "compact")
    (modules ++ Seq(
      "tables.scan_bytes" -> mean(calls.map(stats(_).scanBytes.toDouble)),
      "tables.scan_rows" -> mean(calls.map(stats(_).scanRows.toDouble)),
      "ann.write_s" -> mean(writes.filter(_.module == "ann").map(_.seconds)),
      "text.write_s" -> mean(writes.filter(_.module == "text").map(_.seconds)),
      "dedup.write_s" -> mean(writes.filter(_.module == "dedup").map(_.seconds)),
      "multimodal.write_s" -> mean(writes.filter(_.module == "multimodal").map(_.seconds)),
      "sources.compact_s" -> mean(compacts.map(_.seconds)),
      "par.job_overlap" -> mean(writes.map(s => tracer.callStats(s).jobMs / 1e3 / s.seconds)),
      "caches.cached_bytes" -> mean(tracer.cachedBytes.map(_.toDouble)),
      "jvm.gc_s" -> gcS) ++ w.storageMetrics).toMap
  }
}
