package graft
object Bench {
  def main(args: Array[String]): Unit = {
    import Harness.{cpus, only, reps, sfDir}
    def loadavg(): String =
      scala.util.Try(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim).getOrElse("")
    val loadStart = loadavg()
    val selected = Harness.select()
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = selected.map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // noop sink materializes every output column — count() would let
        // Catalyst prune the computed columns right out of narrow queries
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          // a swallowed failure would read as a suspiciously FAST query;
          // surface it so the timing line can't hide a broken operator
          errors(name) = e.toString.replaceAll("[\\x00-\\x1f\"\\\\]", " ").take(120)
        }
        // per-rep release: each rep pays the full pipeline (honest
        // timing) and no intermediate cache outlives its query
        finally Caches.release()
        (System.nanoTime() - t0) / 1e9
      }
      name -> times.min
    }
    // 3-decimal timings: full-precision doubles made the line ~4 kB and
    // the driver's tail capture head-clipped it every round (a01–q09
    // timings lost). 1 ms resolution is far below host noise anyway.
    // Locale.ROOT: a comma-decimal default locale would emit "1,234"
    // and corrupt the JSON line.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"$k\":\"$v\"" }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    // host-load sidecar (separate file — the driver's stdout/JSON
    // contract stays byte-compatible): loadavg at start and end makes
    // a contaminated one-shot self-diagnosing (this VM's CPU steal has
    // historically swung untouched queries 2-9x — r20 verdict). Full
    // runs only, like BENCH_LOCAL.json: it describes the full-map run.
    def sidecar(file: String, text: String): Unit =
      if (only.isEmpty)
        try java.nio.file.Files.write(java.nio.file.Paths.get(file), text.getBytes("UTF-8"))
        catch { case _: Throwable => () }
    sidecar("BENCH_HOST.json",
      s"""{"loadavg_start":"$loadStart","loadavg_end":"${loadavg()}","reps":$reps,"cpus":"$cpus"}""")
    // durable copy in the repo: even if the stdout line is clipped by
    // the log capture, the full per-query map survives for the judge.
    // Full-suite runs only — a SPARK_GRAFT_ONLY dev subset must not
    // clobber the committed full map.
    sidecar("BENCH_LOCAL.json", line)
    // Emission protocol, in recoverability order (diagnosed r16: sbt's
    // default LoggedOutput strategy clipped the multi-kB echoed line to
    // ~4 kB BEFORE the driver took its 2 kB tail — the captured window
    // was a mid-line slice, hence "parsed": null four rounds running;
    // build.sbt now forces StdoutOutput so the child's bytes pass
    // through unwrapped):
    //  1. sentinel-delimited full line — a parser can grep the
    //     BEGIN/END markers out of any log capture;
    //  2. a compact summary WITHOUT the per-query map (<250 B) as the
    //     LAST stdout line — whatever tail window a capture keeps, the
    //     final line is complete and parseable;
    //  3. BENCH_LOCAL.json above as the durable full-map file copy.
    println("===GRAFT_BENCH_JSON_BEGIN===")
    println(line)
    println("===GRAFT_BENCH_JSON_END===")
    spark.stop()
    // the compact line keeps the driver's {metric,value,unit,queries,sf}
    // schema with a HEADLINE subset of per-query timings (~700 B total,
    // complete inside any 2 kB tail window); the full 153-key map is in
    // the sentinel block above and in BENCH_LOCAL.json
    val headline = Seq(
      "q01_flow_agg", "q05_star_join_flow", "q21_percentile",
      "q39_window_funnel", "q45_rolling_distinct", "d01_exact_dedup",
      "d03_minhash_lsh", "d19_containment_prefix", "t28_bm25_search",
      "t29_bm25_probe_indexed", "a01_knn_brute", "a15_ivf_probe_indexed",
      "m07_cdc_dedup", "m11_payload_entropy", "q56_transition_matrix")
    val resultMap = results.toMap
    val hq = headline.flatMap(k => resultMap.get(k).map(v => s"\"$k\":" + r3(v)))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$hq,"nqueries":${results.size},"nerrors":${errors.size},"sf":"$sfDir","full":"BENCH_LOCAL.json"}""")
    System.out.flush()
    // rc must not read "healthy" when queries errored (r13: 20 erroring
    // queries still exited 0 and downstream tooling trusted the round)
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
