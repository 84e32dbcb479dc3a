#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one closed-loop run, one JSON line.

    python3 perfbench/run.py --workload traffic|corpus|retrieval \\
        --seed 42 --seconds 21 --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. Inputs are generated from the seed
into .bench_build/data/ and reused for the same seed.

The JVM (perfbench/src) creates one graft.GraftSession, sets up, drives the
workload from a single thread for --seconds and writes its raw record. This
script checks the outputs, derives the metrics and prints them, one per line
with its unit, followed by the result object as the last line. --trace 0
reports the end-to-end metrics; --trace 1 runs traced and untraced passes
alternately and reports the per-layer metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

RUN_LIMIT_S = 170          # the whole run, build excepted
BUILD_LIMIT_S = 800
HEAP = "2g"
STEAL_LIMIT = 0.05         # a run with more CPU steal than this is marked noisy

# JDK 17 module openings Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs).
OPENS = [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                     "java.net", "java.nio", "java.util", "java.util.concurrent",
                     "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                     "sun.security.action", "sun.util.calendar")
         for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# Traffic is bound by its client thread: planning and scheduling 14 small
# queries. Under the default tiered JIT, C2 goes on compiling Spark's planner
# for several passes after set-up, about one extra core, so a pass's wall
# time followed the host's spare CPU: three busy neighbour processes slowed
# it by 67 %. With C1 alone the code is compiled during set-up and the same
# neighbours slowed a pass by 2 %. Retrieval's kernels and writes keep C2.
JIT = {"traffic": ["-XX:TieredStopAtLevel=1"]}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_gmean_s", "s"), ("pass_cpu_s", "s"),
              ("peak_heap_mb", "MB")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dp, _, fn in os.walk(base):
            files += [os.path.join(dp, f) for f in fn]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt unless the sources are unchanged;
    return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"no engine sources under {ROOT} (build.sbt, src/main)")
    stamp = source_digest()
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    # the build resolves only from the local caches, never the network
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "-Xmx2g") + " -Dsbt.offline=true -Dsbt.override.build.repos=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += f" -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [x for x in r.stdout.splitlines() if x.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        fail("build failed:\n" + "\n".join((r.stdout + r.stderr).splitlines()[-40:]))
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# Input sizes. All three are bound by per-stage and per-query overhead at
# these sizes (see README.md); the retrieval batches are drawn so a run
# never runs out of them.
TRAFFIC_SF = 0.01
CORPUS_SF = 0.01
RETRIEVAL = dict(n_doc=5000, n_emb=2000, n_probe=8, n_append=40, probe_docs=50, append_rows=50)


def inputs(workload, seed):
    import gen
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read() + repr((TRAFFIC_SF, CORPUS_SF, RETRIEVAL)).encode())
    d = os.path.join(WORK, "data", f"{workload}-{seed}-{version.hexdigest()[:12]}")
    if os.path.isfile(os.path.join(d, ".done")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "traffic":
        gen.star_tables(tmp, TRAFFIC_SF, seed)
    elif workload == "corpus":
        gen.corpus_tables(tmp, CORPUS_SF, seed)
    else:
        gen.retrieval_tables(tmp, seed=seed, **RETRIEVAL)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def run_jvm(cp, args, data, out, deadline):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *JIT.get(args.workload, []), *OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--data", data, "--out", out,
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--seed", str(args.seed)]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s; log in {out}/jvm.log")
    record = os.path.join(out, "run.json")
    if rc != 0 or not os.path.isfile(record):
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read().splitlines()[-30:]
        fail(f"JVM exited with {rc}:\n" + "\n".join(tail))
    with open(record) as f:
        return json.load(f)


def query_failures(rec, data, out):
    """Query name -> why its output is wrong, for the traffic and corpus
    workloads: DuckDB oracle compare, or for a query without an oracle,
    rows > 0 and the same digest from two runs of it."""
    import duckdb
    from oracle import compare, digest
    info = rec["info"]
    bad = {q: f"threw: {e}" for q, e in {**info["first_errors"], **info.get("second_errors", {})}.items()}
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
    for q, sql in sorted(info["oracle_sql"].items()):
        if q not in bad:
            msg = compare(con, os.path.join(out, "check", "first", q), sql)
            if msg:
                bad[q] = msg
    for q in info["digest_queries"]:
        if q not in bad:
            (n1, d1), (n2, d2) = (digest(con, os.path.join(out, "check", s, q))
                                  for s in ("first", "second"))
            if n1 == 0:
                bad[q] = "no rows"
            elif d1 != d2:
                bad[q] = f"digest differs between runs ({n1} vs {n2} rows)"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["traffic", "corpus", "retrieval"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    t_gen = time.time()
    data = inputs(args.workload, args.seed)
    gen_s = time.time() - t_gen
    out = os.path.join(WORK, "out", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rec = run_jvm(cp, args, data, out, deadline)

    t_check = time.time()
    if args.workload == "retrieval":
        bad = rec["info"]["twin_mismatches"]
    else:
        bad = query_failures(rec, data, out)
    check_s = time.time() - t_check

    ops = rec["ops"]
    failed = sum(1 for o in ops if o["error"] or o["name"] in bad)
    untraced = [o for o in ops if not o["traced"]]
    calls = [o["seconds"] for o in untraced if o["kind"] != "append"]
    appends = [o["seconds"] for o in untraced if o["kind"] == "append"]
    passes = [p["seconds"] for p in rec["passes"] if not p["traced"]]
    pass_cpu = [p["cpu_seconds"] for p in rec["passes"] if not p["traced"]]

    if args.trace:
        traced = [p["seconds"] for p in rec["passes"] if p["traced"]]
        layers = dict(rec["layers"])
        layers["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(passes)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        values = {"setup_s": rec["setup_s"], "pass_s": statistics.median(passes),
                  "op_gmean_s": statistics.geometric_mean(calls),
                  "pass_cpu_s": statistics.median(pass_cpu),
                  "peak_heap_mb": rec["peak_heap_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}

    host = rec["host"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: nproc {rec['nproc']}, "
          f"Spark {rec['spark_version']}")
    print(f"host: loadavg {host['loadavg_start']} -> {host['loadavg_end']}, "
          f"steal {100 * host['steal_share']:.2f} %, GC {host['gc_s']:.3f} s"
          + (" [NOISY: steal above 5 %]" if host["steal_share"] > STEAL_LIMIT else ""))
    # the issue's names for the per-workload figures; a run has too few
    # calls for a tail with ten samples beyond it, so the tail is the p90
    kind = "probe" if args.workload == "retrieval" else "query"
    p90 = statistics.quantiles(calls, n=10, method="inclusive")[-1] if len(calls) > 1 else calls[0]
    print(f"info: input generation {gen_s:.2f} s, output checks {check_s:.2f} s, "
          f"set-up CPU {rec['setup_cpu_s']:.2f} s, {len(passes)} untraced passes")
    print(f"info: {kind}_p50_s {statistics.median(calls):.4f} s, {kind}_tail_s {p90:.4f} s "
          f"(p90 of {len(calls)} calls, {sum(c > p90 for c in calls)} beyond it)")
    if args.workload == "retrieval":
        info = rec["info"]
        print(f"info: index_build_s {info['index_build_s']:.4f} s, append_p50_s "
              f"{statistics.median(appends) if appends else float('nan'):.4f} s, "
              f"appends {info['appends']}, compactions {info['compactions']}")
        print("info: storage " + json.dumps(info["storage"]))
    print(f"error_rate {failed / max(1, len(ops)):.4f} ({failed} of {len(ops)} operations)")
    for name, why in sorted(bad.items()):
        print(f"FAILED {name}: {why}")
    for o in ops:
        if o["error"]:
            print(f"FAILED {o['name']} (pass {o['pass']}): {o['error']}")
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and not bad, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ns"):
        return "ns"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("ratio", "overlap", "per_input_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
