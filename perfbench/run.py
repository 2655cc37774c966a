#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload traverse --seed 1 --seconds 10 --trace 0

The run compiles graft and the benchmark runner from source with the Scala
compiler that ships in the Spark distribution (`$SPARK_HOME/jars`, or the
jars of the installed pyspark), generates the workload's input tables from
the seed, and starts one JVM at local[n], n = the number of cores. That JVM
(perfbench/scala/Runner.scala) writes each query's full result once for the
oracle check, sets up several times, then runs measured passes until
--seconds have passed. This script checks every result against DuckDB
running `SparkEntry.oracleSql` over the same tables, and prints the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) as the
last line of its output. Everything it writes goes under .bench_build/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = ".bench_build"
DEADLINE_S = 170  # the whole run, build excluded
HEAP = "2g"
SETUPS = 3
MIN_LATENCY_SAMPLES = 18
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def compile_tree(jars, srcs, classpath, out, depends=""):
    """Compiles `srcs` into `out` unless `out` already holds this exact
    source, built against the same classpath and dependency stamp."""
    h = hashlib.sha256(depends.encode())
    for p in sorted(srcs):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(classpath.encode())
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return h.hexdigest()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out] + sorted(srcs)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return h.hexdigest()


def build(jars):
    srcs = glob.glob("src/main/scala/**/*.scala", recursive=True)
    if not srcs:
        fail("no program sources under src/main/scala; run from the root of a graft checkout")
    prog = os.path.join(BUILD, "graft", "program")
    bench = os.path.join(BUILD, "graft", "bench")
    jar_cp = os.path.join(jars, "*")
    stamp = compile_tree(jars, srcs, jar_cp, prog)
    compile_tree(jars, glob.glob(os.path.join(HERE, "scala", "*.scala")),
                 os.pathsep.join([jar_cp, prog]), bench, depends=stamp)
    return os.pathsep.join([bench, prog, jar_cp])


def dataset(spec, seed):
    """The workload's input directory for this seed, generated on first use."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    base = os.path.join(BUILD, "graft", "data", f"sf{spec['sf']}-d{spec['docs']}-v{spec['vecs']}"
                        f"-e{spec['events']}-s{seed}-{version}")
    if not os.path.exists(os.path.join(base, ".done")):
        shutil.rmtree(base, ignore_errors=True)
        gen.generate(base, spec["sf"], seed, spec["docs"], spec["vecs"], spec["events"])
        open(os.path.join(base, ".done"), "w").close()
    return base


def runner_cmd(classpath, tmpdir, args):
    """The JVM command line of the benchmark runner with `args`."""
    # a fixed-size heap: no resizing between passes to move GC timing; no
    # perf-data file, which the JVM would write outside the checkout
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
             f"-Djava.io.tmpdir={tmpdir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "org.apache.spark.graftbench.Runner"] + args)


def run_runner(classpath, data, queries, modules, out, seed, seconds, trace, min_passes,
               deadline):
    """Runs the benchmark runner on `queries` and returns its result.json."""
    local = os.path.abspath(os.path.join(BUILD, "graft", "tmp", str(os.getpid())))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(local, exist_ok=True)
    cmd = runner_cmd(classpath, local, [
        "--dir", os.path.abspath(data),
        "--queries", ",".join(f"{q}:{modules[q]}" for q in queries),
        "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--setups", str(SETUPS),
        "--min-passes", str(min_passes), "--cores", str(os.cpu_count() or 1),
        "--local-dir", local, "--out", out])
    log_path = out + ".log"
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"runner timed out; log in {log_path}")
    shutil.rmtree(local, ignore_errors=True)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"runner exited with {rc}:\n{tail}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def quantile(xs, q):
    """Nearest-rank quantile; +inf samples (failed queries) sort last."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; have {sorted(spec['workloads'])}")
    workload = spec["workloads"][args.workload]
    queries = workload["queries"]

    jars = spark_jars()
    classpath = build(jars)
    t0 = time.monotonic()
    data = dataset(workload["data"], args.seed)
    out = os.path.abspath(os.path.join(BUILD, "graft", "out", args.workload))
    # enough measured passes for the latency percentiles
    min_passes = max(3, math.ceil(MIN_LATENCY_SAMPLES / len(queries)))
    res = run_runner(classpath, data, queries, spec["modules"], out, args.seed, args.seconds,
                     args.trace, min_passes, t0 + DEADLINE_S)

    mismatches = oracle.check(data, os.path.join(out, "check"), queries, spec["rows_only"])
    failed_queries = sorted(set(res["failures"]) | set(mismatches))
    for q in failed_queries:
        print(f"FAILED {q}: {res['failures'].get(q) or mismatches[q]}")
    invariants = res["reset_violations"] == 0
    if not invariants:
        print(f"FAILED pass reset: {res['reset_violations']} resets left state behind")
    if args.trace == 1:
        # the blocking path's self times must add up to the pass's own
        # monotonic-clock wall time
        for residual, wall in zip(res["traced_residual_s"], res["traced_pass_s"]):
            if residual > max(0.05, 0.02 * wall):
                invariants = False
                print(f"FAILED trace: blocking-path self times miss the pass wall by {residual:.3f} s")
    attempted = res["attempted"] + len(queries)  # measured passes + the check pass
    failed = res["failed_runs"] + len(mismatches)
    correct = not failed_queries and invariants

    if args.trace == 0:
        lat = res["latency_s"]
        failed_frac = len(failed_queries) / len(queries)
        m = {
            "setup_s": (statistics.median(res["setup_s"]), "s"),
            "pass_s": (statistics.median(res["pass_s"]), "s"),
            # with an even count (curate's 18), the mean of the two middle
            # samples: the middle then falls between two queries' samples,
            # where one order statistic alone jumps between them
            "latency_p50_s": (statistics.median(lat), "s"),
            # 4 of curate's 18 samples and 5 of traverse's 21 lie beyond it
            "latency_p75_s": (quantile(lat, 0.75), "s"),
            "peak_heap_mb": (res["peak_heap_mb"], "MB"),
            "ok_frac": (1.0 - failed_frac, "frac"),
        }
        print(f"{args.workload} seed={args.seed}: " + ", ".join(
            f"{k}={v:.4g} {u}" for k, (v, u) in m.items())
            + f", failed_frac={failed_frac:.4g} frac; {len(res['pass_s'])} passes, {len(lat)} latency samples")
    else:
        units = spec["layer_units"]
        m = {k: (res["layers"][k], u) for k, u in units.items()}
        print(f"{args.workload} seed={args.seed}: traced {len(res['traced_pass_s'])} passes, "
              f"untraced {len(res['pass_s'])}; tracing overhead {res['layers']['trace.overhead_s']:.3f} s; "
              f"spans in {os.path.join(out, 'spans.json')}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
