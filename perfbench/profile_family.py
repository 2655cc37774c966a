#!/usr/bin/env python3
"""Per-query profile of a workload's whole query family, from a traced run.

Usage (from the root of a checkout):
  python3 perfbench/profile_family.py --family curate --seed 1 [--docs N --vecs N --events N]

Runs every query of the family (traverse: the graph and algos modules;
curate: all others) through the benchmark runner with tracing on, on the
family's workload inputs (or the sizes given), and prints per query the
median over the traced passes of its build and exec seconds, its jobs, its
task seconds and its gap seconds (query time no job covers), heaviest
first. The workloads' query samples in workloads.json were chosen from
these figures. One run takes minutes; it is a tool for choosing the sample,
not part of a benchmark run.
"""
import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TRAVERSE_MODULES = {"graph", "algos"}
# writes its edge log outside the checkout
EXCLUDED = {"q_edge_log_prune"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--family", required=True, choices=["traverse", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int)
    ap.add_argument("--vecs", type=int)
    ap.add_argument("--events", type=int)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    modules = spec["modules"]
    queries = sorted(q for q, m in modules.items() if q not in EXCLUDED
                     and (m in TRAVERSE_MODULES) == (args.family == "traverse"))
    data_spec = dict(spec["workloads"][args.family]["data"])
    for k in ("docs", "vecs", "events"):
        if getattr(args, k) is not None:
            data_spec[k] = getattr(args, k)

    classpath = run.build(run.spark_jars())
    data = run.dataset(data_spec, args.seed)
    out = os.path.abspath(os.path.join(run.BUILD, "graft", "profile", args.family))
    res = run.run_runner(classpath, data, queries, modules, out, args.seed, 0, 1, 1,
                         time.monotonic() + 3600)
    rows = res["query_layers"]
    cols = ["build_s", "exec_s", "jobs", "build_jobs", "task_s", "gap_s"]
    print(f"{args.family}: {len(queries)} queries, data {data_spec}, "
          f"median traced pass {sorted(res['traced_pass_s'])[len(res['traced_pass_s']) // 2]:.2f} s")
    print(f"{'query':28s} {'module':10s} " + " ".join(f"{c:>10s}" for c in cols))
    for q in sorted(rows, key=lambda q: -(rows[q]["build_s"] + rows[q]["exec_s"])):
        print(f"{q:28s} {modules[q]:10s} " + " ".join(f"{rows[q][c]:10.3f}" for c in cols))
    for q, why in sorted(res["failures"].items()):
        print(f"FAILED {q}: {why}")


if __name__ == "__main__":
    main()
