#!/usr/bin/env python3
"""Render the traced-run report: per workload, where the time goes.

    python3 perfbench/run.py --workload cdc_apply --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload cdc_apply --seed 1 --seconds 8 --trace 1
    (the same for table_reads)
    python3 perfbench/report.py --seed 1 --out perfbench/baseline

Reads the untraced and traced result files the two runs leave under
.bench_out/, copies them to --out and writes --out/REPORT.md: self time and
share per layer, the split of driver-thread time by module, Spark stage call
sites by module, the per-op layer counters, and the tracing overhead (traced
minus untraced end-to-end numbers of the same seed).
"""
import argparse
import json
import os
import shutil

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cdc_apply", "table_reads")


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def section(wl, plain, traced):
    host = traced["host"]
    out = [f"## {wl}", ""]
    out.append(f"Host: {host['nproc']} cores (Spark local[{host['spark_cores']}]), "
               f"JDK {host['jdk']}, Spark {host['spark']}, source {host['source']}, "
               f"loadavg {host['loadavg_start']} → {host['loadavg_end']} (traced run).")
    out.append(f"Traced run: {traced['attempted']} ops, {traced['failed']} failed, "
               f"timed wall {traced['wall_s']:.2f} s, tail = {traced['tail_percentile']}.")
    out += ["", "### Tracing overhead (traced − untraced, same seed)", "",
            "| metric | untraced | traced | difference |", "|---|---|---|---|"]
    for k, v in sorted(plain["end_to_end"].items()):
        t = traced["end_to_end"][k]
        rel = f"{(t - v) / v:+.1%}" if v else "n/a"
        out.append(f"| {k} | {fmt(v)} | {fmt(t)} | {rel} |")
    out += ["", "### Self time by layer (span minus child coverage)", "",
            "Stream micro-batches run concurrently, so shares can add up to more than 1. "
            "A micro-batch phase span is `graft.pipeline`; its self time is the driver-side "
            "work inside `foreachBatch` (merge planning, commits, the Delta mirror), which "
            "the driver-thread samples below split by module.", "",
            "| layer | self s | share of timed wall |", "|---|---|---|"]
    for r in traced["self_time_by_layer"]:
        out.append(f"| {r['layer']} | {r['self_s']:.3f} | {r['share_of_wall']:.1%} |")
    out += ["", "### Driver threads by module (stack samples every 10 ms)", "",
            "`busy`: runnable on the driver (planning, commit-log and file I/O); "
            "`wait`: blocked, mostly on Spark jobs the module launched. `perfbench` is the "
            "client thread inside the benchmark's own action (`collect`), waiting on Spark.", "",
            "| module | state | seconds | share of samples |", "|---|---|---|---|"]
    for r in traced["driver_samples"]:
        if r["share_of_samples"] >= 0.001:
            out.append(f"| {r['module']} | {r['state']} | {r['seconds']:.3f} | {r['share_of_samples']:.1%} |")
    out += ["", "### Spark stages by call site and module", "",
            "| module | call site | stages | seconds |", "|---|---|---|---|"]
    for r in traced["stage_call_sites"][:15]:
        out.append(f"| {r['module']} | `{r['call_site']}` | {r['stages']} | {r['seconds']:.3f} |")
    out += ["", "### Layer counters per op", "", "| metric | per op |", "|---|---|"]
    for k, v in sorted(traced["per_layer"].items()):
        if k.endswith(".per_op") and v:
            out.append(f"| {k[:-len('.per_op')]} | {fmt(v)} |")
    out += ["", "| level or ratio | value |", "|---|---|"]
    for k, v in sorted(traced["per_layer"].items()):
        if not k.endswith(".per_op") and "." in k and k + ".per_op" not in traced["per_layer"]:
            out.append(f"| {k} | {fmt(v)} |")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    src = os.path.join(ROOT, ".bench_out")
    os.makedirs(a.out, exist_ok=True)
    lines = ["# Baseline layer breakdown", "",
             "Written by `perfbench/report.py` from one untraced and one traced run per "
             f"workload (seed {a.seed}). End-to-end numbers come from the untraced run; "
             "the traced run gives the layers.", ""]
    for wl in WORKLOADS:
        files = [f"{wl}-seed{a.seed}.json", f"{wl}-seed{a.seed}-trace.json"]
        plain, traced = (json.load(open(os.path.join(src, f))) for f in files)
        for f in files:
            shutil.copy(os.path.join(src, f), os.path.join(a.out, f))
        lines += section(wl, plain, traced) + [""]
    with open(os.path.join(a.out, "REPORT.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
