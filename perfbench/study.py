#!/usr/bin/env python3
"""Layer study: the committed evidence behind the benchmark's design.

    python3 perfbench/study.py [--seed 1] [--out perfbench/results] [--only corr_stats,probe]

Run from the repository root; takes about an hour on 4 cores. For each
of the four workloads (corr_stats, dedup_graph, bulk_scaled, stream_sink)
it makes one untraced and one traced run with enough warm passes for at
least 10 per-query samples beyond p90, and writes results/STUDY.json:
end-to-end metrics from the untraced run, per-layer metrics and layer self
times from the traced run, the shares that show which layer each workload
stresses, and the tracing overhead (traced minus untraced warm pass).

It then makes one traced cold + warm pass over the whole 419-key inventory
and writes results/PROBE.json: job counts, build share, executor
utilisation, the per-key fit wall = a + b * jobs, and the per-key table.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

STUDY_WORKLOADS = ["corr_stats", "dedup_graph", "bulk_scaled", "stream_sink"]


def run(workload, seed, trace, raw_dir, extra=(), heap=None):
    path = os.path.join(raw_dir, f"{workload}-trace{trace}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
           "--no-deadline", "--record", path, *extra]
    env = dict(os.environ, **({"SPARK_DRIVER_MEM": heap} if heap else {}))
    t0 = time.monotonic()
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=env)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed (exit {proc.returncode})")
    print(f"{workload} trace={trace}: {time.monotonic() - t0:.0f} s", file=sys.stderr, flush=True)
    with open(path) as fh:
        return json.load(fh), json.loads(proc.stdout.strip().splitlines()[-1])


def workload_summary(workload, why, seed, raw_dir):
    plain, plain_line = run(workload, seed, 0, raw_dir, ["--tail"])
    traced, _ = run(workload, seed, 1, raw_dir, ["--tail"])
    e2e = {k: v["value"] for k, v in plain["metrics"].items()}
    lay = {k: v["value"] for k, v in traced["metrics"].items()}
    warm = traced["report"]["end_to_end_traced"]["warm_pass_s"]
    overhead = warm - e2e["warm_pass_s"]
    rep = plain["report"]
    return {
        "why": why,
        "keys": rep["keys"], "passes": rep["passes"],
        "query_samples": rep["query_samples"],
        "samples_beyond_p90": rep["samples_beyond_p90"],
        "correct": plain_line["correct"],
        "reported_only": {k: v["value"] for k, v in rep["reported_only"].items()},
        "oracle": rep["oracle"], "staging_s": rep["staging_s"],
        "end_to_end": e2e,
        "per_layer": lay,
        "shares_of_warm_pass": {
            "jobs_per_s": lay["exec.jobs"] / warm,
            "no_job_share": lay["ops.no_job_s"] / warm,
            "build_share": lay["ops.build_share"],
            "core_util": lay["exec.core_util"],
        },
        "layer_self_s_all_passes": traced["report"]["layer_self_s"],
        "tracing_overhead": {"warm_pass_s": overhead,
                             "share": overhead / e2e["warm_pass_s"]},
        "failures": rep["failures"],
    }


def fit(xs, ys):
    """Least-squares a, b of y = a + b * x."""
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return my - b * mx, b


def probe_summary(seed, raw_dir):
    # the whole inventory holds every Memo frame at once, so it gets the
    # larger heap a full Bench run is given on a 15 GB host
    traced, line = run("probe", seed, 1, raw_dir, heap="7g")
    record = traced["record"]
    children = metrics.query_children(record)
    by_pass = traced["record"]["layer_passes"]
    rows = []
    for q, got in zip(record["queries"], children):
        if q["pass"] != 1:
            continue
        rows.append({"key": q["key"], "wall_s": q["wall_s"], "build_s": q["build_s"],
                     "jobs": len(got["jobs"]),
                     "build_jobs": sum(1 for _, ph in got["jobs"] if ph == "build"),
                     "stages": len(got["stages"]),
                     "tasks": sum(s["tasks"] for s in got["stages"]), "ok": q["ok"]})
    ok = [r for r in rows if r["ok"]]
    a, b = fit([r["jobs"] for r in ok], [r["wall_s"] for r in ok])
    warm = by_pass["1"]
    jobs = [r["jobs"] for r in rows]
    return {
        "keys": len(rows), "cpus": record["cpus"],
        "correct": line["correct"], "oracle": traced["report"]["oracle"],
        "oracle_failures": traced["report"]["oracle_failures"],
        "failures": traced["report"]["failures"],
        "cold_total_s": metrics.pass_walls(record)[0],
        "warm_total_s": warm["wall_s"],
        "warm_jobs": int(warm["exec.jobs"]),
        "jobs_per_key_median": statistics.median(jobs), "jobs_per_key_max": max(jobs),
        "warm_build_share": warm["ops.build_share"],
        "warm_no_job_s": warm["ops.no_job_s"],
        "warm_core_util": warm["exec.core_util"],
        "fit_wall_s": {"a": a, "b_per_job": b},
        "roadmap_2026_10_17": {"warm_total_s": 269, "cold_total_s": 342, "jobs": 3280,
                               "jobs_per_key_median": 7, "jobs_per_key_max": 103,
                               "build_share": 0.60, "core_util": 0.20,
                               "fit_wall_s": {"a": 0.33, "b_per_job": 0.040}},
        "top_keys_by_jobs": sorted(rows, key=lambda r: -r["jobs"])[:15],
        "per_key": sorted(rows, key=lambda r: r["key"]),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "results"))
    ap.add_argument("--only", help="comma-separated subset of the study workloads and 'probe'")
    a = ap.parse_args()
    from workloads import WORKLOADS
    raw_dir = os.path.join(os.getcwd(), ".bench_build", "perfbench", "study")
    os.makedirs(raw_dir, exist_ok=True)
    os.makedirs(a.out, exist_ok=True)
    path = os.path.join(a.out, "STUDY.json")
    study = {}
    if os.path.exists(path):
        with open(path) as fh:
            study = json.load(fh)
    for w in (a.only.split(",") if a.only else STUDY_WORKLOADS + ["probe"]):
        if w == "probe":
            probe = probe_summary(a.seed, raw_dir)
            with open(os.path.join(a.out, "PROBE.json"), "w") as fh:
                json.dump(probe, fh, indent=1)
            continue
        study[w] = workload_summary(w, WORKLOADS[w]["why"], a.seed, raw_dir)
        with open(path, "w") as fh:
            json.dump(study, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
