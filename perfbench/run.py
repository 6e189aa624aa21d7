#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corr_stats --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the harness (the
library's sources plus perfbench/harness) with sbt into .bench_build/;
later runs reuse that build until a source file changes.

One run:
  1. stages the workload's input (the vendored sf0.1 tables, or the seeded
     blow-up for bulk_scaled; staging time is reported apart from setup_s);
  2. starts SETUP_PROBES set-up-only JVMs beside the measuring JVM and
     reports the median process-start-to-session-ready time of all of them;
  3. in the measuring JVM runs a cold pass and then warm passes over the
     workload's keys in a seeded order: at least the workload's warm-pass
     count, and until --seconds of warm query time; with --trace 1 the session carries the benchmark's
     listeners, the per-layer metrics are reported instead, and the span
     tree with each layer's self time is written to
     .bench_build/perfbench/spans.json;
  4. checks the outputs: the oracle keys' results (dumped from the last
     pass) with tools/check.py, every key's row count (and order-free
     hash for keys without an oracle) for equality across passes, and the
     session conf against the engine definition in Bench.scala.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. The line before it is a fuller report (sample counts, staging
time, failures, conf check). Exits non-zero without a result line when the
program or its build is missing.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import metrics  # noqa: E402
from workloads import BULK_K, WORKLOADS  # noqa: E402

SETUP_PROBES = 1
DEADLINE_S = 175
MAIN_CLASS = "org.apache.spark.perfbench.Harness"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Conf keys Spark itself fills in for every session (ids, hosts, the
# executor JVM flags and the s3a read defaults); they say nothing about
# the engine definition.
RUNTIME_CONF = re.compile(r"^spark\.(app\.|driver\.|executor\.id$|submit\.|"
                          r"sql\.warehouse\.dir$|master$|jars$|repl\.|"
                          r"executor\.extraJavaOptions$|hadoop\.fs\.s3a\.)")


class Fatal(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- build

def source_files(root):
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def build(root, out):
    """sbt-compile the harness once per source fingerprint; return its
    runtime classpath."""
    scala = os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not os.path.isfile(scala):
        raise Fatal(f"program sources not found under {os.path.join(root, 'src')}")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    cp_file = os.path.join(out, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log("building the harness with sbt (first run in this checkout)")
    t0 = time.monotonic()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if ".bench_build" in l and ":" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise Fatal(f"harness build failed (exit {proc.returncode})")
    cp = lines[-1].strip()
    for f in os.listdir(out):
        if f.startswith("classpath-"):
            os.remove(os.path.join(out, f))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    log(f"build done in {time.monotonic() - t0:.1f} s")
    return cp


# ------------------------------------------------------------------- JVM

def java(cp, out, args):
    """Start the harness JVM; returns the process."""
    tmp = os.path.join(out, "tmp")
    work = os.path.join(out, "work")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, MAIN_CLASS] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
    with open(os.path.join(out, "jvm.log"), "ab") as logf:  # emptied per run by main()
        return subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=logf)


def wait(procs, out, deadline):
    """Wait for every process; on a timeout or a failure stop them all."""
    try:
        for p in procs:
            code = p.wait(timeout=max(deadline - time.monotonic(), 1))
            if code != 0:
                with open(os.path.join(out, "jvm.log"), "rb") as fh:
                    fh.seek(max(0, os.path.getsize(fh.name) - 3000))
                    sys.stderr.write(fh.read().decode(errors="replace"))
                raise Fatal(f"harness JVM exited with {code}")
    except subprocess.TimeoutExpired:
        raise Fatal("harness JVM exceeded the run's time limit")
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()


def read_json(path):
    with open(path) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- checks

def config_pairs(scala_src):
    """The .config(key, value) pairs of a Scala session builder; a value
    that is a variable, not a string literal, maps to None."""
    pairs = re.findall(r'\.config\(\s*"([^"]+)"\s*,\s*("([^"]*)"|\w+)\s*\)', scala_src)
    return {k: (lit if quoted.startswith('"') else None) for k, quoted, lit in pairs}


def bench_conf(root):
    """The .config(...) pairs of Bench.scala's session block."""
    with open(os.path.join(root, "src", "main", "scala", "graft", "Bench.scala")) as fh:
        return config_pairs(fh.read())


def check_conf(root, conf, cpus):
    """Differences between the run's session conf and Bench's block."""
    want = bench_conf(root)
    problems = []
    for k, v in want.items():
        expect = str(cpus) if v is None else v
        if conf.get(k) != expect:
            problems.append(f"{k}: bench={expect!r} run={conf.get(k)!r}")
    if conf.get("spark.master") != f"local[{cpus}]":
        problems.append(f"spark.master: run={conf.get('spark.master')!r}")
    extra = sorted(k for k in conf if k not in want and not RUNTIME_CONF.match(k))
    expected_extra = {"spark.ui.enabled", "spark.sql.session.timeZone"}
    problems += [f"{k}: set only in the benchmark" for k in extra if k not in expected_extra]
    return problems


def oracle_check(root, data, dump, deadline):
    """Run tools/check.py on the dumped outputs; return failing keys."""
    timeout = None if deadline == float("inf") else max(deadline - time.monotonic(), 1)
    try:
        proc = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data, dump],
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=timeout)
    except subprocess.TimeoutExpired:
        raise Fatal("tools/check.py exceeded the run's time limit")
    bad = re.findall(r"^FAIL (\S+?):", proc.stdout, re.M)
    if proc.returncode != 0 and not bad:
        raise Fatal("tools/check.py failed: " + proc.stdout[-2000:])
    summary = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    return bad, summary


def output_checks(record):
    """Keys whose row count or order-free hash differs between passes, or
    that returned no rows while they have no oracle."""
    seen, bad = {}, set()
    oracle = set(record["oracle_keys"])
    for q in record["queries"]:
        if not q["ok"]:
            continue
        sig = (q["rows"], q.get("hash"))
        if q["key"] not in oracle and q["rows"] <= 0:
            bad.add(q["key"])
        if seen.setdefault(q["key"], sig) != sig:
            bad.add(q["key"])
    return bad


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tail", action="store_true",
                    help="run enough warm passes for >= 10 samples beyond p90")
    ap.add_argument("--no-deadline", action="store_true",
                    help="lift the per-run time limit (long study runs)")
    ap.add_argument("--record", help="also write the full run record to this file")
    a = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()

    if a.workload == "probe":  # the whole inventory, cold + one warm pass
        keys, data_kind, warm = ["all"], "sf0.1", 1
    elif a.workload in WORKLOADS:
        w = WORKLOADS[a.workload]
        keys, data_kind, warm = w["keys"], w["data"], w["warm"]
    else:
        raise Fatal(f"unknown workload {a.workload!r}; known: {', '.join(WORKLOADS)}, probe")
    if not os.path.isdir(inputs.SF01):
        raise Fatal(f"benchmark input {inputs.SF01} is missing")

    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)

    staging_s = 0.0
    data = inputs.SF01
    if data_kind == "bulk":
        data, staging_s = inputs.stage_bulk(os.path.join(out, "data"), a.seed, BULK_K)
    cpus = len(os.sched_getaffinity(0))
    deadline = float("inf") if a.no_deadline else t_start + DEADLINE_S

    # The set-up probes start together with the measuring JVM, which holds
    # its first pass until they are done: every run gets SETUP_PROBES + 1
    # set-up samples for the price of one.
    min_warm = metrics.passes_for_tail(len(keys)) if a.tail else warm
    dump = os.path.join(out, "dump")
    hold = os.path.join(out, "hold")
    rec_path = os.path.join(out, "record.json")
    for stale in (dump, hold, os.path.join(out, "tmp")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(dump)
    open(os.path.join(out, "jvm.log"), "w").close()
    probe_outs = [os.path.join(out, f"setup-{i}.json") for i in range(SETUP_PROBES)]
    probes = [java(cp, out, ["--setup-only", "--data", data, "--cpus", str(cpus), "--out", f])
              for f in probe_outs]
    main_jvm = java(cp, out, [
        "--keys", ",".join(keys), "--data", data, "--seed", str(a.seed),
        "--min-warm", str(min_warm), "--warm-seconds", str(a.seconds),
        "--trace", str(a.trace), "--dump", dump, "--cpus", str(cpus),
        "--hold", hold, "--out", rec_path])
    try:
        wait(probes, out, deadline)
        os.makedirs(hold)
        wait([main_jvm], out, deadline)
    finally:
        if main_jvm.poll() is None:
            main_jvm.kill()
            main_jvm.wait()
    record = read_json(rec_path)
    setup = [read_json(f)["setup_s"] for f in probe_outs] + [record["setup_s"]]

    oracle_bad, oracle_summary = oracle_check(root, data, dump, deadline)
    unstable = output_checks(record)
    conf_problems = check_conf(root, record["conf"], cpus)
    dump_failed = {f["key"] for f in record["dump_failures"]}
    wrong = set(oracle_bad) | unstable | dump_failed
    attempted = len(record["queries"])
    failed = sum(1 for q in record["queries"] if not q["ok"] or q["key"] in wrong)

    e2e, extra = metrics.end_to_end(record, setup)
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cpus,
        "keys": len(record["keys"]), "passes": len(record["passes"]),
        "staging_s": staging_s, "setup_samples_s": setup,
        "query_samples": extra["query_samples"],
        "samples_beyond_p90": extra["samples_beyond_p90"],
        "reported_only": {k: {"value": v, "unit": metrics.unit(k)} for k, v in
                          (("peak_rss_mb", extra["peak_rss_mb"]),
                           ("failed_ratio", failed / attempted))},
        "oracle": oracle_summary, "oracle_failures": sorted(oracle_bad),
        "unstable_outputs": sorted(unstable),
        "failures": record["failures"] + record["dump_failures"],
        "conf_mismatches": conf_problems,
        "conf": {k: v for k, v in sorted(record["conf"].items()) if not RUNTIME_CONF.match(k)},
    }
    if a.trace:
        layers, by_pass, tree = metrics.per_layer(record)
        report["end_to_end_traced"] = e2e
        report["layer_self_s"] = metrics.layer_self_times(tree)
        shown = {k: {"value": v, "unit": metrics.unit(k)} for k, v in layers.items()}
        full = dict(record, layer_passes=by_pass, spans=tree)
        with open(os.path.join(out, "spans.json"), "w") as fh:
            json.dump({"layer_self_s": report["layer_self_s"], "spans": tree}, fh)
    else:
        shown = {k: {"value": v, "unit": metrics.unit(k)} for k, v in e2e.items()}
        full = record
    if a.record:
        with open(a.record, "w") as fh:
            json.dump({"report": report, "metrics": shown, "record": full}, fh)
    for p in conf_problems:
        log(f"conf differs from Bench.scala: {p}")
    for f in record["failures"] + record["dump_failures"]:
        log(f"query failed: {f['key']} pass {f['pass']}: {f['class']}: {f['message'][:200]}")
    for k in sorted(wrong):
        log(f"wrong output: {k}")
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0 and not conf_problems, "attempted": attempted,
                      "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    try:
        main()
    except Fatal as e:
        log(f"error: {e}")
        sys.exit(2)
