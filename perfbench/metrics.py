"""Pure functions that turn a harness record into metrics.

The harness (harness/src/main/scala/perfbench) only records raw facts:
per-query windows and timings, and, in a traced run, the jobs, stages,
query executions and micro-batches its listeners saw. Everything derived
lives here so it can be unit-tested without a JVM.

Times: `*_ms` fields are epoch milliseconds, `*_s` fields are seconds.
"""
import bisect
import datetime
import math
import statistics

MB = 1048576.0


def unit(name):
    """A metric's unit, read off its name's suffix."""
    for suffix, u in (("_ratio", "ratio"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_share", "ratio"),
                      ("_util", "ratio"), ("_rows", "rows")):
        if name.endswith(suffix):
            return u
    return "count"


# ---------------------------------------------------------------- percentiles

def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of n sorted samples lie strictly beyond the q-quantile."""
    return n - 1 - math.floor(q * (n - 1)) if n else 0


def passes_for_tail(keys_per_pass, q=0.9, beyond=10):
    """Fewest warm passes that put at least `beyond` samples past the
    q-quantile of the per-query times."""
    passes = 1
    while samples_beyond(passes * keys_per_pass, q) < beyond:
        passes += 1
    return passes


# ------------------------------------------------------------------ intervals

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's own time: its length minus the union of its children,
    each clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def attribute(queries, items, time_key="start_ms"):
    """Map each item to the query whose [start_ms, end_ms] window contains
    its start time, and to that query's phase: "build" before the
    DataFrame was returned, "action" after. With one client issuing one
    query at a time the windows do not overlap, so the match is exact.
    Items outside every window (harness work between queries) map to None.
    Returns a list of (query index or None, phase or None)."""
    order = sorted(range(len(queries)), key=lambda i: queries[i]["start_ms"])
    starts = [queries[i]["start_ms"] for i in order]
    out = []
    for it in items:
        t = it[time_key]
        j = bisect.bisect_right(starts, t) - 1
        if j < 0 or t > queries[order[j]]["end_ms"]:
            out.append((None, None))
            continue
        q = queries[order[j]]
        out.append((order[j], "build" if t < q["build_end_ms"] else "action"))
    return out


def core_util(run_s, wall_s, cores):
    """Executor task time over the core time available in the wall span."""
    return run_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


# ------------------------------------------------------------- end to end

# End-to-end metrics printed in the report but not gated in BENCHMARK.json.
REPORTED_ONLY = ("peak_rss_mb", "failed_ratio")


def end_to_end(record, setup_samples):
    """End-to-end metrics of a run: the gated ones (BENCHMARK.json) and
    the reported-only ones (too noisy run to run to gate on, or zero when
    all is well). Pass 0 is the cold pass; a pass's time is the sum of its
    query wall times, so the harness's own untimed output checks between
    queries are not counted."""
    warm = [p["pass"] for p in record["passes"]][1:]
    walls = pass_walls(record)
    samples = [q["wall_s"] for q in record["queries"] if q["pass"] in warm]
    return {
        "setup_s": statistics.median(setup_samples),
        "cold_pass_s": walls[0],
        "warm_pass_s": statistics.median(walls[p] for p in warm),
        "query_p50_s": percentile(samples, 0.5),
        "query_p90_s": percentile(samples, 0.9),
    }, {
        "peak_rss_mb": record["peak_rss_mb"],
        "query_samples": len(samples),
        "samples_beyond_p90": samples_beyond(len(samples), 0.9),
    }


def pass_walls(record):
    walls = {}
    for q in record["queries"]:
        walls[q["pass"]] = walls.get(q["pass"], 0.0) + q["wall_s"]
    return walls


# ---------------------------------------------------------------- per layer

def _iso_ms(ts):
    dt = datetime.datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def query_children(record):
    """For each query of a traced run, the (job, phase) pairs and the
    stages that ran inside its window. The harness's own untimed jobs
    (output checks) and their stages are left out."""
    trace = record["trace"]
    queries = record["queries"]
    untimed_stages = {s for j in trace["jobs"] if j["untimed"] for s in j["stages"]}
    jobs = [j for j in trace["jobs"] if not j["untimed"]]
    stages = [s for s in trace["stages"]
              if s["id"] not in untimed_stages and s["submit_ms"] >= 0]
    job_at = attribute(queries, jobs)
    stage_at = attribute(queries, stages, "submit_ms")

    per_query = [{"jobs": [], "stages": []} for _ in queries]
    for j, (qi, phase) in zip(jobs, job_at):
        if qi is not None:
            per_query[qi]["jobs"].append((j, phase))
    for s, (qi, _) in zip(stages, stage_at):
        if qi is not None:
            per_query[qi]["stages"].append(s)
    return per_query


def layer_passes(record):
    """Per-pass layer metrics of a traced run, plus the span tree."""
    trace = record["trace"]
    cores = record["cpus"]
    queries = record["queries"]
    per_query = query_children(record)
    passes = {p["pass"]: p for p in record["passes"]}
    out = {p: _empty_layers() for p in passes}
    for q, got in zip(queries, per_query):
        m = out[q["pass"]]
        build = (q["start_ms"], q["build_end_ms"])
        build_jobs = [(j["start_ms"], j["end_ms"]) for j, ph in got["jobs"] if ph == "build"]
        m["ops.build_s"] += q["build_s"]
        m["ops.build_jobs"] += len(build_jobs)
        m["ops.no_job_s"] += self_time(build, build_jobs) / 1000.0
        m["exec.action_s"] += q["action_s"]
        m["exec.action_jobs"] += len(got["jobs"]) - len(build_jobs)
        m["exec.jobs"] += len(got["jobs"])
        m["wall_s"] += q["wall_s"]
        for s in got["stages"]:
            m["exec.stages"] += 1
            m["exec.tasks"] += s["tasks"]
            m["exec.run_s"] += s.get("run_ms", 0) / 1000.0
            m["exec.cpu_s"] += s.get("cpu_ns", 0) / 1e9
            m["exec.gc_s"] += s.get("gc_ms", 0) / 1000.0
            m["exec.result_mb"] += s.get("result_bytes", 0) / MB
            m["shuffle.write_mb"] += s.get("shuffle_write_bytes", 0) / MB
            m["shuffle.read_mb"] += s.get("shuffle_read_bytes", 0) / MB
            m["shuffle.fetch_wait_s"] += s.get("fetch_wait_ms", 0) / 1000.0
            m["shuffle.spill_mb"] += s.get("spill_bytes", 0) / MB
            m["sources.input_mb"] += s.get("input_bytes", 0) / MB
            m["sources.input_rows"] += s.get("input_rows", 0)
            m["sources.output_mb"] += s.get("output_bytes", 0) / MB
            m["sources.output_rows"] += s.get("output_rows", 0)

    # Query executions and micro-batches carry no query window of their
    # own; the harness drains the listener bus at the end of every pass,
    # so they belong to the pass whose end they precede.
    ends = sorted((p["end_ms"], n) for n, p in passes.items())
    def pass_of(t):
        for end, n in ends:
            if t <= end:
                return n
        return ends[-1][1]
    for e in trace["executions"]:
        m = out[pass_of(e["seen_ms"])]
        m["plans.executions"] += 1
        m["plans.analysis_ms"] += e["analysis_ms"]
        m["plans.optimization_ms"] += e["optimization_ms"]
        m["plans.planning_ms"] += e["planning_ms"]
    batch_ms = {p: [] for p in passes}
    last_state = {}
    for b in trace["batches"]:
        n = pass_of(_iso_ms(b["timestamp"]))
        m = out[n]
        d = b["duration_ms"]
        m["streaming.batches"] += 1
        m["streaming.addbatch_ms"] += d.get("addBatch", 0)
        m["streaming.planning_ms"] += d.get("queryPlanning", 0)
        m["streaming.walcommit_ms"] += d.get("walCommit", 0)
        m["streaming.state_commit_ms"] += b["state_commit_ms"]
        batch_ms[n].append(d.get("triggerExecution", 0))
        last_state[(n, b["run"])] = b["state_rows"]
    for (n, _), rows in last_state.items():
        out[n]["streaming.state_rows"] += rows
    for n, m in out.items():
        m["streaming.batch_p50_ms"] = statistics.median(batch_ms[n]) if batch_ms[n] else 0.0
        m["plans.codegen_compiles"] = passes[n]["codegen_compiles"]
        m["memo.storage_mb"] = passes[n]["storage_mb"]
        m["ops.build_share"] = m["ops.build_s"] / m["wall_s"] if m["wall_s"] else 0.0
        m["exec.core_util"] = core_util(m["exec.run_s"], m["wall_s"], cores)
    return out, spans(record, per_query)


LAYER_NAMES = [
    "ops.build_s", "ops.build_jobs", "ops.build_share", "ops.no_job_s",
    "exec.action_s", "exec.action_jobs", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.core_util",
    "exec.result_mb", "shuffle.write_mb", "shuffle.read_mb",
    "shuffle.fetch_wait_s", "shuffle.spill_mb", "plans.analysis_ms",
    "plans.optimization_ms", "plans.planning_ms", "plans.executions",
    "plans.codegen_compiles", "sources.input_mb", "sources.input_rows",
    "sources.output_mb", "sources.output_rows", "memo.storage_mb",
    "streaming.batches", "streaming.batch_p50_ms", "streaming.addbatch_ms",
    "streaming.planning_ms", "streaming.walcommit_ms",
    "streaming.state_commit_ms", "streaming.state_rows",
]

# Layers whose cost is paid once per plan are read from the cold pass,
# where codegen and analysis of new plans happen; the rest are medians
# over the warm passes.
COLD_LAYERS = ("plans.",)


def _empty_layers():
    m = {n: 0.0 for n in LAYER_NAMES}
    m["wall_s"] = 0.0
    return m


def per_layer(record):
    """Per-layer metrics of a traced run and its span tree."""
    by_pass, tree = layer_passes(record)
    warm = sorted(by_pass)[1:] or sorted(by_pass)
    out = {}
    for name in LAYER_NAMES:
        if name.startswith(COLD_LAYERS):
            out[name] = by_pass[0][name]
        else:
            out[name] = statistics.median(by_pass[p][name] for p in warm)
    return out, by_pass, tree


def spans(record, per_query):
    """pass -> query -> {build, action} -> job -> stage, each with its self
    time in seconds (span minus the union of its children)."""
    s = lambda a, b: (b - a) / 1000.0
    tree = []
    for p in record["passes"]:
        qs = [(q, got) for q, got in zip(record["queries"], per_query)
              if q["pass"] == p["pass"]]
        pass_span = (p["start_ms"], max([q["end_ms"] for q, _ in qs] or [p["start_ms"]]))
        qnodes = []
        for q, got in qs:
            phases = []
            for name, (a, b) in (("build", (q["start_ms"], q["build_end_ms"])),
                                 ("action", (q["build_end_ms"], q["end_ms"]))):
                jnodes = []
                for j, ph in got["jobs"]:
                    if ph != name:
                        continue
                    st = [x for x in got["stages"] if x["id"] in set(j["stages"])]
                    jnodes.append({"job": j["id"], "s": s(j["start_ms"], j["end_ms"]),
                                   "self_s": self_time((j["start_ms"], j["end_ms"]),
                                                       [(x["submit_ms"], x["end_ms"]) for x in st]) / 1000.0,
                                   "stages": [{"stage": x["id"], "s": s(x["submit_ms"], x["end_ms"]),
                                               "tasks": x["tasks"]} for x in st]})
                phases.append({"phase": name, "s": s(a, b),
                               "self_s": self_time((a, b), [(j["start_ms"], j["end_ms"])
                                                            for j, ph in got["jobs"] if ph == name]) / 1000.0,
                               "jobs": jnodes})
            qnodes.append({"key": q["key"], "s": q["wall_s"],
                           "self_s": self_time((q["start_ms"], q["end_ms"]),
                                               [(q["start_ms"], q["build_end_ms"]),
                                                (q["build_end_ms"], q["end_ms"])]) / 1000.0,
                           "phases": phases})
        tree.append({"pass": p["pass"], "s": s(*pass_span),
                     "self_s": self_time(pass_span, [(q["start_ms"], q["end_ms"]) for q, _ in qs]) / 1000.0,
                     "queries": qnodes})
    return tree


def layer_self_times(tree):
    """Seconds of self time per span level, summed over the tree."""
    tot = {"pass": 0.0, "query": 0.0, "build": 0.0, "action": 0.0, "job": 0.0, "stage": 0.0}
    for p in tree:
        tot["pass"] += p["self_s"]
        for q in p["queries"]:
            tot["query"] += q["self_s"]
            for ph in q["phases"]:
                tot[ph["phase"]] += ph["self_s"]
                for j in ph["jobs"]:
                    tot["job"] += j["self_s"]
                    tot["stage"] += sum(x["s"] for x in j["stages"])
    return tot
