"""Pure functions of the benchmark: statistics, span self times and the
result digest. They take plain Python values so the self-tests can drive
them without Spark or DuckDB."""
import hashlib
import math

LAYER_DEPTH = {"run": 0, "pass": 1, "query": 2, "build": 3, "execute": 3,
               "job": 4, "stage": 5}


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    m = len(v) // 2
    return v[m] if len(v) % 2 else (v[m - 1] + v[m]) / 2


def tail_percentile(n_min):
    """The highest percentile that still leaves at least ten samples beyond
    it when a run has `n_min` samples; None when `n_min` is too small for
    any (fewer than eleven samples)."""
    if n_min < 11:
        return None
    return (n_min - 10) / n_min


def _rank(p, n):
    # nearest rank, robust to p * n landing a rounding error above an integer
    return min(n, max(1, math.ceil(p * n - 1e-9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least a share p
    of the samples at or below it. p = 1 gives the maximum."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    return v[_rank(p, len(v)) - 1]


def samples_beyond(n, p):
    """How many of n samples lie above the nearest-rank percentile p."""
    return n - _rank(p, n)


def drift(values):
    """Change of a per-pass series across a run: the median of its second
    half minus the median of its first half, as a share of the median of
    all of it. Positive when later passes are slower."""
    if len(values) < 2:
        return 0.0
    h = len(values) // 2
    return (median(values[len(values) - h:]) - median(values[:h])) / median(values)


def children_index(spans):
    """Spans grouped by the id of their parent."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return children


def layer_self_times(children, root):
    """Self time of each layer under the span `root`, in the units of the
    span times.

    Every instant of the root's interval goes to the deepest layer with a
    span open at that instant, so the layer self times add up to the root's
    duration. Where sibling spans overlap (stages running at once), the
    instant counts once for their layer. Child intervals are clipped to
    their parent's. A span is a dict with id, parent, layer, start, end;
    `children` is `children_index` of all spans."""
    # (time, +1/-1, depth) events of every descendant, clipped
    events = []

    def walk(span, lo, hi):
        for c in children.get(span["id"], ()):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if a < b:
                d = LAYER_DEPTH[c["layer"]]
                events.append((a, 1, d, c["layer"]))
                events.append((b, -1, d, c["layer"]))
                walk(c, a, b)

    walk(root, root["start"], root["end"])
    events.sort(key=lambda e: (e[0], e[1]))
    open_count = {}
    self_t = {root["layer"]: 0.0}
    t = root["start"]
    for time, delta, depth, layer in events:
        deepest = max(((d, l) for (d, l), n in open_count.items() if n > 0),
                      default=(LAYER_DEPTH[root["layer"]], root["layer"]))
        self_t[deepest[1]] = self_t.get(deepest[1], 0.0) + (time - t)
        t = time
        open_count[(depth, layer)] = open_count.get((depth, layer), 0) + delta
    self_t[root["layer"]] += root["end"] - t
    return self_t


def canonical_value(v):
    """A result value as text, compared exactly: floats by their shortest
    round-trip form with NaN and signed zero folded, everything else by
    str(), as the repository's output check compares them."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v + 0.0)
    return str(v)


def digest(columns, rows):
    """Digest of a result: columns sorted by name, each value canonical,
    rows sorted so that the digest does not depend on the order the engine
    returned them in. Returns (hex digest, row count)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canonical_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest(), len(lines)


# Metric name -> unit. End-to-end metrics come from untraced passes.
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
    "query_p50_s": "s", "query_tail_s": "s", "task_cpu_s": "s",
    "retained_heap_mb": "MB",
}

# Per-layer metrics, from traced warm passes unless named otherwise. Per
# pass figures are the median over those passes.
PER_LAYER = {
    "mem.peak_rss_mb": "MB",
    "session.create_s": "s", "tables.schema_s": "s",
    "build.s": "s", "build.jobs": "count", "build.share": "ratio",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.rules_s": "s", "plan.graft_rules_s": "s",
    "plan.graft_rules_effective_ratio": "ratio",
    "codegen.compiles": "count", "codegen.compile_s": "s", "codegen.cold_compiles": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_s": "s", "sched.late_tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.mb": "MB", "scan.mb": "MB", "scan.rows": "count",
    "write.jobs": "count", "write.files": "count", "write.rows": "count",
    "write.mb": "MB", "write.commit_s": "s",
    "state.pinned_mb": "MB", "state.persisted_rdds": "count", "state.localdir_mb": "MB",
    "state.temp_views": "count", "state.heap_growth_mb": "MB", "state.pass_drift": "ratio",
    "self.query_s": "s", "self.build_s": "s", "self.execute_s": "s",
    "self.job_s": "s", "self.stage_s": "s",
    "trace.overhead_s": "s", "trace.selftime_gap_s": "s",
}

MB = 1024.0 * 1024.0


def summarize(spans, env, launch_ms, workload, mismatched):
    """Metrics of one run from the harness's spans and environment.

    `launch_ms` is when the JVM was launched (epoch ms); `mismatched` holds
    the queries whose untimed result did not match its golden. A query that
    threw in any pass, or whose result did not match, is left out of the
    latency statistics."""
    children = children_index(spans)
    passes = [s for s in spans if s["layer"] == "pass"]
    cold = next(p for p in passes if p["name"] == "cold")
    check = next(p for p in passes if p["name"] == "check")
    warm = [p for p in passes if p["name"] == "warm"]
    untraced = [p for p in warm if not p["traced"]] or warm
    traced = [p for p in warm if p["traced"]] or warm

    def wall(s):
        return (s["end"] - s["start"]) / 1000

    def queries(p):
        return [q for q in children.get(p["id"], ()) if q["layer"] == "query"]

    def qsum(p, key):
        return sum(q.get(key, 0) for q in queries(p))

    def psum(p, key, layers=("build", "execute")):
        return sum(s.get(key, 0) for q in queries(p) for s in children.get(q["id"], ())
                   if s["layer"] in layers)

    def med(f, ps=traced):
        return median([f(p) for p in ps])

    runs = [q for p in passes for q in queries(p)]
    threw = [q for q in runs if not q.get("ok", False)]
    wrong = [q for q in queries(check) if q.get("ok") and q["name"] in mismatched]
    bad = {q["name"] for q in threw + wrong}
    latencies = [wall(q) for p in untraced for q in queries(p) if q["name"] not in bad]
    n_min = len(workload["queries"]) * workload["min_warm"]
    tail = tail_percentile(n_min) or 1.0

    m = {}
    m["setup_s"] = (min(q["start"] for q in queries(cold)) - launch_ms) / 1000
    m["cold_pass_s"] = wall(cold)
    m["warm_pass_s"] = med(wall, untraced)
    # no latencies only when every query failed; the run reports no figure
    m["query_p50_s"] = median(latencies) if latencies else None
    m["query_tail_s"] = percentile(latencies, tail) if latencies else None
    m["task_cpu_s"] = med(lambda p: psum(p, "cpu_ns"), untraced) / 1e9
    m["retained_heap_mb"] = env["retained_heap_mb"]
    m["mem.peak_rss_mb"] = env["peak_rss_mb"]

    m["session.create_s"] = env["session_create_s"]
    m["tables.schema_s"] = env["tables_schema_s"]
    m["build.s"] = med(lambda p: sum(wall(s) for q in queries(p) for s in children[q["id"]]
                                     if s["layer"] == "build"))
    m["build.jobs"] = med(lambda p: psum(p, "jobs", ("build",)))
    m["build.share"] = med(lambda p: sum(wall(s) for q in queries(p) for s in children[q["id"]]
                                         if s["layer"] == "build") / wall(p))
    m["plan.analysis_s"] = med(lambda p: qsum(p, "analysis_ms")) / 1000
    m["plan.optimization_s"] = med(lambda p: qsum(p, "optimization_ms")) / 1000
    m["plan.planning_s"] = med(lambda p: qsum(p, "planning_ms")) / 1000
    m["plan.rules_s"] = med(lambda p: qsum(p, "rules_ns")) / 1e9
    m["plan.graft_rules_s"] = med(lambda p: qsum(p, "graft_ns")) / 1e9
    runs_g = sum(qsum(p, "graft_runs") for p in traced)
    m["plan.graft_rules_effective_ratio"] = (
        sum(qsum(p, "graft_effective") for p in traced) / runs_g if runs_g else 0.0)
    m["codegen.compiles"] = med(lambda p: qsum(p, "compiles"), warm)
    m["codegen.compile_s"] = med(lambda p: qsum(p, "compile_ns"), warm) / 1e9
    m["codegen.cold_compiles"] = qsum(cold, "compiles")
    m["sched.jobs"] = med(lambda p: psum(p, "jobs"))
    m["sched.stages"] = med(lambda p: psum(p, "stages"))
    m["sched.tasks"] = med(lambda p: psum(p, "tasks"))
    m["sched.delay_s"] = med(lambda p: psum(p, "delay_ms")) / 1000
    m["sched.late_tasks"] = med(lambda p: psum(p, "late_tasks"))
    m["exec.run_s"] = med(lambda p: psum(p, "run_ms")) / 1000
    m["exec.cpu_s"] = med(lambda p: psum(p, "cpu_ns")) / 1e9
    m["exec.gc_s"] = med(lambda p: psum(p, "gc_ms")) / 1000
    m["shuffle.write_mb"] = med(lambda p: psum(p, "shuffle_write_b")) / MB
    m["shuffle.read_mb"] = med(lambda p: psum(p, "shuffle_read_b")) / MB
    m["shuffle.fetch_wait_s"] = med(lambda p: psum(p, "fetch_wait_ms")) / 1000
    m["spill.mb"] = med(lambda p: psum(p, "spill_b")) / MB
    m["scan.mb"] = med(lambda p: psum(p, "scan_b")) / MB
    m["scan.rows"] = med(lambda p: psum(p, "scan_rows"))
    m["write.jobs"] = med(lambda p: qsum(p, "write_cmds"))
    m["write.files"] = med(lambda p: qsum(p, "write_files"))
    m["write.rows"] = med(lambda p: qsum(p, "write_rows"))
    m["write.mb"] = med(lambda p: qsum(p, "write_b")) / MB
    m["write.commit_s"] = med(lambda p: qsum(p, "commit_ms")) / 1000
    last = warm[-1]
    for k in ("pinned_mb", "persisted_rdds", "localdir_mb", "temp_views"):
        m["state." + k] = last.get(k, 0)
    m["state.heap_growth_mb"] = last.get("heap_after_gc_mb", 0) - cold.get("heap_after_gc_mb", 0)
    m["state.pass_drift"] = drift([wall(p) for p in untraced])

    per_query = [(q, layer_self_times(children, q)) for p in traced for q in queries(p)]
    for layer in ("query", "build", "execute", "job", "stage"):
        m[f"self.{layer}_s"] = med(lambda p: sum(
            st.get(layer, 0.0) for q, st in per_query if q["parent"] == p["id"])) / 1000
    m["trace.overhead_s"] = (med(wall) - med(wall, untraced)
                             if any(p["traced"] for p in warm) and any(not p["traced"] for p in warm)
                             else 0.0)
    m["trace.selftime_gap_s"] = max(
        (abs(sum(st.values()) - (q["end"] - q["start"])) for q, st in per_query),
        default=0.0) / 1000

    return {
        "metrics": m,
        "attempted": len(runs),
        "failed": len(threw) + len(wrong),
        "failed_queries": sorted(bad),
        "samples": {"warm_passes": len(untraced), "traced_warm_passes": len(traced),
                    "warm_pass_walls": [wall(p) for p in untraced],
                    "query_latencies": len(latencies), "tail_percentile": tail,
                    "tail_samples_beyond": samples_beyond(len(latencies), tail)
                    if latencies else 0},
    }
