"""Arithmetic of the benchmark: percentiles, attribution of listener
events to spans, layer self times, and the two metric sets.

Everything here works on the raw record the JVM side writes (op timings,
spans and listener events); it has no Spark dependency so the self-tests
in test_stats.py run in plain Python.
"""

import bisect
import math
import statistics

MB = 1e6

# name -> unit, in output order
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "pipeline.ingest_s": "s", "pipeline.jobs": "count", "pipeline.task_s": "s",
    "pipeline.written_mb": "MB", "pipeline.rows_loaded": "count",
    "models.dbt_run_s": "s", "models.jobs": "count", "models.task_s": "s",
    "models.written_mb": "MB", "models.shuffle_mb": "MB",
    "quality.tests_s": "s", "quality.jobs": "count", "quality.task_s": "s",
    "quality.read_mb": "MB",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.plan_s": "s",
    "operators.call_s": "s", "operators.jobs": "count", "operators.task_s": "s",
    "operators.cached_mb_peak": "MB",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.utilization": "ratio",
    "driver.no_task_s": "s",
    "storage.pins_after_op": "count", "storage.pins_peak": "count",
    "bench.other_s": "s", "bench.trace_overhead_pct": "%",
}

# per-layer metric -> (span name, per-span counter); see layer_counters
SPAN_METRICS = {
    "pipeline.ingest_s": ("pipeline", "wall_s"),
    "pipeline.jobs": ("pipeline", "jobs"),
    "pipeline.task_s": ("pipeline", "task_s"),
    "pipeline.written_mb": ("pipeline", "written_mb"),
    "models.dbt_run_s": ("models", "wall_s"),
    "models.jobs": ("models", "jobs"),
    "models.task_s": ("models", "task_s"),
    "models.written_mb": ("models", "written_mb"),
    "models.shuffle_mb": ("models", "shuffle_write_mb"),
    "quality.tests_s": ("quality", "wall_s"),
    "quality.jobs": ("quality", "jobs"),
    "quality.task_s": ("quality", "task_s"),
    "quality.read_mb": ("quality", "read_mb"),
    "queries.build_s": ("queries", "wall_s"),
    "queries.build_jobs": ("queries", "jobs"),
    "catalyst.plan_s": ("catalyst", "wall_s"),
    "operators.call_s": ("operators", "wall_s"),
    "operators.jobs": ("operators", "jobs"),
    "operators.task_s": ("operators", "task_s"),
    "exec.run_s": ("exec", "wall_s"),
    "exec.jobs": ("exec", "jobs"),
    "exec.stages": ("exec", "stages"),
    "exec.tasks": ("exec", "tasks"),
    "exec.task_s": ("exec", "task_s"),
    "exec.shuffle_read_mb": ("exec", "shuffle_read_mb"),
    "exec.shuffle_write_mb": ("exec", "shuffle_write_mb"),
    "exec.spill_mb": ("exec", "spill_mb"),
}

# task record columns, as the JVM side writes them
T_LAUNCH, T_FINISH, T_RUN_MS, T_IN, T_OUT, T_SH_READ, T_SH_WRITE, T_SPILL = range(8)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it (p = 100 is the maximum)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n, beyond=10):
    """The highest whole percentile that leaves at least `beyond` of `n`
    samples above it; 100 (the maximum) when n is too small for any."""
    best = None
    for p in range(50, 100):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            best = p
    return 100 if best is None else best


def median(values):
    return statistics.median(values)


class SpanIndex:
    """Finds the innermost span that contains a point in time. Spans are
    (id, name, parent, op, start_ms, end_ms); roots are the op spans,
    which never overlap because one client thread runs the ops."""

    def __init__(self, spans):
        self.roots = sorted((s for s in spans if s[2] == -1), key=lambda s: s[4])
        self.starts = [s[4] for s in self.roots]
        self.children = {}
        for s in spans:
            self.children.setdefault(s[2], []).append(s)

    def find(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        if i < 0 or t > self.roots[i][5]:
            return None
        span = self.roots[i]
        while True:
            inner = [c for c in self.children.get(span[0], []) if c[4] <= t <= c[5]]
            if not inner:
                return span
            span = inner[0]


def self_time_ms(span, children):
    """Span duration minus the part its direct children cover."""
    covered = union_length([(max(c[4], span[4]), min(c[5], span[5])) for c in children])
    return (span[5] - span[4]) - covered


def union_length(intervals):
    total = 0.0
    end = -math.inf
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_counters(record):
    """Per-span counters from the listener events, each event assigned
    to the innermost span open at its time: jobs and stages by
    submission, tasks by launch, cached-block samples by receipt."""
    index = SpanIndex(record["spans"])
    counters = {s[0]: {"wall_s": (s[5] - s[4]) / 1000.0, "jobs": 0, "stages": 0,
                       "tasks": 0, "task_s": 0.0, "read_mb": 0.0, "written_mb": 0.0,
                       "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
                       "spill_mb": 0.0, "cached_mb_peak": 0.0}
                for s in record["spans"]}

    def at(t):
        s = index.find(t)
        return None if s is None else counters[s[0]]

    for _, submit, _ in record["jobs"]:
        c = at(submit)
        if c is not None:
            c["jobs"] += 1
    for _, submit, _, _ in record["stages"]:
        c = at(submit)
        if c is not None:
            c["stages"] += 1
    for t in record["tasks"]:
        c = at(t[T_LAUNCH])
        if c is not None:
            c["tasks"] += 1
            c["task_s"] += t[T_RUN_MS] / 1000.0
            c["read_mb"] += t[T_IN] / MB
            c["written_mb"] += t[T_OUT] / MB
            c["shuffle_read_mb"] += t[T_SH_READ] / MB
            c["shuffle_write_mb"] += t[T_SH_WRITE] / MB
            c["spill_mb"] += t[T_SPILL] / MB
    for t, total in record["blocks"]:
        c = at(t)
        if c is not None:
            c["cached_mb_peak"] = max(c["cached_mb_peak"], total / MB)
    return index, counters


def op_seconds(ops):
    return [(o["end_ms"] - o["start_ms"]) / 1000.0 for o in ops]


def ops_per_s(ops):
    secs = sum(op_seconds(ops))
    return len(ops) / secs if secs > 0 else 0.0


def end_to_end(record, setup_s, tail_p):
    ops = record["ops"]
    lat = op_seconds(ops)
    failed = sum(1 for o in ops if o["error"] is not None)
    return {
        "setup_s": setup_s,
        "ops_per_s": ops_per_s(ops),
        "latency_p50_s": median(lat),
        "latency_tail_s": percentile(lat, tail_p),
        "success_rate": 1.0 - failed / len(ops),
        "peak_rss_mb": record["peak_rss_mb"],
    }


def per_layer(record, cpus):
    """Per-layer metrics over the traced ops: means per traced op, except
    utilization (a ratio of sums) and pins_peak (a maximum). A layer the
    workload does not exercise reads 0."""
    traced = [o for o in record["ops"] if o["traced"]]
    untraced = [o for o in record["ops"] if not o["traced"]]
    index, counters = layer_counters(record)
    n = max(len(traced), 1)
    out = {m: 0.0 for m in PER_LAYER}
    for metric, (name, counter) in SPAN_METRICS.items():
        out[metric] = sum(counters[s[0]][counter] for s in record["spans"]
                          if s[1] == name) / n
    out["pipeline.rows_loaded"] = sum(o["extras"].get("rows_loaded", 0.0)
                                      for o in traced) / n
    exec_wall = sum(counters[s[0]]["wall_s"] for s in record["spans"] if s[1] == "exec")
    exec_task = sum(counters[s[0]]["task_s"] for s in record["spans"] if s[1] == "exec")
    out["exec.utilization"] = exec_task / (exec_wall * cpus) if exec_wall > 0 else 0.0
    out["operators.cached_mb_peak"] = sum(
        counters[s[0]]["cached_mb_peak"] for s in record["spans"]
        if s[1] == "operators") / n
    # driver time with no task running, per op
    tasks = sorted((t[T_LAUNCH], t[T_FINISH]) for t in record["tasks"])
    no_task = 0.0
    for root in index.roots:
        busy = [(max(a, root[4]), min(b, root[5])) for a, b in tasks
                if b > root[4] and a < root[5]]
        no_task += ((root[5] - root[4]) - union_length(busy)) / 1000.0
    out["driver.no_task_s"] = no_task / n
    out["bench.other_s"] = sum(self_time_ms(r, index.children.get(r[0], []))
                               for r in index.roots) / 1000.0 / n
    out["storage.pins_after_op"] = sum(o["pins_after"] for o in traced) / n
    out["storage.pins_peak"] = float(max(
        [max(o["pins_before"], o["pins_after"]) for o in traced] or [0]))
    traced_rate = ops_per_s(traced)
    out["bench.trace_overhead_pct"] = (
        (ops_per_s(untraced) / traced_rate - 1.0) * 100.0
        if traced_rate > 0 and untraced else 0.0)
    return out


def with_units(values, units):
    return {k: {"value": values[k], "unit": units[k]} for k in units}
