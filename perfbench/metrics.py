"""Arithmetic over one run record: medians, percentiles, span self time,
and the end-to-end and per-layer metric sets the benchmark prints."""
import math


def median(xs):
    return percentile(xs, 50)


def percentile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(x for x in xs if x is not None and not math.isnan(x))
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> its duration minus the part its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clip = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in kids.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - covered(
            [(a, b) for a, b in clip if b > a])
    return out


END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "query_p50_s": "s",
    "ok_frac": "ratio"}


def query_samples(rec):
    """Operation latencies of the untraced iterations: each query on
    reporting_mix, each iteration on the pipelines."""
    return [op["s"] for it in rec["iterations"] if not it["traced"]
            for op in it["ops"]]


def ops_outcome(rec, bad_keys=()):
    """(attempted, failed) over every iteration's operations, traced or
    not; an operation on a key whose output failed its oracle check
    counts as failed."""
    ops = [op for it in rec["iterations"] for op in it["ops"]]
    failed = sum(1 for op in ops if not op["ok"] or op["name"] in bad_keys)
    return len(ops), failed


def verdict(rec, checks, bad_keys=()):
    """(correct, attempted, failed): correct when no operation of any
    iteration failed and every output check passed."""
    attempted, failed = ops_outcome(rec, bad_keys)
    return failed == 0 and all(c["ok"] for c in checks), attempted, failed


def end_to_end(rec, bad_keys=()):
    its = [it for it in rec["iterations"] if not it["traced"]]
    attempted, failed = ops_outcome(rec, bad_keys)
    q = query_samples(rec)
    vals = {
        "setup_s": rec["setup_s"],
        "wall_s": median([it["wall_s"] for it in its]),
        "cpu_s": median([it["cpu_s"] for it in its]),
        "query_p50_s": percentile(q, 50),
        "ok_frac": 1.0 - failed / max(attempted, 1)}
    return vals, attempted, failed


PER_LAYER = {
    "monthly.run_s": "s", "monthly.publish_s": "s",
    "publish.bytes": "B", "publish.files": "count",
    "curation.run_s": "s", "curation.audit_s": "s",
    "query.build_s": "s", "query.action_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s", "plan.share": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "exec.output_bytes": "B",
    "exec.input_ratio": "ratio", "exec.storage_peak_bytes": "B",
    "exec.busy_share": "ratio", "exec.max_task_share": "ratio",
    "iteration.self_s": "s",
    "host.foreign_cpu_share": "ratio", "host.steal_share": "ratio",
    "trace.overhead": "ratio", "query_p90_s": "s", "mem_peak_mb": "MB"}

_EXEC_SUMS = ["jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "output_bytes"]


def _dur(s):
    return s["end"] - s["start"]


def iteration_layers(rec, it, spans):
    """Per-layer values of one traced iteration."""
    own = [s for s in spans if s["iter"] == it["iter"]]
    selfs = self_times(own)
    top = [s for s in own if s["name"] == "iteration"]
    wall = _dur(top[0]) if top else it["wall_s"]

    def total(name):
        return sum(_dur(s) for s in own if s["name"] == name)

    ex = lambda k: sum(s["exec"].get(k, 0) for s in own)
    pl = lambda k: sum(s["plan"].get(k, 0.0) for s in own)
    plan_total = pl("analysis_s") + pl("optimization_s") + pl("planning_s")
    v = {
        "monthly.run_s": total("monthly.run"),
        "monthly.publish_s": total("monthly.publish"),
        "publish.bytes": sum(s["exec"].get("output_bytes", 0) for s in own
                             if s["name"] == "monthly.publish"),
        "publish.files": it.get("publish_files", 0),
        "curation.run_s": total("curation.run"),
        "curation.audit_s": total("curation.audit"),
        "query.build_s": total("build"),
        "query.action_s": total("action"),
        "plan.analysis_s": pl("analysis_s"),
        "plan.optimization_s": pl("optimization_s"),
        "plan.planning_s": pl("planning_s"),
        "plan.share": plan_total / wall if wall > 0 else 0.0,
        "exec.input_ratio": ex("input_bytes") / max(rec["input_bytes"], 1),
        "exec.storage_peak_bytes": max(
            [s["exec"].get("storage_peak_bytes", 0) for s in own] or [0]),
        "exec.busy_share": ex("task_s") / (rec["cores"] * wall)
        if wall > 0 else 0.0,
        "exec.max_task_share": ex("stage_max_task_s") / ex("task_s")
        if ex("task_s") > 0 else 0.0,
        "iteration.self_s": sum(selfs[s["id"]] for s in top),
        "host.foreign_cpu_share": it["host_foreign_cpu_share"],
        "host.steal_share": it["host_steal_share"]}
    for k in _EXEC_SUMS:
        v["exec." + k] = ex(k)
    return v


def per_layer(rec):
    spans = rec["spans"]
    traced = [it for it in rec["iterations"] if it["traced"]]
    plain = [it for it in rec["iterations"] if not it["traced"]]
    rows = [iteration_layers(rec, it, spans) for it in traced]
    vals = {k: median([r[k] for r in rows]) if rows else 0.0
            for k in PER_LAYER
            if k not in ("trace.overhead", "query_p90_s", "mem_peak_mb")}
    # the tail of the operation latencies: 13 queries a sweep leave one
    # or two samples above it, too few to bound, so it is a diagnostic
    vals["query_p90_s"] = percentile(query_samples(rec), 90)
    # the post-GC heap peak depends on where the timed window falls in
    # the collector's old-generation cycle; it moved by about a third
    # between runs, too much to bound
    vals["mem_peak_mb"] = rec["mem_peak_mb"]
    base = median([it["wall_s"] for it in plain])
    vals["trace.overhead"] = (median([it["wall_s"] for it in traced]) / base
                              if traced and base > 0 else float("nan"))
    return vals


def span_table(rec):
    """Per span name (queries folded into `query.*`): count, median
    duration and median self time."""
    spans = rec["spans"]
    selfs = self_times(spans)
    groups = {}
    for s in spans:
        name = "query.*" if s["name"].startswith("query.") else s["name"]
        groups.setdefault(name, []).append(s)
    return [(n, len(ss), median([_dur(s) for s in ss]),
             median([selfs[s["id"]] for s in ss]))
            for n, ss in sorted(groups.items())]
