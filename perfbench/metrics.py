"""Metric arithmetic: latency percentiles, span self time, amplification,
and the per-layer figures of a traced run. `selftest.py` checks it.
"""
import statistics

TAIL_BEYOND = 10


def tail(values):
    """The highest percentile with at least 10 samples beyond it: the 11th
    largest value, at percentile 100 * (n - 10) / n. Returns (value, pct).
    With 10 samples or fewer no percentile qualifies; the maximum is
    returned at percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


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


def self_times(spans):
    """Self time of each span: its duration minus the part of it covered
    by its children. Every span is first clipped to its parent (Spark
    reports whole milliseconds, so a phase can start just before the span
    that caused it). Children that overlap one another (Spark runs jobs
    concurrently) count their overlap once, for the one that started
    first: a span's time covered by an earlier sibling is not its own.
    Returns {id: seconds}."""
    by_id = {s["id"]: s for s in spans}
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    clipped = {}

    def interval(s):
        if s["id"] not in clipped:
            lo, hi = s["start"], s["end"]
            if s["parent"] in by_id:
                plo, phi = interval(by_id[s["parent"]])
                lo, hi = max(lo, plo), min(hi, phi)
            clipped[s["id"]] = (lo, max(lo, hi))
        return clipped[s["id"]]

    out = {}
    for s in spans:
        lo, hi = interval(s)
        covers = list(by_parent.get(s["id"], []))
        if s["parent"] in by_id:
            covers += [c for c in by_parent[s["parent"]]
                       if (c["start"], c["id"]) < (s["start"], s["id"])]
        cut = [(max(a, lo), min(b, hi)) for a, b in map(interval, covers)]
        out[s["id"]] = ((hi - lo) - union_length(cut)) / 1e9
    return out


def write_amp(bytes_written, batch_bytes):
    """Bytes written under the table directories per byte of user batches."""
    return bytes_written / batch_bytes


def space_amp(bytes_on_disk, compact_bytes):
    """Bytes on disk per byte of the live rows written once compactly."""
    return bytes_on_disk / compact_bytes


def job_layers(job_spans, counters, cores):
    """Per-layer figures of one traced job from its spans and counters;
    `self_s_sum` is the sum of its spans' self times, for the check that
    it stays within the job's wall time."""
    root = next(s for s in job_spans if s["name"] == "job")
    tree = _tree(job_spans, root["id"])
    st = self_times(tree)

    def total(name, attr=None):
        if attr is None:
            return sum((s["end"] - s["start"]) / 1e9 for s in tree if s["name"] == name)
        return sum(s["attrs"].get(attr, 0.0) for s in tree if s["name"] == name)

    wall = (root["end"] - root["start"]) / 1e9
    action = total("exec.action")
    build = [s for s in tree if s["name"] == "operators.build"]
    jobs = [s for s in tree if s["name"] == "exec.job"]
    action_ids = {s["id"] for s in tree if s["name"] == "exec.action"}
    in_action = [j for j in jobs if _under(j, action_ids, tree)]
    build_ids = {s["id"] for s in build}
    busy = [(j["start"], j["end"]) for j in jobs] + \
           [(s["start"], s["end"]) for s in tree if s["name"].startswith("plans.")]
    lo, hi = root["start"], root["end"]
    covered = union_length([(max(a, lo), min(b, hi)) for a, b in busy])
    skews = [j["attrs"]["task_skew"] for j in jobs if j["attrs"].get("task_skew", 0) > 0]
    out = {
        "wall_s": wall,
        "self_s_sum": sum(st.values()),
        "operators.build_s": total("operators.build"),
        "operators.build_jobs": float(sum(1 for j in jobs if _under(j, build_ids, tree))),
        "plans.analyze_s": total("plans.analyze"),
        "plans.optimize_s": total("plans.optimize"),
        "plans.physical_s": total("plans.physical"),
        "exec.action_s": action,
        "exec.jobs": float(len(jobs)),
        "exec.tasks": total("exec.job", "tasks"),
        "exec.task_s": total("exec.job", "task_s"),
        "exec.task_cpu_s": total("exec.job", "task_cpu_s"),
        "exec.gc_s": total("exec.job", "gc_s"),
        "exec.action_task_s": sum(j["attrs"]["task_s"] for j in in_action),
        "exec.busy_frac": (sum(j["attrs"]["task_s"] for j in in_action) / (action * cores)
                           if action > 0 else 0.0),
        "exec.shuffle_write_mb": total("exec.job", "shuffle_write_mb"),
        "exec.shuffle_read_mb": total("exec.job", "shuffle_read_mb"),
        "exec.spill_mb": total("exec.job", "spill_mb"),
        "exec.input_mb": total("exec.job", "input_mb"),
        "exec.task_skew": max(skews) if skews else 1.0,
        "exec.tasks_failed": total("exec.job", "tasks_failed"),
        "sources.mor_write_s": total("sources.mor_write"),
        "sources.compact_s": total("sources.compact"),
        "sources.v2.dml_s": total("sources.v2.dml"),
        "streaming.tail_s": total("streaming.tail"),
        "driver.gap_s": max(wall - covered / 1e9, 0.0),
    }
    out.update(counters)
    return out


def _tree(spans, root_id):
    ids, out = {root_id}, []
    changed = True
    pending = list(spans)
    while changed:
        changed = False
        for s in list(pending):
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
                pending.remove(s)
                changed = True
    return out


def _under(span, ancestor_ids, tree):
    by_id = {s["id"]: s for s in tree}
    p = span["parent"]
    while p in by_id:
        if p in ancestor_ids:
            return True
        p = by_id[p]["parent"]
    return False


def median(xs):
    return statistics.median(xs) if xs else 0.0
