"""Turns the JVM's run record into verdicts and metrics. Pure functions, so
the rules (fail-closed ops, the percentile rule, the stall label, span
self times) are tested without a JVM in test_perfbench.py."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail_percentile(samples, q=0.9, min_beyond=10):
    """The q-quantile (nearest rank), or None unless at least `min_beyond`
    samples lie beyond it."""
    n = len(samples)
    if n == 0 or math.floor(n * (1 - q) + 1e-9) < min_beyond:
        return None
    return sorted(samples)[math.ceil(q * n) - 1]


def judge(ops, check):
    """Applies `check(op) -> reason or None` to each op record. An op that
    threw or fails its check is failed and keeps no latency."""
    out = []
    for op in ops:
        reason = op.get("error") if not op.get("ok") else check(op)
        out.append(dict(op, failed=reason is not None, reason=reason,
                        latency_s=None if reason is not None else op["latency_s"]))
    return out


def stall_label(past_ratios, wall, cpu, factor=1.5, min_past=3):
    """Labels a run whose wall/CPU ratio is `factor` above the median ratio
    of earlier runs of the same code: wall time without CPU means the host
    stalled the process. Nothing is dropped; the label goes beside the
    number."""
    if len(past_ratios) < min_past:
        return f"unlabelled (fewer than {min_past} earlier runs)"
    mid, ratio = median(past_ratios), wall / cpu
    verdict = "stall" if ratio > factor * mid else "ok"
    return f"{verdict}: wall/cpu {ratio:.2f} vs median {mid:.2f} of {len(past_ratios)} runs"


def union_length(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def attach_parents(spans, slack=0.002):
    """Spark action spans arrive without a parent: give each the innermost
    benchmark span of its op that contains its start (event times carry
    millisecond resolution, hence the slack)."""
    hosts = {}
    for s in spans:
        if not s["name"].startswith("spark.action"):
            hosts.setdefault(s["op"], []).append(s)
    out = []
    for s in spans:
        if s["name"].startswith("spark.action") and s["parent"] == -1:
            inside = [h for h in hosts.get(s["op"], [])
                      if h["start"] - slack <= s["start"] <= h["end"]]
            if inside:
                s = dict(s, parent=max(inside, key=lambda h: h["start"])["id"])
        out.append(s)
    return out


def self_times(spans):
    """Per span name: count, total and self seconds, where self time is the
    duration minus the part covered by the span's children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += dur
        agg["self_s"] += dur - union_length(kids)
    return out


def etl_action_split(spans):
    """Per op: (seconds inside Pipeline.run, seconds of it covered by root
    Spark actions)."""
    runs = {s["op"]: s for s in spans if s["name"] == "etl.run"}
    out = {}
    for op, run in runs.items():
        acts = [(max(s["start"], run["start"]), min(s["end"], run["end"]))
                for s in spans if s["op"] == op and s["name"] == "spark.action"]
        out[op] = (run["end"] - run["start"], union_length([a for a in acts if a[1] > a[0]]))
    return out
