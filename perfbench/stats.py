"""The benchmark's own arithmetic, kept free of Spark so it is testable
on its own (``perfbench/tests``)."""

from __future__ import annotations

import math
import statistics

# the percentile op_tail_s reports
TAIL_Q = 0.9


def betainc(a: float, b: float, x: float) -> float:
    """Regularised incomplete beta I_x(a, b), by Lentz's continued
    fraction (accurate for every a, b > 0, including the singular ends
    that a quadrature of the density would miss)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - betainc(b, a, 1.0 - x)
    ln_front = a * math.log(x) + b * math.log1p(-x) - (
        math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b))
    tiny = 1e-300
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -((a + m) * (a + b + m) * x) / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return math.exp(ln_front) / a * (f - 1.0)


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a weighted mean of
    all the sorted values, the i-th weighted by the mass a
    Beta((n+1)q, (n+1)(1-q)) puts on [(i-1)/n, i/n]. A run's ops mix
    templates of unlike cost; the sample quantile jumps between
    whichever two ops sit at its rank, while this estimate moves
    smoothly with all of them."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no ops")
    if not 0.0 < q < 1.0:
        raise ValueError(f"q={q} outside (0, 1)")
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(s))


def tail(values: list[float]) -> dict:
    """The run's ``TAIL_Q`` percentile op latency (``quantile``). A rule
    of the form "the highest percentile with k ops beyond it" reads a
    different percentile for each op count, and the median itself at
    2k + 1 ops; a fixed percentile does not."""
    return {"value": quantile(values, TAIL_Q), "q": TAIL_Q, "n": len(values)}


def typical_rates(names: list[str], walls: list[float], rows: list[float]) -> dict:
    """Throughput with each op's wall replaced by the median wall of its
    template (ops of one name): ``ops_per_s`` and ``rows_per_s`` as the
    run's op mix would give them if no op had stalled. One stalled op
    then moves a template's median a little instead of the run's total.
    Rows are summed as they were addressed."""
    by: dict[str, list[float]] = {}
    for n, w in zip(names, walls):
        by.setdefault(n, []).append(w)
    typical = sum(len(ws) * statistics.median(ws) for ws in by.values())
    if typical <= 0:
        raise ValueError("no measured time")
    return {"ops_per_s": len(walls) / typical, "rows_per_s": sum(rows) / typical}


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def bytes_per_input_byte(disk_bytes: int, arrow_bytes: int) -> float:
    """On-disk bytes per in-memory Arrow byte written: below 1 means the
    encodings compress."""
    if arrow_bytes <= 0:
        raise ValueError("nothing written")
    return disk_bytes / arrow_bytes


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of it that its
    direct children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = clip(children.get(s["id"], []), s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def aggregate_jobs(jobs: list[dict], stages: dict[int, dict]) -> dict[str, dict]:
    """Fold status-store job and stage records into one record per job
    group. A job is ``{"group", "start", "end", "stage_ids"}`` (times in
    seconds); a stage is ``{"tasks", "shuffle_read", "shuffle_write",
    "spill", "exec_run_s"}``. A stage shared by two jobs of a group
    (skipped-stage reuse) counts once."""
    out: dict[str, dict] = {}
    seen: dict[str, set] = {}
    for j in jobs:
        g = out.setdefault(
            j["group"],
            {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "exec_run_s": 0.0,
             "intervals": []},
        )
        g["jobs"] += 1
        g["intervals"].append((j["start"], j["end"]))
        done = seen.setdefault(j["group"], set())
        for sid in j["stage_ids"]:
            st = stages.get(sid)
            if st is None or sid in done:
                continue  # skipped (never ran) or already counted
            done.add(sid)
            g["stages"] += 1
            g["tasks"] += st["tasks"]
            g["shuffle_read_bytes"] += st["shuffle_read"]
            g["shuffle_write_bytes"] += st["shuffle_write"]
            g["spill_bytes"] += st["spill"]
            g["exec_run_s"] += st["exec_run_s"]
    return out


def driver_gap(op_start: float, op_end: float, job_intervals) -> float:
    """Op wall time not covered by any of its Spark jobs: planning,
    driver-side Python and scheduling between jobs."""
    return (op_end - op_start) - union_length(clip(job_intervals, op_start, op_end))


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs; 0 with fewer than two points."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median, the way the
    steadiness check reads a set of runs."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
