"""Statistics the benchmark reports: percentiles with their sample counts,
open-loop latency from micro-batch progress, generator and backlog
validity, and span self times. Pure functions over plain lists and dicts,
covered by ``perfbench/test_stats.py``."""
import math
import statistics

TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile ``p`` (0 < p <= 100) of ``values``."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile that has at least ten samples
    beyond it, for ``n`` samples; None when even the median has fewer."""
    for p in candidates:
        if n * (1 - p / 100.0) >= TAIL_MIN_BEYOND - 1e-9:
            return p
    return None


def summarize(values):
    """Median (interpolated: the mean of the middle two of an even count),
    75th and 90th percentiles and the rule's tail percentile, with the
    sample count."""
    n = len(values)
    tail = tail_percentile(n)
    return {"n": n, "p50": statistics.median(values) if n else None,
            "p75": percentile(values, 75) if n else None,
            "p90": percentile(values, 90) if n else None,
            "tail_p": tail,
            "tail": percentile(values, tail) if tail is not None else None}


def _offset(x):
    return None if x is None else int(x)


def batch_end_ms(progress):
    """Wall time at which a micro-batch finished: its trigger start plus
    its ``triggerExecution`` duration."""
    return progress["timestamp_ms"] + progress["duration_ms"].get("triggerExecution", 0)


def consumed_by(progress_list, offset):
    """The progress entry of the micro-batch whose source range
    (start_offset, end_offset] holds ``offset``; None if none did."""
    for p in sorted(progress_list, key=lambda q: q["batch_id"]):
        start, end = _offset(p["start_offset"]), _offset(p["end_offset"])
        if end is None or end < offset:
            continue
        if start is None or start < offset:
            return p
    return None


def chunk_latencies(due_ms, offsets, progress_by_query):
    """Per open-loop chunk: due time to the end of the micro-batch that
    consumed its offset, in the slowest of the queries reading it. A chunk
    no query batch consumed is returned as None (it counts as failed)."""
    out = []
    for due, off in zip(due_ms, offsets):
        ends = []
        for plist in progress_by_query.values():
            p = consumed_by(plist, off)
            ends.append(None if p is None else batch_end_ms(p))
        out.append(None if None in ends or not ends else max(ends) - due)
    return out


def consumed_offset_at(progress_list, t_ms):
    """Highest offset committed by batches that ended by ``t_ms`` (-1 if
    none)."""
    best = -1
    for p in progress_list:
        end = _offset(p["end_offset"])
        if end is not None and batch_end_ms(p) <= t_ms:
            best = max(best, end)
    return best


def backlog_chunks(due_ms, offsets, progress_by_query):
    """Chunks appended but not yet committed by every query, sampled at
    each chunk's due time."""
    out = []
    for due, off in zip(due_ms, offsets):
        done = min(consumed_offset_at(pl, due) for pl in progress_by_query.values())
        out.append(max(0, off - done))
    return out


def backlog_grew(backlog):
    """True when the open-loop queue kept growing: the mean backlog over
    the last third of the phase exceeds the middle third's by half, plus
    five chunks. A queue that only oscillates with the micro-batch cadence
    keeps its mean; the first third is the ramp-up from an empty queue and
    is ignored."""
    t = len(backlog) // 3
    if t == 0:
        return False
    middle, last = statistics.mean(backlog[t:2 * t]), statistics.mean(backlog[-t:])
    return last > 1.5 * middle + 5


def generator_late_ms(due_ms, sent_ms):
    """How late the generator appended, worst case, in ms."""
    return max([s - d for d, s in zip(due_ms, sent_ms)] or [0])


def self_times(spans):
    """{span id: self time in ns}: a span's duration minus the part of its
    interval covered by its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
    return out
