"""Percentiles and the live workload's latency mapping."""
import bisect
import math

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile `p` of `values` with its support.

    Returns a dict: `value`, the percentile actually reported as `p`, the
    sample count `n`, and `beyond`, the number of samples above the
    reported rank. A tail percentile is only meaningful with at least
    MIN_BEYOND samples beyond it; `supported` says whether it has them.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"value": None, "p": p, "n": 0, "beyond": 0, "supported": False}
    rank = max(1, math.ceil(p / 100.0 * n))
    beyond = n - rank
    return {"value": xs[rank - 1], "p": p, "n": n, "beyond": beyond,
            "supported": beyond >= MIN_BEYOND or p <= 50}


def tail(values, want=99.0):
    """The highest percentile up to `want` with MIN_BEYOND samples beyond it.

    Falls back through 95, 90 and 50; a sample too small for even the
    median's rule reports its maximum, marked unsupported.
    """
    for p in (want, 95.0, 90.0, 50.0):
        r = percentile(values, p)
        if r["n"] and r["beyond"] >= MIN_BEYOND:
            return r
    r = percentile(values, 100.0)
    r["supported"] = False
    return r


def median(values):
    return percentile(values, 50)["value"]


def batch_of(progress):
    """Index over progress events for `commit_ms`: batches sorted by start."""
    evs = sorted((e for e in progress if e["input_rows"] > 0),
                 key=lambda e: e["trigger_start_ms"])
    return [e["trigger_start_ms"] for e in evs], evs


def commit_ms(index, processing_ms):
    """When the row processed at `processing_ms` was committed: the arrival
    of the progress event of the batch running at that time, or None when
    no batch was running."""
    starts, evs = index
    i = bisect.bisect_right(starts, processing_ms) - 1
    if i < 0:
        return None
    e = evs[i]
    return e["arrival_ms"] if processing_ms <= e["arrival_ms"] else None


def latencies(rows, progress):
    """Frame latency: its batch's progress-event arrival minus the frame's
    generator stamp. `rows` holds (frame_ms, processing_ms) pairs; a frame
    whose batch cannot be found gets None."""
    index = batch_of(progress)
    out = []
    for frame_ms, processing_ms in rows:
        c = commit_ms(index, processing_ms)
        out.append(None if c is None else c - frame_ms)
    return out
