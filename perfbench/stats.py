"""The benchmark's arithmetic: latency summaries, span self time and the
failure count. Kept apart from run.py so its tests need no Spark."""
import statistics

# A tail percentile is reported only with this many samples beyond it.
TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(latencies):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    That is the (TAIL_BEYOND + 1)-th largest sample. Returns
    (value, percentile, n); the percentile is the share of samples at or
    below the value's rank. With TAIL_BEYOND or fewer samples there is no
    such percentile, and the result is (None, None, n).
    """
    n = len(latencies)
    if n <= TAIL_BEYOND:
        return None, None, n
    xs = sorted(latencies)
    return xs[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n, n


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover. `spans` are dicts with id, parent, t0
    and t1; returns {id: self time}, in the spans' time unit."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["t0"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["t0"]):
            lo, hi = max(c["t0"], end, s["t0"]), min(c["t1"], s["t1"])
            if hi > lo:
                covered += hi - lo
            end = max(end, min(c["t1"], s["t1"]))
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def failures(ops, failed_keys):
    """Ops that threw or whose output check failed. `failed_keys` holds the
    (kind, text) of every statement whose check failed; each op that ran
    such a statement counts once. Returns (attempted, failed)."""
    failed = sum(1 for o in ops
                 if o.get("error") or (o["kind"], o["text"]) in failed_keys)
    return len(ops), failed


def failed_frac(ops, failed_keys):
    attempted, failed = failures(ops, failed_keys)
    return failed / attempted if attempted else 0.0
