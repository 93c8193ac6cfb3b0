"""Metric arithmetic of the benchmark: pure functions over the driver's
raw timings, tested in test_bench.py."""


def percentile(values, q):
    """Percentile `q` (0-100) by linear interpolation between the two
    nearest ranks. Returns (value, sample count)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def covered(interval, children):
    """Length of the part of `interval` that the union of `children`
    covers, each clipped to the interval."""
    a, b = interval
    clipped = sorted((max(a, s), min(b, e)) for s, e in children if min(b, e) > max(a, s))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(interval, children):
    """A span's duration minus the part of it its child spans cover."""
    return (interval[1] - interval[0]) - covered(interval, children)


def core_util(core_s, exec_s, nproc):
    """Share of the cores' time during `exec_s` that tasks were running."""
    return core_s / (exec_s * nproc) if exec_s > 0 else 0.0


def fail_counts(passes, bad_keys):
    """(attempted, failed) over the key executions of `passes`. An
    execution fails if it threw, or if its key's output check failed."""
    attempted = failed = 0
    for p in passes:
        for k in p["keys"]:
            attempted += 1
            if k["error"] is not None or k["key"] in bad_keys:
                failed += 1
    return attempted, failed


def fail_frac(attempted, failed):
    return failed / attempted if attempted else 1.0

