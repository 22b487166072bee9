"""Pure helpers behind the benchmark's numbers (tested in tests/)."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest-percentile sample with at least `beyond` samples above
    it in sorted order: (value, percentile, sample count). With too few
    samples for any such point, the maximum is returned at percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return (s[-1] if s else 0.0), 100.0, n
    k = n - beyond - 1  # s[k] has exactly `beyond` samples after it
    return s[k], 100.0 * (k + 1) / n, n


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
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
    """span id -> self time: its duration minus the part of its interval
    that its children's spans cover. Spans are dicts with id, parent,
    start_us and end_us."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered = union_length([(max(c["start_us"], lo), min(c["end_us"], hi))
                                for c in children.get(s["id"], [])])
        out[s["id"]] = (hi - lo) - covered
    return out


def unstable_job_counts(counts):
    """Keys whose timed passes launched different numbers of jobs.
    `counts` maps key -> list of job counts, one per timed pass."""
    return sorted(k for k, v in counts.items() if len(set(v)) > 1)
