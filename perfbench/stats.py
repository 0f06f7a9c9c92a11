"""Percentiles and the final result line of the benchmark."""
import json
import math
import statistics

LINE_CAP = 1800  # bytes; a consumer that keeps a 2000-character tail reads it whole
MIN_BEYOND = 10  # samples a tail percentile needs beyond its rank


class TooFewSamples(ValueError):
    pass


def percentile(values, p, min_beyond=0):
    """Nearest-rank percentile `p` (0..100) of `values`.

    With `min_beyond`, refuses (TooFewSamples) unless at least that many
    samples lie strictly beyond the percentile's rank, so a tail figure
    never rests on a handful of samples.
    """
    if not values:
        raise TooFewSamples("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    beyond = len(xs) - rank
    if beyond < min_beyond:
        raise TooFewSamples("p%g of %d samples has %d beyond it, needs %d"
                            % (p, len(xs), beyond, min_beyond))
    return xs[rank - 1]


def p75(values):
    """p75 with at least MIN_BEYOND samples beyond it (so at least 40
    samples): the highest percentile that 40 samples support."""
    return percentile(values, 75, min_beyond=MIN_BEYOND)


def median(values):
    return statistics.median(values) if values else 0.0


def metric(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def final_line(correct, attempted, failed, metrics):
    """The last stdout line: exactly the keys correct, attempted, failed and
    metrics; every metric by name with exactly its value (a float, with all
    its digits) and unit; compact so it stays under LINE_CAP bytes. The
    sample counts `n` stay in the run's summary.json."""
    out = {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
           "metrics": {k: {"value": float(v["value"]), "unit": v["unit"]}
                       for k, v in metrics.items()}}
    line = json.dumps(out, separators=(",", ":"))
    if len(line.encode()) > LINE_CAP:
        raise ValueError("result line is %d bytes, over the %d cap" % (len(line), LINE_CAP))
    return line
