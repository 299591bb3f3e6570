"""Statistics, checks and trace accounting for perfbench/run.py.

Pure functions over what the JVM side writes, so they can be tested
without Spark (see test_benchlib.py).
"""
import math
import re

import numpy as np

# ---------------------------------------------------------------- statistics

TAIL_LADDER = (0.99, 0.95, 0.9, 0.75, 0.5)


def tail_quantile(n, min_beyond=10):
    """Highest quantile in TAIL_LADDER with at least `min_beyond` of `n`
    samples above it, or None when even the median has fewer."""
    for q in TAIL_LADDER:
        if round(n * (1 - q), 9) >= min_beyond:
            return q
    return None


def percentile(xs, q):
    xs = np.asarray(xs, dtype=float)
    return float(np.percentile(xs, 100 * q)) if xs.size else math.nan


def tail(xs, n=None, max_q=1.0):
    """(value, quantile) of the tail rule; the maximum when the sample is
    too small for any quantile to have ten samples beyond it. `n` is the
    number of independent samples, when xs holds fewer (for example items
    that reach the sink in batches and share their batch's latency).
    `max_q` caps the quantile, for a sample count that sits near one of the
    rule's steps and would otherwise change the quantile from run to run."""
    xs = np.asarray(xs, dtype=float)
    q = tail_quantile(xs.size if n is None else n)
    if q is None:
        return (float(xs.max()) if xs.size else math.nan), 1.0
    q = min(q, max_q)
    return percentile(xs, q), q


def open_loop_latency(due_ms, done_ms):
    """Per item: delivery time minus the time it was due to be sent. Taken
    from the due time, not the send time, so a put that blocked (and made
    the generator late) counts against every item behind it. NaN = never
    delivered."""
    return np.asarray(done_ms, dtype=float) - np.asarray(due_ms, dtype=float)


def lateness(due_ms, sent_ms):
    """How late the generator sent each item."""
    return np.asarray(sent_ms, dtype=float) - np.asarray(due_ms, dtype=float)


def slope(ts, ys):
    """Least-squares slope of ys over ts (0 for fewer than two points)."""
    ts = np.asarray(ts, dtype=float)
    ys = np.asarray(ys, dtype=float)
    if ts.size < 2 or np.ptp(ts) == 0:
        return 0.0
    return float(np.polyfit(ts, ys, 1)[0])


def trough_slope(ts, ys, period):
    """Slope of a backlog's troughs: the least-squares slope of the lowest
    sample in each `period`-long window from the first sample. A pipeline
    that flushes once a period leaves a sawtooth whose plain slope over a
    few periods swings by about the rate either way; its troughs grow only
    when the pipeline falls behind."""
    ts = np.asarray(ts, dtype=float)
    ys = np.asarray(ys, dtype=float)
    if ts.size < 2:
        return 0.0
    k = ((ts - ts[0]) // period).astype(int)
    lows = [(ts[0] + w * period, ys[k == w].min()) for w in np.unique(k)]
    return slope([t for t, _ in lows], [y for _, y in lows])


# ---------------------------------------------------------------- ingest ledger

def ledger_failures(generated, stat, ids_missing):
    """Items that count as failed, and why. The pipeline's own ledger must
    balance after flush() (itemsIn = itemsFlushed + itemsDropped + pending,
    pending = 0), every generated id must have reached the sink at least
    once, and nothing may be dropped."""
    problems = []
    if stat["items_in"] != generated:
        problems.append(f"itemsIn {stat['items_in']} != generated {generated}")
    balance = stat["items_flushed"] + stat["items_dropped"] + stat["pending"]
    if stat["items_in"] != balance:
        problems.append(f"itemsIn {stat['items_in']} != flushed+dropped+pending {balance}")
    if stat["pending"] != 0:
        problems.append(f"pending {stat['pending']} after flush")
    if stat["items_dropped"]:
        problems.append(f"{stat['items_dropped']} items dropped")
    if ids_missing:
        problems.append(f"{ids_missing} ids never delivered")
    failed = max(ids_missing, stat["items_dropped"], abs(stat["items_in"] - balance),
                 abs(generated - stat["items_in"]), stat["pending"])
    if problems and failed == 0:
        failed = 1
    return failed, problems


# ---------------------------------------------------------------- attribution

OPERATOR_MODULES = ("AsofJoin", "Dedup", "ExactPercentile", "GateMemo", "Graph",
                    "Multimodal", "Relational", "Similarity", "Skew", "StreamGates",
                    "TextAnalysis")
_FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\(")


FAMILY_MODULE = {"q": "Relational", "t": "TextAnalysis", "d": "Dedup", "s": "Similarity",
                 "m": "Multimodal", "g": "Graph"}


def builder_module(query):
    """Operator module whose builder serves `query` (by SparkEntry's prefix)."""
    return FAMILY_MODULE.get(query[:1], "other")


def layer_of(details):
    """Layer of a Spark job from its first stage's call site (the long form
    in StageInfo.details): the first graft frame decides. Returns
    'tables', 'operators.<Module>', 'core', 'plans', 'graft' or 'harness'
    (no graft frame: the benchmark's own call, i.e. executing a plan, or a
    job submitted from one of Spark's own threads, such as an adaptive
    query stage, whose call site names only that thread)."""
    for line in (details or "").splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        frame = m.group(1)
        if frame.startswith("graft.Tables"):
            return "tables"
        if frame.startswith("graft.operators."):
            mod = frame[len("graft.operators."):].split(".")[0].split("$")[0]
            return f"operators.{mod if mod in OPERATOR_MODULES else 'other'}"
        if frame.startswith("graft.core."):
            return "core"
        if frame.startswith("graft.plans.") or frame.startswith("graft.functions."):
            return "plans"
        if frame.startswith("graft."):
            return "graft"
    return "harness"


# ---------------------------------------------------------------- intervals

def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` ((start, end) pairs) within [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)
