"""The ``lake`` workload's queries, drawn from the committed registry sweep.

``registry_sweep.json`` holds one sf0.1 measurement of every registry
query on ``local[4]`` (``sweep.py`` makes it): the registry call's time
(``build_ms``), the time to compute its rows (``action_ms``), the
streaming triggers it fired and how many of them reported a state
operator, the stores and spools it reads and the tables it writes.

A run cannot afford all of them, so the workload is a stratified pick,
a pure function of the sweep:

* eligible: the query ran, has a DuckDB oracle (``q26_approx_distinct``
  has none) and returns at most ``ROW_CAP`` rows, since every result is
  collected and checked within the run;
* streaming queries (those that fired a trigger) and batch queries are
  picked apart. The batch queries that write a warehouse table (the
  store folds) form their own stratum, so the write path is measured;
  so do the streaming queries with state operators, so state-store
  commits are;
* each group is cut into equal-count strata by latency, and from each
  stratum the query nearest the stratum's median latency is taken.

The set-up ensures exactly the stores and spools the picked queries read,
in the registry's own ensure order.
"""
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
SWEEP = os.path.join(HERE, "registry_sweep.json")

BATCH_READ_STRATA = 7
BATCH_WRITE_STRATA = 1
STREAM_STATELESS_STRATA = 1
STREAM_STATEFUL_STRATA = 1
ROW_CAP = 100_000


def load_sweep(path=SWEEP):
    with open(path) as f:
        return json.load(f)


def latency_ms(q):
    return q["build_ms"] + q["action_ms"]


def stratified_pick(queries, k):
    """From each of ``k`` equal-count latency strata of ``queries``, the
    query nearest the stratum's median latency (ties: the lower name)."""
    xs = sorted(queries, key=lambda q: (latency_ms(q), q["name"]))
    if len(xs) < k:
        raise ValueError(f"{len(xs)} queries cannot fill {k} strata")
    picks = []
    for i in range(k):
        stratum = xs[i * len(xs) // k:(i + 1) * len(xs) // k]
        mid = statistics.median(latency_ms(q) for q in stratum)
        picks.append(min(stratum, key=lambda q: (abs(latency_ms(q) - mid),
                                                 q["name"])))
    return picks


def eligible(q):
    return not q["error"] and q["oracle"] and q["rows"] <= ROW_CAP


def groups(sweep):
    """``(batch_read, batch_write, stream_stateless, stream_stateful)``
    eligible sweep records."""
    ok = [q for q in sweep["queries"] if eligible(q)]
    stream = [q for q in ok if q["triggers"] > 0]
    batch = [q for q in ok if q["triggers"] == 0]
    return ([q for q in batch if not q["writes"]],
            [q for q in batch if q["writes"]],
            [q for q in stream if not q["stateful_triggers"]],
            [q for q in stream if q["stateful_triggers"]])


def lake_workload(sweep):
    """``{"batch": [...], "stream": [...], "queries": [...],
    "ensures": [...]}`` of the ``lake`` workload."""
    read, write, stateless, stateful = groups(sweep)
    batch = (stratified_pick(read, BATCH_READ_STRATA) +
             stratified_pick(write, BATCH_WRITE_STRATA))
    streaming = (stratified_pick(stateless, STREAM_STATELESS_STRATA) +
                 stratified_pick(stateful, STREAM_STATEFUL_STRATA))
    picked = batch + streaming
    needed = {s for q in picked for s in q["stores"]}
    return {"batch": [q["name"] for q in batch],
            "stream": [q["name"] for q in streaming],
            "queries": sorted(q["name"] for q in picked),
            "ensures": [e for e in sweep["ensure_order"] if e in needed]}
