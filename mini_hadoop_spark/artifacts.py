"""Session artifacts: one build-once memo for every index, model and
drained result the operators share.

An artifact is anything a builder derives from a corpus and that many
queries then read: near-dup pair graphs and their CC labels, the IVF
quantizer and lists, ANN neighbour sets, the PQ codebook and codes, the
BPE model, classifier tables and weights, drained stream results, the
parity PageRank/WordCount runs and the catalog's table frames.  Each is
keyed ``(applicationId, normpath(sf_dir), *key)``: a fresh session (the
driver's vanilla one, a new pytest session) never sees another
session's rows, and one session serves every corpus it is pointed at.

Builders own their plans and their ``localCheckpoint`` calls; the memo
stores whatever a builder returns (DataFrames, tuples, ints).
Concurrent callers asking for the same key share one build through a
per-key lock, while independent keys build concurrently (bench.py's
build groups submit them from several driver threads).

:func:`clear` drops every entry and frees the localCheckpoint blocks of
the stored DataFrames.  ``Dataset.unpersist()`` would not do that: it
only drops CacheManager entries, so the checkpoint RDD ids are read off
each frame's analyzed plan (``LogicalRDD`` leaves) and unpersisted by
id.  Harnesses call it for cold re-runs and before rewriting a corpus
path in place; distinct tmp dirs never collide.
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

_values: dict[tuple, Any] = {}
_locks: dict[tuple, threading.Lock] = {}
_locks_guard = threading.Lock()
_MISSING = object()


def get(spark: SparkSession, sf_dir: str, key: tuple, build: Callable[[], Any]) -> Any:
    """The artifact ``key`` of corpus ``sf_dir`` in ``spark``'s
    application — built by ``build()`` on the first call, returned
    from the memo on every later one."""
    full = (spark.sparkContext.applicationId, os.path.normpath(sf_dir), *key)
    value = _values.get(full, _MISSING)
    if value is not _MISSING:
        return value
    with _locks_guard:
        lock = _locks.setdefault(full, threading.Lock())
    with lock:
        value = _values.get(full, _MISSING)
        if value is _MISSING:
            value = _values[full] = build()
    return value


def checkpoint_rdd_ids(df: DataFrame) -> list[int]:
    """Ids of the RDDs behind ``df``'s ``LogicalRDD`` leaves — for a
    localCheckpoint, exactly the RDD whose blocks it persisted.  Read
    off the plan, so a checkpoint another thread takes at the same time
    is never attributed to ``df``."""
    ids = []
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.append(int(leaf.rdd().id()))
    return ids


def _unpersist_checkpoints(value: Any) -> None:
    for df in value if isinstance(value, tuple) else (value,):
        if not isinstance(df, DataFrame):
            continue
        try:
            persisted = df.sparkSession.sparkContext._jsc.sc().getPersistentRDDs()
            for rid in checkpoint_rdd_ids(df):
                rdd = persisted.get(rid)
                if rdd.isDefined():
                    rdd.get().unpersist(False)
        except (AttributeError, Py4JError):
            pass  # a stopped session has already freed the blocks


def clear() -> None:
    """Drop every artifact and free its checkpoint blocks."""
    with _locks_guard:
        values = list(_values.values())
        _values.clear()
    for value in values:
        _unpersist_checkpoints(value)
