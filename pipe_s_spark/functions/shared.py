"""Session-scoped materialized intermediates — the in-session analog of
the persisted signature/clusters tables every production dedup pipeline
writes once and consumes many times.

Motivation (scale first): a MinHash pipeline at corpus scale never
recomputes signatures per downstream consumer — it writes the narrow
``(doc_id, h0..h15)`` table to parquet once, and banding, verification,
decontamination and cluster resolution all read that table. Inside one
SparkSession the equivalent is a ``localCheckpoint``-ed DataFrame shared
by every query that needs it. This module provides exactly that: a
keyed, bounded, session-aware memo of checkpointed DataFrames.

What is (and is not) safe to cache here:

- CACHE narrow derived tables whose size is O(documents) rows x few
  columns (MinHash signatures, candidate-pair counts, cluster labels).
  These are the tables a cluster job would persist to parquet anyway.
- DO NOT cache corpus-sized relations (the exploded shingle table —
  O(total tokens) rows). At 100 TB those don't fit anywhere but the
  source; each query re-derives them in a narrow map that fuses into
  its own scan.

Correctness: builders must be deterministic pure functions of
``(sf_dir, params)`` — every cached table here is, because all hashes
are md5-derived (see functions.dedup). Entries are keyed by Spark
``applicationId`` so a new session never sees another session's RDDs,
and the memo is bounded (FIFO eviction with unpersist) so a long
driver session cannot accumulate executor storage without limit.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

#: Max live entries of each memo (the scalar memo below uses the same
#: bound); each is a narrow checkpointed table (a few MB at
#: bench scale). FIFO eviction drops the memo entry but does NOT
#: unpersist: localCheckpoint truncates lineage, so a caller (or a
#: derived lazy plan) still holding an evicted handle would fail with
#: lost-block errors instead of recomputing. Evicted handles park in
#: ``_evicted`` and are reclaimed by ``clear()`` / session teardown —
#: safe because every entry is a narrow table of a few MB, and the
#: registered query surface keeps live keys (~7 per sf_dir) far below
#: this bound (asserted in tests/test_shared_cache.py).
MAX_ENTRIES = 32

_memo: OrderedDict[tuple, DataFrame] = OrderedDict()
#: Evicted-but-possibly-still-referenced checkpoints, reclaimed in clear().
_evicted: list[DataFrame] = []
#: Append-only log of BUILD events — ``(full_key, build_seconds)``
#: pairs for every builder that actually ran — drained by the bench.
#: A diff of the memo's keys before and after a run would miss churn:
#: a key built, FIFO-evicted, then REBUILT inside a timed run is
#: net-absent from the diff, so the rebuild cost inside the reported
#: median would go unattributed (r9 advice). An event log counts
#: builds, not net key presence. r16 (verdict #3): each event carries the
#: BUILD WALL SECONDS so the artifact can publish the cold cost of
#: every memoized family — a memo-consuming query's median measures a
#: warm table, and without the build seconds beside it a cache shift
#: reads as a speedup.
_build_log: list[tuple] = []


def materialized(
    spark: SparkSession, key: tuple[Hashable, ...], builder: Callable[[], DataFrame]
) -> DataFrame:
    """Return the checkpointed DataFrame for ``key``, building it with
    ``builder()`` on first use in this Spark application.

    ``key`` must capture every parameter the builder's output depends
    on (sf_dir, hash family size, caps, thresholds, ...).
    """
    full_key = (spark.sparkContext.applicationId, *key)
    df = _memo.get(full_key)
    if df is not None:
        _memo.move_to_end(full_key)
        return df
    import time

    t0 = time.perf_counter()
    built = builder()
    # a DRIVER-LOCAL relation (e.g. connected_components' bounded edge
    # fold returns createDataFrame of the resolved labels) has no
    # executor lineage to truncate and nothing to pin — checkpointing
    # it only buys a ~1.7 s first-use codepath warmup (measured) and a
    # pointless 32-task job; downstream consumers broadcast it anyway
    df = built if built.isLocal() else built.localCheckpoint(eager=True)
    _build_log.append((full_key, round(time.perf_counter() - t0, 4)))
    _memo[full_key] = df
    while len(_memo) > MAX_ENTRIES:
        # Deliberately no unpersist here — see MAX_ENTRIES comment:
        # an evicted checkpoint may still back a caller's lazy plan.
        _, old = _memo.popitem(last=False)
        _evicted.append(old)
    return df


#: Driver-side scalar memo (corpus counts, trained centroids and
#: codebooks) — same keying/lifetime discipline and MAX_ENTRIES FIFO
#: bound as the DataFrame memo, for values that are a Spark job or a
#: training run to compute (e.g. COUNT(*) sizing an LSH signature):
#: rerunning that per query invocation is a full extra pass over the
#: corpus at real scale and 4x per bench entry (r9 advice, queries_sim).
_scalars: OrderedDict[tuple, object] = OrderedDict()


def scalar(
    spark: SparkSession, key: tuple[Hashable, ...], builder: Callable[[], object]
) -> object:
    """Return the memoized scalar for ``key``, computing it once per
    Spark application. Builds are appended to the build log so the
    bench attributes the one-off job like any other cache build; past
    MAX_ENTRIES the oldest value is dropped (nothing to unpersist)."""
    full_key = (spark.sparkContext.applicationId, *key)
    if full_key in _scalars:
        return _scalars[full_key]
    import time

    t0 = time.perf_counter()
    value = _scalars[full_key] = builder()
    _build_log.append((full_key, round(time.perf_counter() - t0, 4)))
    while len(_scalars) > MAX_ENTRIES:
        _scalars.popitem(last=False)
    return value


def drain_build_log() -> list[tuple]:
    """Return and clear the accumulated build events —
    ``(full_key, build_seconds)`` in build order, duplicates preserved.
    Unlike a diff of key snapshots this attributes REBUILDS after FIFO
    eviction, so the bench's built_timed field is churn-proof."""
    global _build_log
    out, _build_log = _build_log, []
    return out


def clear() -> None:
    """Drop every memo entry (DataFrames and scalars) and reclaim
    evicted checkpoints (tests; session teardown)."""
    while _memo:
        _, old = _memo.popitem(last=False)
        _evicted.append(old)
    _scalars.clear()
    _build_log.clear()
    while _evicted:
        old = _evicted.pop()
        try:
            old.unpersist()
        except Exception:  # session may already be stopped
            pass
