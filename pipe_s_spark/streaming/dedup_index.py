"""CONTINUOUS dedup-index maintenance: a document stream keeps a
persisted MinHash-LSH band index up to date and emits candidate pairs
for every arriving batch against everything indexed before it — the
operational form of `queries_dedup.q_dedup_incremental` (there the
"arriving batch" is simulated; here it actually arrives).

Per micro-batch, as the body of the library's one streaming epoch loop
(``streaming.epoch_log.run_stream``, which also folds both tables on
the ``compact_every`` cadence):

1. shingle -> MinHash signature -> band rows for the batch documents
   (functions.dedup — identical family constants to the batch queries,
   so the streaming index is interchangeable with a batch-built one);
2. equi-join the batch bands against the EXISTING index (band_id,
   band_sig) plus the batch itself -> new candidate pairs, appended to
   ``pairs_path``;
3. append the batch bands to the index.

Exactly-once on replay: both the index and the pairs table are
epoch logs (streaming.epoch_log: one ``batch_id`` partition per epoch,
written with dynamic partition OVERWRITE), and the index side of the
join admits STRICTLY EARLIER epochs only (batch ids are monotone) — a
replayed epoch therefore sees exactly the index it saw the first time
and rewrites its own partitions to identical content, even if later
epochs already landed (the layout-level idempotence the merge_apply
sink gets from its epoch fence; proven by
tests/test_dedup_index_stream.py's out-of-order replay test).

At 100 TB: per-ingest cost is O(batch x matching bands), never
O(corpus); the index is the persisted narrow band table (doc_id,
band_id, band_sig — bytes per doc, not the doc), and the band
equi-join is the same bounded-fan-out shape the batch LSH queries cap.
"""

from __future__ import annotations

import functools
import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipe_s_spark.functions.dedup import (
    LSH_BAND_CAP,
    cap_group_size,
    lsh_bands,
    minhash_signature,
    shingles,
)
from pipe_s_spark.streaming import commit, epoch_log
from pipe_s_spark.streaming.epoch_log import DEFAULT_COMPACT_EVERY


def run_dedup_index_stream(
    doc_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    band_cap: int | None = LSH_BAND_CAP,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    await_seconds: int | None = None,
):
    """Start (and optionally await) the index maintainer on
    ``doc_stream``. The index holds (doc_id, band_id, band_sig,
    batch_id); pairs hold (d1, d2, batch_id) with d1 < d2.

    ``compact_every``: fold committed per-batch partitions of BOTH
    tables every N epochs (the epoch loop epoch_log.run_stream, on the
    epoch_log.due cadence) so a long-running stream keeps O(1)
    partitions instead of O(#batches). DEFAULT-ON at
    DEFAULT_COMPACT_EVERY (None opts out).

    ``band_cap`` bounds the per-(band_id, band_sig) group size of the
    ARRIVING batch before the join (functions.dedup.cap_group_size —
    the same guard the batch LSH queries run): at corpus scale a
    boilerplate band key would otherwise fan a single batch out
    quadratically. DEFAULT-ON at LSH_BAND_CAP — the continuous index is
    the component most likely to meet a pathological hot band (a
    boilerplate band_sig shared by millions of docs), so the scale
    guard must not depend on the caller remembering it. Capping the
    batch side only keeps the incremental result a superset-per-batch
    of what a capped batch recompute yields; pass None to opt OUT and
    match an uncapped recompute exactly."""
    body = functools.partial(
        apply_index_batch,
        index_path=index_path,
        pairs_path=pairs_path,
        id_col=id_col,
        text_col=text_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        band_cap=band_cap,
    )
    return epoch_log.run_stream(
        doc_stream,
        body,
        checkpoint,
        logs=[(index_path, True), (pairs_path, True)],
        compact_every=compact_every,
        await_seconds=await_seconds,
    )


#: wall-clock of the most recent epoch's phases (seconds) — parity
#: with streaming.ivf_index.LAST_EPOCH_PROFILE (r12 verdict #7): the
#: next fixed-cost attack on this sink should be measured, not
#: guessed. pairs/index = each fenced write's own duration (they
#: overlap; pairs also pays the band build + join through the shared
#: persisted batch), wall = whole epoch. Single-threaded test/bench
#: telemetry — concurrent apply_index_batch callers would interleave
#: writes to it, like CC_TELEMETRY.
LAST_EPOCH_PROFILE: dict = {}


def apply_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    band_cap: int | None = LSH_BAND_CAP,
) -> None:
    """One epoch of index maintenance — the foreachBatch body, exposed
    so replay/recovery paths are directly testable: calling this twice
    with the same (batch, batch_id) rewrites the same partitions to
    identical content (exactly what a post-crash Structured Streaming
    replay does)."""
    import time as _time

    _prof: dict = {}
    _t_epoch = _time.perf_counter()
    # band_sig compatibility contract: k/num_hashes/bands determine
    # whether two epochs' band rows are comparable at all; band_cap is
    # deliberately OUTSIDE the contract (it bounds which rows enter,
    # not what a row means — retunable between restarts)
    check_index_contract(
        index_path, {"kind": "minhash_lsh", "k": k, "num_hashes": num_hashes, "bands": bands}
    )
    spark = batch_df.sparkSession
    sh = shingles(batch_df.select(id_col, text_col), id_col, text_col, k=k)
    sig = minhash_signature(sh, id_col, num_hashes=num_hashes)
    new_bands = lsh_bands(sig, id_col, num_hashes=num_hashes, bands=bands)
    if band_cap is not None:
        new_bands = cap_group_size(new_bands, ["band_id", "band_sig"], band_cap)
    # eager local checkpoint, not persist(): the two concurrent fenced
    # writes below otherwise race block-level cache locks while
    # materializing the bands AND re-plan the full shingle->minhash->
    # band lineage per job; a truncated LogicalRDD plan measured
    # ~10-15% whole-epoch on the IVF index's identical pattern (see
    # streaming.ivf_index apply_ivf_batch r13 note). Blocks are freed
    # explicitly in the finally (_free_local_checkpoint).
    new_bands = new_bands.localCheckpoint(eager=True)
    try:
        # STRICTLY EARLIER epochs only: batch ids are monotone, so a
        # replayed epoch must see exactly the index it saw the first
        # time — filtering only its own id would let a zombie replay of
        # epoch N join against epoch N+1's bands and write pairs epoch
        # N+1's partition already owns. Read errors propagate (the
        # epoch retries) — only a genuinely absent index means "no
        # earlier epochs".
        existing = epoch_log.read(spark, index_path, before=batch_id)
        a = new_bands.alias("a")
        sides = [new_bands.alias("b")]
        if existing is not None:
            sides.append(existing.select(id_col, "band_id", "band_sig").alias("b"))
        pair_parts = []
        for side in sides:
            pair_parts.append(
                a.join(
                    side,
                    (F.col("a.band_id") == F.col("b.band_id"))
                    & (F.col("a.band_sig") == F.col("b.band_sig"))
                    & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
                ).select(
                    F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("d1"),
                    F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("d2"),
                )
            )
        pairs = pair_parts[0]
        for p in pair_parts[1:]:
            pairs = pairs.unionByName(p)

        # the two fenced writes run CONCURRENTLY (the ivf_index r12
        # pattern): the bands write only scans the persisted batch and
        # hides its job+commit fixed cost under the pair join; Spark's
        # block-level cache locking materializes each persisted
        # partition exactly once across the racing jobs, and replay is
        # order-free (a crashed epoch re-runs whole and every write
        # replaces its own batch_id partition). InheritableThread so
        # job-group/description local properties propagate.
        from pyspark import InheritableThread

        errs: list[BaseException] = []

        def _write(df: DataFrame, path: str) -> None:
            _t = _time.perf_counter()
            try:
                epoch_log.append(path, df, batch_id)
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errs.append(e)
            finally:
                _prof["pairs" if path == pairs_path else "index"] = (
                    _time.perf_counter() - _t
                )

        threads = [
            InheritableThread(target=_write, args=(pairs.distinct(), pairs_path)),
            InheritableThread(target=_write, args=(new_bands, index_path)),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errs:
            _raise_all(errs)
    finally:
        _free_local_checkpoint(new_bands)
        _prof["wall"] = _time.perf_counter() - _t_epoch
        LAST_EPOCH_PROFILE.clear()
        LAST_EPOCH_PROFILE.update(_prof)


def check_index_contract(path: str, meta: dict) -> None:
    """Enforce an index directory's immutable compatibility contract.
    The strictly-earlier join only means anything if every epoch wrote
    rows under the SAME family parameters — a stream restarted with
    different MinHash banding (or an IVF index reopened with different
    centroids) joins incompatible signatures and silently emits wrong
    pairs, the same corruption class the merge target's ._layout file
    guards. First writer records ``meta`` in ``<path>/._contract``
    (dot-prefixed: invisible to partition discovery), atomically;
    every later open verifies and refuses a mismatch loudly.
    Pre-existing indexes without the file adopt the opening caller's
    parameters, recorded going forward."""
    import json as _json

    p = os.path.join(path, "._contract")
    # under the lock: concurrent first-openers serialize and re-read,
    # so a lost race verifies rather than assumes, and every epoch
    # start recovers a compaction a kill left half-swapped
    with commit.lock(path):
        try:
            with open(p) as f:
                disk = _json.load(f)
        except FileNotFoundError:
            commit.write_atomic(p, _json.dumps(meta))
            disk = meta
    if disk != meta:
        raise ValueError(
            f"index at {path} was built under contract {disk}; this caller "
            f"supplied {meta}. Epochs written under different parameters "
            "join incompatible signatures/cells and silently corrupt "
            "results — reopen with the original parameters or build a "
            "new index path."
        )


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release a local checkpoint's storage blocks NOW instead of at
    the next driver GC. ``Dataset.unpersist`` only uncaches
    cache-manager entries, and a local checkpoint's blocks ARE its
    data (truncated lineage) — left to the ContextCleaner, a
    long-running stream would carry a few epochs of dead batches in
    the block manager between GC cycles. Best-effort by design: on
    any reflection mismatch the cleaner still reclaims the blocks
    once the DataFrame is garbage-collected."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — GC/ContextCleaner fallback
        pass


def _raise_all(errs: list[BaseException]) -> None:
    """Re-raise concurrent epoch-action failures without dropping any
    (r12 advice: raising errs[0] alone silently discarded the other
    thread's exception, complicating partially-failed-epoch diagnosis).
    One failure re-raises as itself; several raise an ExceptionGroup
    carrying every traceback. On Python 3.10 (supported floor:
    pyproject requires-python >=3.10) the BaseExceptionGroup builtin
    does not exist, so the first failure is raised with the others'
    full tracebacks attached as ``__notes__`` — degraded formatting,
    but no exception is silently dropped (r13 advice: the bare builtin
    reference raised NameError on 3.10, masking the real failures)."""
    if len(errs) == 1:
        raise errs[0]
    if sys.version_info >= (3, 11):
        raise BaseExceptionGroup(
            f"{len(errs)} concurrent epoch actions failed", errs
        )
    import traceback

    first = errs[0]
    first.__notes__ = getattr(first, "__notes__", []) + [
        f"+{len(errs) - 1} other concurrent epoch failure(s):\n"
        + "\n".join(
            "".join(traceback.format_exception(type(e), e, e.__traceback__))
            for e in errs[1:]
        )
    ]
    raise first
