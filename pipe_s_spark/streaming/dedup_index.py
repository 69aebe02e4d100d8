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

Steps 2 and 3 read one materialized band frame and write both tables
at once (``epoch_log.checkpointed`` and ``epoch_log.concurrently``).
Every epoch first pins the index's MinHash parameters in
``._contract`` (``check_index_contract``, one ``commit.pin``).

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
    # both writes read the bands: materialize them once
    with epoch_log.checkpointed(new_bands) as new_bands:
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
        # the bands write only scans the checkpoint, so its job and
        # commit hide under the pair join
        epoch_log.concurrently(
            functools.partial(epoch_log.append, pairs_path, pairs.distinct(), batch_id),
            functools.partial(epoch_log.append, index_path, new_bands, batch_id),
        )


def check_index_contract(path: str, meta: dict) -> None:
    """Enforce an index directory's immutable compatibility contract.
    The strictly-earlier join only means anything if every epoch wrote
    rows under the SAME family parameters — a stream restarted with
    different MinHash banding (or an IVF index reopened with different
    centroids) joins incompatible signatures and silently emits wrong
    pairs, the same corruption class the merge target's ._layout file
    guards. ``commit.pin`` records ``meta`` in ``<path>/._contract`` on
    the first write and refuses a mismatch on every later one.
    Pre-existing indexes without the file adopt the opening caller's
    parameters, recorded going forward. The lock also makes every epoch
    start recover a compaction a kill left half-swapped."""
    with commit.lock(path):
        commit.pin(path, "._contract", meta)
