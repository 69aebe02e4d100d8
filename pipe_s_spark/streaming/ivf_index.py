"""CONTINUOUS ANN/IVF index maintenance: an embedding stream keeps a
persisted cell-assigned vector index up to date and emits, for every
arriving vector, its exact-cosine top-k among everything indexed no
later than it — the operational form of the batch `sim_ivf_topk` /
`sim_ivf_kmeans` queries (there the index is built in one pass; here
it accretes). Centroids are TRAINED OFFLINE (functions.similarity.
kmeans_train_int on a bootstrap corpus — the standard IVF pattern:
train once on a sample, ingest forever) and passed in as the same
literal centroid matrix the batch queries pin.

Per micro-batch, as the body of the library's one streaming epoch loop
(``streaming.epoch_log.run_stream``, which also folds the three tables
on the ``compact_every`` cadence):

1. assign each arriving vector to its argmax cell and top-``nprobe``
   probe cells with the NARROW literal-matrix integer expressions
   (kmeans_probes_int — zero shuffle over the batch);
2. stamp each vector's per-cell arrival rank (``cell_rank``) from a
   tiny O(#cells) running-count ledger, and mark it ``searchable``
   iff its rank <= ``cell_cap`` — the write-time form of the batch
   queries' SIM_BUCKET_CAP bucket guard (see below);
3. join the batch's probe lists against the SEARCHABLE members of the
   probed cells in the strictly-earlier index plus the batch itself,
   exact-cosine re-rank, keep top-k per query -> appended to
   ``topk_path``;
4. append the batch's assigned vectors to ``index_path`` and its
   per-cell counts to the ledger.

Steps 3 and 4 read one materialized batch and run as three concurrent
actions (``epoch_log.checkpointed`` and ``epoch_log.concurrently``).
Every epoch first pins the centroid, cap and codebook fingerprints in
``._contract`` (``dedup_index.check_index_contract``).

Exactly-once on replay: every table (index, ledger, topk) is an epoch
log (streaming.epoch_log: one ``batch_id`` partition per epoch, written
with dynamic partition OVERWRITE, the ledger by a driver-side staged
install), and both the index join and the ledger base counts admit
STRICTLY EARLIER epochs only — a replayed epoch sees exactly the
index, ranks, and candidates it saw the first time and rewrites its
own partitions to identical content, even if later epochs already
landed (the property proven for the dedup index by its out-of-order
replay test; tests/test_ivf_index_stream.py proves it here).

Why the cap is write-time, not query-time: the batch queries bound a
hot bucket with a per-query window over the corpus (cap_group_size) —
fine when you scan the corpus once per query, quadratic-in-epochs if a
stream re-ran it per batch. Stamping a deterministic arrival rank once
at write time costs O(batch + #cells) per epoch, keeps every cell's
SEARCHABLE membership at most ``cell_cap`` forever, and drops exactly
the over-full tail a capped batch recompute would drop. At 100 TB:
per-ingest cost is O(batch x probed-cell members), never O(index);
the rank ledger is O(#cells) rows per epoch; a pathological hot cell
(mass-duplicate embeddings — the norm in web corpora) saturates at
``cell_cap`` searchable members instead of fanning every future batch
out against millions.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipe_s_spark.functions import similarity as S
from pipe_s_spark.streaming import epoch_log
from pipe_s_spark.streaming.dedup_index import check_index_contract
from pipe_s_spark.streaming.epoch_log import DEFAULT_COMPACT_EVERY


def _fingerprint(mapping: dict) -> str:
    """Deterministic sha256 of a {key: int-list} training artifact
    (centroid matrix, PQ codebook) — key-order-independent, exact on
    the int64 values, so a retrained-but-identical artifact still
    matches and any real drift does not."""
    import hashlib
    import json as _json

    blob = _json.dumps(
        sorted((str(k), list(v)) for k, v in mapping.items())
    ).encode()
    return hashlib.sha256(blob).hexdigest()[:16]

#: default per-cell searchable-membership bound — the same constant the
#: batch ANN queries cap buckets with (queries_llm_shared.SIM_BUCKET_CAP).
IVF_CELL_CAP = 1000

#: Sub-blocks per probed cell for the local-topk kernel. With few
#: coarse cells (IVF_CELLS = 8) the grouped kernel runs as #cells
#: tasks — 8 of 32 local cores — and each task scores
#: batch/#cells x cell members in one matmul. Salting members by
#: id % IVF_TOPK_SALT and replicating each query row to every
#: sub-block multiplies parallelism by the salt at the cost of
#: salt x query-row duplication; the union of a query's per-sub-block
#: top-k still contains its global top-k (same (-score, id) order
#: locally and globally), which the per-query window already
#: finishes. Output-identical — the salt only changes work placement.
#:
#: Every rate quoted here and at IVF_TOPK_SALT_ADC is a
#: tools/stream_bench.py IVF leg on the x10 corpus (tools/make_sfx10.py:
#: 40K vectors, 10K-vector epochs). Without it the legs run sf0.1's
#: 500-vector epochs, ~98% fixed per-epoch cost, and cannot show these
#: differences.
#:
#: BOTH modes salt by default. The ADC mode used to opt out: when its
#: query rows carried their m*k LUT (~4 KB each), salting multiplied
#: the heaviest column 4x (~320 MB of Arrow per 10K-vector epoch) —
#: faster isolated but consistently slower under full-session memory
#: pressure (1043 vs 1919 v/s). The LUT column no longer exists: ADC
#: queries ship the packed 512-byte xq and the kernel rebuilds LUTs
#: in-task from the broadcast-sized codebook (grouped_adc_topk
#: books=), so salt duplication costs 1/8th of what it did and the
#: mode keeps its isolated-salting win inside the full session.
#:
#: r12 A/B at the steady-state 10K-vector epoch (warm, 4 reps each):
#: salt 1 = 2.1-3.6 s (one straggler group per cell), salt 2 = ~1.2 s,
#: salt 4 = ~1.1 s, salt 8 = ~0.9-1.0 s (kernel-only). A salt-6 probe
#: was A/B'd under the r12 concurrent-actions epoch and looked better
#: isolated (3,847/5,406 v/s vs salt 8's 2,795/4,467) but LOST in both
#: full stream_bench sessions (2,518/3,436 vs salt 8's 4,083/3,978 in
#: the same leg position) — the isolated ordering effect was host
#: noise, the in-session sessions are the protocol the bars are
#: defined on, so 8 stays.
IVF_TOPK_SALT = 8

#: The ADC mode salts LESS: its kernel rebuilds each query row's m*k
#: LUT from the codebook IN EVERY sub-block the row lands in, so LUT
#: work scales linearly with the salt (r12, x10 corpus: salt 8 sank ivfpq ingest
#: 2,558 -> 1,355 v/s while the same salt LIFTED the vector mode).
#: Under the concurrent-actions epoch (counts + index write overlap
#: the probe kernel) 8 cells x salt 3 = 24 kernel tasks also leave
#: cores for the overlapped jobs — measured 2,700-3,460 v/s vs
#: 1,700-1,976 at salt 4 and 2,480-2,893 at salt 2 (two A/B orders).
IVF_TOPK_SALT_ADC = 3


#: below this many trained cells, skip the probed-cells broadcast
#: semi-join on the member side: a batch of any size probes essentially
#: every cell, so the filter passes everything while costing a full
#: Spark job (distinct + broadcast build) per epoch. Above it the join
#: is the term that keeps per-epoch exchange volume O(batch x probed
#: members) instead of O(index) — see apply_ivf_batch.
PROBE_FILTER_MIN_CELLS = 64

#: ... but cell count alone is a TRAINING choice independent of index
#: size (r11 advisory): a few-cell index with cell_cap opted OUT can
#: hold millions of members, and skipping the semi-join would shuffle
#: all of them through the kernel every epoch. The skip therefore also
#: requires the strictly-earlier SEARCHABLE membership — known
#: driver-side for free from the same ledger fold that seeds cell
#: ranks: sum(min(n, cell_cap)) — to stay under this bound. With the
#: default cap the searchable corpus of a <64-cell index is <= 64K
#: members and the skip always applies; with cap=None a grown index
#: crosses the bound and the semi-join switches back on by itself.
PROBE_SKIP_MAX_MEMBERS = 250_000


def _read_base_counts(cells_path: str, batch_id: int) -> dict[int, int] | None:
    """Driver-side pyarrow fold of the strictly-earlier ledger
    partitions (epoch_log.partitions) into {cell: count} — the read
    half of the epoch's driver-side ledger install. The ledger is
    O(#cells x epochs) rows of bounded metadata (and compaction keeps
    the partition count itself bounded), so reading it through a Spark
    job + broadcast exchange cost ~0.5 s of pure per-epoch fixed
    overhead for a table that fits in a dict. Compacted partitions
    (folded to ``batch_id = watermark - 1`` with multiplicity
    preserved) sum the same. Returns None when no earlier partition
    exists (epoch 0 / fresh index)."""
    import pyarrow.parquet as papq

    parts = epoch_log.partitions(cells_path, before=batch_id)
    base: dict[int, int] = {}
    for part in parts:
        t = papq.read_table(part, columns=["cell", "n"])
        for c, n in zip(t["cell"].to_pylist(), t["n"].to_pylist()):
            base[c] = base.get(c, 0) + n
    return base if parts else None


def run_ivf_index_stream(
    vec_stream: DataFrame,
    centroids: dict[int, list[int]],
    index_path: str,
    topk_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    k: int = 5,
    cell_cap: int | None = IVF_CELL_CAP,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
    await_seconds: int | None = None,
    pq_books: dict[tuple[int, int], list[int]] | None = None,
    pq_m: int | None = None,
    pq_k: int | None = None,
):
    """Start (and optionally await) the index maintainer on
    ``vec_stream``. The index holds (vec_id, embedding, cell,
    cell_rank, searchable, batch_id); the ledger (``index_path`` +
    ``.cells``) holds (cell, n, batch_id); topk holds (query_id,
    neighbor_id, cos_sim, rk, batch_id).

    ``cell_cap`` is DEFAULT-ON at IVF_CELL_CAP (pass None to opt out
    and keep every member searchable); ``compact_every`` folds
    committed per-batch partitions of all three tables every N epochs
    (the epoch loop streaming.epoch_log.run_stream — the ledger folds
    with ``dedupe=False`` because its (cell, n) rows legitimately
    repeat across epochs). DEFAULT-ON at
    streaming.epoch_log.DEFAULT_COMPACT_EVERY (None opts out).

    With ``pq_books`` (a trained functions.similarity.pq_train_int
    codebook) the index runs in COMPRESSED mode — the FAISS IVFADC
    memory model made continuous: the persisted index stores the
    PQ ``codes`` column instead of the embedding (~26x smaller state
    at the default geometry — the difference between an index that
    fits in RAM at 10^10 vectors and one that doesn't), arriving
    vectors ship their packed 512-byte quantized form to the probe
    kernel — which rebuilds each query's ADC lookup table in-task
    from the broadcast-sized codebook — and the probe scores earlier
    members with m integer array lookups per candidate; topk then
    holds (query_id, neighbor_id, adc_dot, rk, batch_id). Same strictly-earlier reads, same ledger, same
    replay/compaction contract — everything is exact int64, so a
    replayed epoch rewrites byte-identical partitions."""
    body = functools.partial(
        apply_ivf_batch,
        centroids=centroids,
        index_path=index_path,
        topk_path=topk_path,
        id_col=id_col,
        vec_col=vec_col,
        nprobe=nprobe,
        k=k,
        cell_cap=cell_cap,
        pq_books=pq_books,
        pq_m=pq_m,
        pq_k=pq_k,
    )
    return epoch_log.run_stream(
        vec_stream,
        body,
        checkpoint,
        # the ledger's (cell, n) rows legitimately repeat across epochs
        logs=[(index_path, True), (_cells_path(index_path), False), (topk_path, True)],
        compact_every=compact_every,
        await_seconds=await_seconds,
    )


def _cells_path(index_path: str) -> str:
    return index_path.rstrip("/") + ".cells"


def _merge_local_topk(local: DataFrame, score_col: str, k: int) -> DataFrame:
    """Global per-query top-k from the kernel's per-sub-block lists —
    as a HASH AGGREGATE (collect per query, array_sort, slice) instead
    of the previous row_number sort-window. Identical output: the sort
    key is the struct (-score, neighbor_id), the same total order the
    window used (double negation is exact, including -0.0 vs 0.0 —
    Double.compare puts -cos of 0.0 before -cos of -0.0 exactly as
    desc(cos) orders 0.0 before -0.0; int64 scores cannot overflow the
    negation: they are sums of m ~2^40-bounded LUT entries). NaN
    scores WOULD order differently (desc(score) ranks NaN first, the
    ascending struct(-score) ranks it last) — but no kernel can emit
    one: every cosine kernel guards zero-norm vectors (normalized to
    the zero vector, cos 0.0 — r13 advice), and the ADC path is int64.
    The agg
    combines map-side and avoids the window's whole-partition sort of
    every candidate row — at 10^10 vectors the shuffle carries the
    same rows either way, but the reducer state is k entries per
    query, never a sort buffer."""
    tk = F.struct(
        (-F.col(score_col)).alias("_n"), F.col("neighbor_id").alias("_id")
    )
    agg = local.groupBy("query_id").agg(
        F.slice(F.array_sort(F.collect_list(tk)), 1, k).alias("_tk")
    )
    return agg.select(
        "query_id", F.posexplode("_tk").alias("_rk0", "_t")
    ).select(
        "query_id",
        F.col("_t._id").alias("neighbor_id"),
        (-F.col("_t._n")).alias(score_col),
        (F.col("_rk0") + 1).cast("int").alias("rk"),
    )


def _ledger(ranked: DataFrame):
    """This epoch's per-cell counts as the ledger's pyarrow table (cell
    int32, n int64: what ``_read_base_counts`` and compaction read).
    Collected to the driver: a Spark write of ~#cells rows cost a job
    and a commit, ~0.5 s per epoch."""
    import pyarrow as pa

    counts = ranked.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    return pa.table(
        {
            "cell": pa.array([r["cell"] for r in counts], type=pa.int32()),
            "n": pa.array([r["n"] for r in counts], type=pa.int64()),
        }
    )


def apply_ivf_batch(
    batch_df: DataFrame,
    batch_id: int,
    centroids: dict[int, list[int]],
    index_path: str,
    topk_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    k: int = 5,
    cell_cap: int | None = IVF_CELL_CAP,
    pq_books: dict[tuple[int, int], list[int]] | None = None,
    pq_m: int | None = None,
    pq_k: int | None = None,
) -> None:
    """One epoch of index maintenance — the foreachBatch body, exposed
    so replay/recovery paths are directly testable: calling this twice
    with the same (batch, batch_id) rewrites the same partitions to
    identical content (exactly what a post-crash Structured Streaming
    replay does). See run_ivf_index_stream for the compressed
    (``pq_books``) mode."""
    # index compatibility contract (see dedup_index.check_index_contract):
    # the strictly-earlier probe joins cells across epochs, so the
    # centroid matrix (cell numbering AND geometry), the searchable
    # cap, and — in compressed mode — the PQ codebook must be
    # byte-identical across every epoch of an index's life. A stream
    # restarted with retrained centroids would probe yesterday's cell
    # 3 as today's cell 3 and silently return wrong neighbors.
    # Fingerprints, not full payloads: the codebook is ~16 KB and the
    # contract file should stay a metadata read. nprobe is a
    # query-time choice (affects that epoch's probe breadth only) and
    # stays retunable.
    check_index_contract(
        index_path,
        {
            "kind": "ivf_adc" if pq_books is not None else "ivf",
            "centroids_sha": _fingerprint(centroids),
            "cell_cap": cell_cap,
            "books_sha": _fingerprint(pq_books) if pq_books is not None else None,
        },
    )
    spark = batch_df.sparkSession
    cells_path = _cells_path(index_path)
    if pq_books is not None:
        # geometry is DERIVED from the codebook itself unless pinned:
        # m = highest subspace id + 1, subdim = codeword length, and
        # the LUT stride k = highest live code id + 1 (every consumer
        # in this epoch — pq_encode_table, pq_lut_table,
        # grouped_adc_topk — uses the same values, so a tail of
        # dropped codes only shrinks the table). Trusting a caller's
        # pqM default against differently-trained books would slice
        # vectors past their width or feed _pq_books_np empty subs.
        if pq_m is None:
            pq_m = max(s for s, _c in pq_books) + 1
        if pq_k is None:
            pq_k = max(c for _s, c in pq_books) + 1
        dim = len(next(iter(pq_books.values()))) * pq_m

    # assignment + probe list in ONE Arrow kernel (exact int64 matmul,
    # bit-identical to the kmeans_probes_int expression path — see
    # kmeans_assign_probes_table): the interpreted HOF fold form
    # measured ~1.2 s per 10K-vector epoch just to assign.
    # Compressed mode FUSES the PQ encode into the same pass
    # (ivf_adc_prepare_table): the persisted member payload is the PQ
    # code (the m-byte symbol), never the vector; xqb (packed 512-byte
    # query) rides along ONLY as this epoch's probe payload — the ADC
    # kernel rebuilds each query's LUT in-task from the broadcast-sized
    # codebook, so the 4 KB LUT column never exists as a DataFrame
    # column at all. The previously separate assign + encode passes
    # shipped the raw vector through the worker boundary twice and
    # quantized it twice — ~0.3 s of a 10K-vector epoch.
    # right-size the assign kernel's Arrow batching: a micro-batch
    # arriving in many near-empty source partitions (a 10K-vector
    # epoch filtered from a 32-partition stream = ~300 rows/task)
    # pays per-task python-worker + Arrow round-trip overhead ~30x
    # the matmul it runs. coalesce (narrow — no shuffle, a no-op when
    # the batch already has fewer partitions) to ~4 MB/task from the
    # plan-statistics estimate; big batches keep their parallelism.
    from pipe_s_spark.sizing import bulk_partitions

    n_assign = bulk_partitions(batch_df, target_bytes=4 * 1024 * 1024)
    if n_assign is not None:
        batch_df = batch_df.coalesce(n_assign)
    if pq_books is not None:
        assigned = S.ivf_adc_prepare_table(
            batch_df,
            centroids,
            pq_books,
            nprobe=nprobe,
            m=pq_m,
            k=pq_k,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
        )
    else:
        assigned = S.kmeans_assign_probes_table(
            batch_df, centroids, nprobe=nprobe, id_col=id_col, vec_col=vec_col
        )

    # per-cell arrival rank: base = committed count of STRICTLY EARLIER
    # members (O(#cells) ledger rows — bounded metadata, never data),
    # plus a deterministic within-batch rank. Replay-safe: the base
    # reads batch_id < this epoch only, so a replayed epoch recomputes
    # identical ranks even if later epochs already appended. The base
    # is folded DRIVER-SIDE (pyarrow — _read_base_counts) into a
    # literal map expression: reading bounded metadata through a Spark
    # job + broadcast exchange was ~0.5 s of per-epoch fixed cost. A
    # very large trained cell count falls back to a broadcast join on
    # a driver-local DataFrame (still no parquet-scan job) — a literal
    # map with 10^5 entries would bloat the plan tree instead.
    base_map = _read_base_counts(cells_path, batch_id)
    # materialize `ranked` across min(#cells, session shuffle
    # partitions) partitions instead of the session default: the rank
    # window clusters by cell, so with 8 trained cells at most 8 of 32
    # default partitions are non-empty — yet every downstream consumer
    # of the persisted batch (top-k corpus+query cache scans, index
    # write, counts aggregate) would launch a task per EMPTY partition
    # too, ~50 no-op tasks of pure scheduling per epoch at the 10K
    # grain. The explicit keyed repartition is the exchange the window
    # needs anyway (required distribution satisfied — no extra
    # shuffle), just at the layout's natural width.
    n_rank_parts = max(
        1,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            len(centroids),
        ),
    )
    w = Window.partitionBy("cell").orderBy(id_col)
    ranked = assigned.repartition(n_rank_parts, "cell").withColumn(
        "batch_rank", F.row_number().over(w)
    )
    if not base_map:
        ranked = ranked.withColumn("cell_rank", F.col("batch_rank").cast("long"))
    elif len(base_map) <= 4096:
        # explicit casts: F.lit infers int32 vs int64 PER literal, and
        # a count crossing 2^31 would otherwise mix value types inside
        # one create_map (analysis error)
        mp = F.create_map(
            *[
                c
                for cell, n in base_map.items()
                for c in (F.lit(cell).cast("int"), F.lit(n).cast("long"))
            ]
        )
        ranked = ranked.withColumn(
            "cell_rank",
            (F.coalesce(mp[F.col("cell")], F.lit(0)) + F.col("batch_rank")).cast(
                "long"
            ),
        )
    else:
        base = spark.createDataFrame(
            list(base_map.items()), "cell int, base_n long"
        )
        ranked = (
            ranked.join(F.broadcast(base), "cell", "left")
            .withColumn(
                "cell_rank",
                (F.coalesce(F.col("base_n"), F.lit(0)) + F.col("batch_rank")).cast(
                    "long"
                ),
            )
            .drop("base_n")
        )
    searchable = (
        F.col("cell_rank") <= F.lit(cell_cap) if cell_cap is not None else F.lit(True)
    )
    # the epoch's three actions all read `ranked`: materialize it once
    # (replay-unaffected: this changes WHERE the batch materializes,
    # not what any write contains)
    ranked = ranked.withColumn("searchable", searchable).drop("batch_rank")
    with epoch_log.checkpointed(ranked) as ranked:
        # candidate corpus: searchable members of strictly-earlier
        # epochs plus this batch itself (a vector may match a
        # same-batch arrival — mirrors the dedup index's self-join leg)
        member_payload = "codes" if pq_books is not None else vec_col
        member_cols = [id_col, member_payload, "cell"]
        corpus = ranked.filter(F.col("searchable")).select(*member_cols)
        earlier = epoch_log.read(spark, index_path, before=batch_id)
        if earlier is not None:
            corpus = corpus.unionByName(
                earlier.filter(F.col("searchable")).select(*member_cols)
            )
        # restrict the member side to cells THIS batch actually probes
        # (broadcast semi-join on the distinct probe-cell set — at most
        # batch x nprobe values): without it every searchable member of
        # every cell shuffles through the grouped kernel each epoch —
        # O(index) exchange volume per ingest, exactly the term the
        # per-epoch cost must not contain at 10^10 vectors. Members of
        # unprobed cells can never appear in any local top-k, so the
        # output is unchanged (groups without a query emit nothing) —
        # which is also why the join is SKIPPED under
        # PROBE_FILTER_MIN_CELLS: with few trained cells any batch
        # probes all of them, so the filter passes everything while its
        # distinct + broadcast build cost a Spark job per epoch. The
        # skip additionally requires the earlier SEARCHABLE membership
        # (driver-side from the same ledger fold) to stay bounded —
        # cell count is a training choice, not a size bound
        # (PROBE_SKIP_MAX_MEMBERS; r11 advisory).
        searchable_earlier = (
            sum(
                (min(n, cell_cap) if cell_cap is not None else n)
                for n in base_map.values()
            )
            if base_map
            else 0
        )
        if (
            len(centroids) >= PROBE_FILTER_MIN_CELLS
            or searchable_earlier > PROBE_SKIP_MAX_MEMBERS
        ):
            probed = ranked.select(F.explode("probe_cells").alias("cell")).distinct()
            corpus = corpus.join(F.broadcast(probed), "cell")
        # sub-block the probed cells (IVF_TOPK_SALT): the grouped
        # kernel otherwise runs one task per CELL — 8 tasks on a
        # 32-core local run, and one straggler cell per epoch at scale.
        # Both modes salt now that the ADC probe payload is the packed
        # 512-byte xq instead of a 4 KB LUT (see IVF_TOPK_SALT note)
        salt_n = IVF_TOPK_SALT_ADC if pq_books is not None else IVF_TOPK_SALT
        corpus = corpus.withColumn(
            "gc", F.col("cell") * salt_n + F.pmod(F.col(id_col), F.lit(salt_n))
        )

        def _salted_queries(qdf: DataFrame) -> DataFrame:
            return qdf.withColumn(
                "s", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
            ).withColumn("gc", F.col("cell") * salt_n + F.col("s"))

        if pq_books is not None:
            # ADC probe: each query row ships its PACKED xq (512 B) to
            # the per-cell kernel, which rebuilds the m*k LUT in-task
            # from the closure-shipped codebook (~16 KB constant) and
            # LUT-gathers the probed cells' members — the index side
            # never decodes (it has nothing to decode: it stores
            # codes), and NOTHING LUT-sized ever crosses the wire (the
            # shipped-LUT forms measured: per-pair join 2.7x slower;
            # per-cell packed-LUT rows 8x heavier than xq, which is
            # what made salting a net loss for this mode before).
            # Scores are exact int64 — the in-kernel fold is the same
            # _fold_dot_np pq_lut_table runs — so ranking (and replay)
            # is deterministic without any rounding convention.
            queries = _salted_queries(
                ranked.select(
                    F.col(id_col).alias("query_id"),
                    F.col("xqb"),
                    F.explode("probe_cells").alias("cell"),
                )
            )
            local = S.grouped_adc_topk(
                queries, corpus, "gc", lut_col="xqb", id_col=id_col, m=pq_m,
                k_codes=pq_k, k=k, books=pq_books, dim=dim,
            )
            topk = _merge_local_topk(local, "adc_dot", k)
        else:
            queries = _salted_queries(
                ranked.select(
                    F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("q_emb"),
                    F.explode("probe_cells").alias("cell"),
                )
            )
            # per-cell matmul local top-k (similarity.grouped_topk_exact):
            # members cross the wire once per cell instead of once per
            # candidate pair — at batch x nprobe x cell_cap candidates the
            # per-pair join's Arrow transfer alone dwarfs the FLOPs (the
            # pair-join form measured ~400 vectors/s ingest; this one
            # ~20x that). The union of a query's per-cell lists contains
            # its global top-k (same (-cos, id) order locally and
            # globally), which the per-query window below finishes.
            local = S.grouped_topk_exact(
                queries, corpus, "gc", id_col=id_col, vec_col=vec_col, k=k
            )
            topk = _merge_local_topk(local, "cos_sim", k)
        # the epoch's three actions run CONCURRENTLY: the top-k probe
        # job is the long pole (~1.5 s at the 10K grain); the index
        # write (~0.35 s of job+commit fixed cost) and the ledger counts
        # (~0.5 s) hide entirely under it. Canonical column order on the
        # index write: the ledger join moves its key to the front, so an
        # epoch replayed against an existing ledger would otherwise
        # write its partition with a different column order than it did
        # the first time.
        index_df = ranked.select(
            id_col, member_payload, "cell", "cell_rank", "searchable"
        )
        epoch_log.concurrently(
            functools.partial(epoch_log.append, topk_path, topk, batch_id),
            functools.partial(epoch_log.append, index_path, index_df, batch_id),
            lambda: epoch_log.install(cells_path, batch_id, _ledger(ranked)),
        )
