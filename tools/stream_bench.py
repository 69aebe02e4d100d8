"""CDC-throughput microbench — the measurable analog of the
reference's only published numbers (BASELINE.md, `README.md:23-33`:
deep-resolve -> DummyOutput 400 MB/s; batch sync -> MySQL 140K tps).

Three legs over an amplified synthetic changelog (events-derived rows
replicated with distinct seq/pk so compaction has real work):

- ``resolve``  : full changelog derivation + JSON envelope marshal ->
                 noop sink. Analog of "binlog deep resolve ->
                 DummyOutput" (parse+transform, no sink cost).
- ``compact``  : per-key net-effect compaction -> parquet staging.
                 Analog of "batch sync" (the net-effect write path).
- ``merge``    : compaction + fenced bucketed MERGE into a live
                 target. Analog of "stream sync" (idempotent upsert
                 apply).

Then four index-ingest legs over one corpus: the argument
``corpus_dir`` when given, else $SPARK_GRAFT_X10_DIR (default
/tmp/pipe_s_sfx10, written by tools/make_sfx10.py: 40,000 vectors, so
10K-vector epochs) when that directory exists, else
$SPARK_GRAFT_SF_DIR (sf0.1: 2,000 vectors, 500-vector epochs):

- ``ivf_ingest``: the streaming IVF index, 4 epochs;
- ``ivf_ingest_2ep``: the same vectors in 2 epochs, whose difference
  estimates the fixed per-epoch cost;
- ``ivfpq_ingest``: 4 compressed (IVFADC) epochs;
- ``dedup_index_ingest``: the streaming MinHash-LSH dedup index, 4
  epochs of the corpus's documents.

Each epoch probes / bands against everything indexed earlier (the
steady-state shape). At sf0.1 the fixed per-epoch cost is ~98% of the
IVF leg (``fixed_share_4ep_est``), so its rows/s measures per-epoch
job overhead, not ingest. Each index leg records its ``source``
directory and ``rows_per_epoch``, so a reading names the scale it was
taken at. tools/stream_scaling.py runs this script once per scale.

Bytes/s uses the JSON-envelope byte size of the resolved rows (closest
analog of binlog MB; the reference also measures wire bytes).
Prints ONE JSON line. Env: SPARK_GRAFT_STREAMBENCH_ROWS (default 2M).

Usage: python tools/stream_bench.py [corpus_dir]

Single-machine parquet-in, not a MySQL wire protocol — documented as
the analog, not a reproduction (SURVEY §1.2: no DB/broker in env).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import host_probes, warm_up


def _leg(sec: float, rows: int, **extra) -> dict:
    return {"sec": round(sec, 2), "rows": rows, "rows_per_sec": int(rows / sec), **extra}


def _timed(run) -> float:
    t0 = time.time()
    run()
    return time.time() - t0


def _settle(spark, sec: float) -> None:
    """Collect the JVM's garbage now and let the collector finish, so
    the next timed leg does not pay for the previous step's garbage
    concurrently (r11: the first leg after the CDC section ran ~7 s
    slower than the identical work re-run moments later)."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(sec)


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return round(total / 1e6, 2)


def main() -> None:
    from pipe_s_spark.model import changelog_from_events
    from pipe_s_spark.operators.compaction import compact_changelog
    from pipe_s_spark.operators.jsonio import marshal_json
    from pipe_s_spark.session import get_spark
    from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

    target_rows = int(os.environ.get("SPARK_GRAFT_STREAMBENCH_ROWS", 2_000_000))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    x10 = os.environ.get("SPARK_GRAFT_X10_DIR", "/tmp/pipe_s_sfx10")
    corpus = sys.argv[1] if len(sys.argv) > 1 else (x10 if os.path.isdir(x10) else sf_dir)
    spark = get_spark(app_name="stream_bench")
    # Reducer sizing note (r12 verdict #3): the CDC legs used to pass
    # initialPartitionNum=256 as a bench-tool conf; that knob now lives
    # INSIDE the library (pipe_s_spark.sizing — compact_changelog
    # embeds a keyed repartition, apply_batch sizes its clustering
    # shuffle from the batch), so the bench runs the legs exactly as a
    # production caller would, with no session mutation to reset
    # afterwards.
    spark.sparkContext.setLogLevel("ERROR")
    # Python workers first, so the first index epoch measures the operator
    warm_up(spark)
    # machine-state probes (bench.host_probes): stream-leg readings have
    # swung 208K-283K rows/s across rounds on identical code; recording
    # them per session lets BASELINE.md's CDC table carry a host-state
    # column so cross-round deltas can be read probe-normalized (r12
    # verdict #6). The CDC legs are exchange-bound, so the shuffle
    # probe is the one expected to co-move with them.
    probes = host_probes(spark)

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = events.count()
    amplify = max(1, target_rows // n_events)
    # amplification keeps keys distinct per copy (pk offset) and seq
    # strictly increasing, so compaction ratios match a real stream's
    log = (
        changelog_from_events(events)
        .crossJoin(F.broadcast(spark.range(amplify).select(F.col("id").alias("rep"))))
        .withColumn("seq", F.col("seq") * amplify + F.col("rep"))
        .withColumn("pk", F.col("pk") + F.col("rep") * 1000)
        .drop("rep")
    )
    # materialize once; bench the operators, not the scan — ACROSS
    # data-proportional partitions. events.parquet is one scan split,
    # so the amplified changelog otherwise checkpoints into a SINGLE
    # partition and every leg starts with a one-task serial stage no
    # real deployment has (a 4.7 GB changelog arrives as ~40-80 scan
    # splits, never one): the r12 committed compact figure (379K
    # rows/s) was dominated by exactly that artifact. Sizing comes
    # from the library's own estimate (same rule at x1 and x10, so
    # scaling alphas compare the operator, not the harness).
    from pipe_s_spark.sizing import bulk_partitions

    n_parts = bulk_partitions(log) or int(spark.sparkContext.defaultParallelism)
    log = log.repartition(n_parts).localCheckpoint()
    n_rows = log.count()

    # byte volume of the resolved JSON envelopes (the MB/s denominator)
    avg_bytes = (
        log.limit(10_000)
        .transform(marshal_json(None, "v"))
        .agg(F.avg(F.length("v")))
        .collect()[0][0]
    )
    total_mb = n_rows * avg_bytes / 1e6

    out: dict = {
        "rows": n_rows,
        "approx_mb": round(total_mb, 1),
        **probes,
        "input_partitions": n_parts,
        "legs": {},
    }
    legs = out["legs"]

    def cdc_leg(sec: float) -> dict:
        return _leg(sec, n_rows, mb_per_sec=round(total_mb / sec, 1))

    tmp = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        legs["resolve"] = cdc_leg(
            _timed(
                lambda: log.transform(marshal_json(None, "v"))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        )
        legs["compact"] = cdc_leg(
            _timed(
                lambda: compact_changelog(
                    log, key_cols=("table_name", "pk"), payload_cols=["k", "value"]
                )
                .write.mode("overwrite")
                .parquet(f"{tmp}/staging")
            )
        )
        legs["merge"] = cdc_leg(
            _timed(lambda: MergeApplyTarget(f"{tmp}/target").apply_batch(log, epoch_id=1))
        )

        # drop the CDC legs' state before the index legs: the 2M-row
        # amplified changelog checkpoint (and the merge target's cached
        # buckets) otherwise stay pinned in executor memory and the
        # index legs time GC/spill pressure instead of the ingest
        # operator — measured swings up to 2x between identical-code runs
        log.unpersist()
        spark.catalog.clearCache()
        _settle(spark, 2)
        legs.update(_index_legs(spark, corpus, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(out))


def _index_legs(spark, corpus: str, tmp: str) -> dict:
    """The four index-ingest legs over ``corpus`` (module docstring).
    The continuous indexes have no reference analog; measured so each
    component ships with a number. Centroid and PQ codebook training
    are the offline once-per-corpus step every production IVF does, so
    they are excluded from the timed window."""
    from pipe_s_spark.functions.similarity import kmeans_train_int, pq_train_int
    from pipe_s_spark.streaming.dedup_index import apply_index_batch
    from pipe_s_spark.streaming.ivf_index import apply_ivf_batch

    emb = (
        spark.read.parquet(f"{corpus}/embeddings.parquet")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    n_vec = emb.count()
    cents = kmeans_train_int(emb, iters=2)

    def ivf(name: str, epochs: int, books=None, mod: int | None = None) -> None:
        """``epochs`` epochs of ``emb`` (split by vec_id mod ``mod``,
        default ``epochs``) into the index ``tmp/name``."""
        mod = mod or epochs
        for i in range(epochs):
            apply_ivf_batch(
                emb.filter(F.pmod(F.col("vec_id"), F.lit(mod)) == i),
                i,
                cents,
                f"{tmp}/{name}",
                f"{tmp}/{name}_topk",
                pq_books=books,
            )

    def warm(books=None) -> None:
        """Operator warmup (excluded from the timed window): one small
        epoch into a THROWAWAY index JITs the mode's assign/topk kernel
        pipelines — the steady-state ingest rate is the production-
        relevant number for an index that runs forever, and without
        this the first timed epoch measures whole-stage-codegen
        compilation (~3-4 s; isolated profile: epoch times
        5.3/3.5/2.2/2.2 s for identical work). The timed epochs still
        probe everything indexed earlier in the REAL index only. Then
        drain the warmup's own garbage: without it the first timed
        epoch collected it concurrently (~2-5 s of first-leg penalty
        the 2-epoch leg never paid)."""
        ivf("warm", 1, books, mod=37)
        for d in ("warm", "warm.cells", "warm_topk"):
            shutil.rmtree(f"{tmp}/{d}", ignore_errors=True)
        _settle(spark, 1)

    def ivf_leg(sec: float, epochs: int, **extra) -> dict:
        return _leg(
            sec, n_vec, epochs=epochs, source=corpus, rows_per_epoch=round(n_vec / epochs), **extra
        )

    legs: dict = {}
    warm()
    dt = _timed(lambda: ivf("ivf_index", 4))
    legs["ivf_ingest"] = ivf_leg(dt, 4)

    # fixed-cost vs per-vector split: the SAME corpus in HALF the
    # epochs (2x batch size). Total probe work is ~unchanged (the sum
    # over epochs of batch x earlier candidates depends on the corpus,
    # not the split), so the time delta vs the 4-epoch leg is ~2 epochs
    # of pure fixed cost (ledger read + window + three fenced writes +
    # job scheduling)
    dt2 = _timed(lambda: ivf("ivf_index_2ep", 2))
    fixed_est = max(0.0, (dt - dt2) / 2)
    legs["ivf_ingest_2ep"] = ivf_leg(
        dt2,
        2,
        per_epoch_fixed_sec_est=round(fixed_est, 2),
        fixed_share_4ep_est=round(min(1.0, fixed_est * 4 / dt), 2),
    )

    # compressed (IVFADC) leg: the index persists PQ codes instead of
    # vectors and the probe is ADC (m integer lookups per candidate);
    # its kernels (pq_encode + in-kernel-LUT grouped_adc_topk) share
    # nothing JIT-wise with the vector legs, so they get their own
    # warmup. index_mb vs the vector-mode index measures the
    # compression claim on disk.
    books = pq_train_int(emb)
    warm(books)
    legs["ivfpq_ingest"] = ivf_leg(
        _timed(lambda: ivf("ivfpq_index", 4, books)),
        4,
        index_mb=_dir_mb(f"{tmp}/ivfpq_index"),
        vector_index_mb=_dir_mb(f"{tmp}/ivf_index"),
    )

    docs = (
        spark.read.parquet(f"{corpus}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    n_doc = docs.count()

    def dedup() -> None:
        for i in range(4):
            apply_index_batch(
                docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == i),
                i,
                f"{tmp}/dedup_index",
                f"{tmp}/dedup_pairs",
            )

    legs["dedup_index_ingest"] = _leg(_timed(dedup), n_doc, epochs=4, source=corpus)
    return legs


if __name__ == "__main__":
    main()
