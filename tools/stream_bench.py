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

Then three ANN-index ingest legs (``ivf_ingest``: 4 epochs;
``ivf_ingest_2ep``: the same vectors in 2 epochs, whose difference
estimates the fixed per-epoch cost; ``ivfpq_ingest``: 4 compressed
epochs). They ingest the embeddings of $SPARK_GRAFT_X10_DIR (default
/tmp/pipe_s_sfx10, written by tools/make_sfx10.py: 40,000 vectors, so
10K-vector epochs) when that directory exists, else those of
$SPARK_GRAFT_SF_DIR (sf0.1: 2,000 vectors, 500-vector epochs). At
sf0.1 the fixed per-epoch cost is ~98% of the leg
(``fixed_share_4ep_est``), so its vectors/s measures per-epoch job
overhead, not ingest. Each leg records its ``source`` directory and
``vectors_per_epoch``, so a reading names the scale it was taken at.

Bytes/s uses the JSON-envelope byte size of the resolved rows (closest
analog of binlog MB; the reference also measures wire bytes).
Prints ONE JSON line. Env: SPARK_GRAFT_STREAMBENCH_ROWS (default 2M).

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


def main() -> None:
    from pipe_s_spark.model import changelog_from_events
    from pipe_s_spark.operators.compaction import compact_changelog
    from pipe_s_spark.operators.jsonio import marshal_json
    from pipe_s_spark.session import get_spark
    from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

    target_rows = int(os.environ.get("SPARK_GRAFT_STREAMBENCH_ROWS", 2_000_000))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="stream_bench")
    # Reducer sizing note (r12 verdict #3): the CDC legs used to pass
    # initialPartitionNum=256 as a bench-tool conf; that knob now lives
    # INSIDE the library (pipe_s_spark.sizing — compact_changelog
    # embeds a keyed repartition, apply_batch sizes its clustering
    # shuffle from the batch), so the bench runs the legs exactly as a
    # production caller would, with no session mutation to reset
    # afterwards.
    spark.sparkContext.setLogLevel("ERROR")

    # machine-state probe (same fixed workload as bench.py): stream-leg
    # readings have swung 208K-283K rows/s across rounds on identical
    # code; recording the probe per session lets BASELINE.md's CDC
    # table carry a host-state column so cross-round deltas can be
    # read probe-normalized (r12 verdict #6).
    def _probe() -> float:
        t0 = time.time()
        spark.range(50_000_000).selectExpr("sum(id * 3 + 1) as s").write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0

    _probe()  # warm
    probe_sec = round(min(_probe() for _ in range(3)), 4)

    # shuffle-flavored probe (r13, same workload as bench.py's): the
    # CDC legs are exchange-bound, so this is the probe expected to
    # co-move with them across host states
    def _probe_shuffle() -> float:
        t0 = time.time()
        spark.range(8_000_000).selectExpr(
            "id % 1000000 as k", "id as v"
        ).groupBy("k").agg({"v": "sum"}).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    _probe_shuffle()  # warm
    probe_shuffle_sec = round(min(_probe_shuffle() for _ in range(3)), 4)

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
        "probe_sec": probe_sec,
        "probe_shuffle_sec": probe_shuffle_sec,
        "input_partitions": n_parts,
        "legs": {},
    }
    tmp = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        t0 = time.time()
        log.transform(marshal_json(None, "v")).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        out["legs"]["resolve"] = {
            "sec": round(dt, 2),
            "rows_per_sec": int(n_rows / dt),
            "mb_per_sec": round(total_mb / dt, 1),
        }

        t0 = time.time()
        compact_changelog(
            log, key_cols=("table_name", "pk"), payload_cols=["k", "value"]
        ).write.mode("overwrite").parquet(f"{tmp}/staging")
        dt = time.time() - t0
        out["legs"]["compact"] = {
            "sec": round(dt, 2),
            "rows_per_sec": int(n_rows / dt),
            "mb_per_sec": round(total_mb / dt, 1),
        }

        t0 = time.time()
        tgt = MergeApplyTarget(f"{tmp}/target")
        tgt.apply_batch(log, epoch_id=1)
        dt = time.time() - t0
        out["legs"]["merge"] = {
            "sec": round(dt, 2),
            "rows_per_sec": int(n_rows / dt),
            "mb_per_sec": round(total_mb / dt, 1),
        }

        if os.environ.get("SPARK_GRAFT_STREAMBENCH_SKIP_IVF"):
            # CDC-only mode (tools/stream_scaling.py runs the three CDC
            # legs at two amplifications; the IVF legs don't depend on
            # the changelog size and would just repeat)
            print(json.dumps(out))
            return

        # ANN-index ingest leg: the continuous IVF index's vectors/s —
        # no reference analog (the reference has no ANN surface);
        # measured so the component ships with a number. Centroid
        # training is the offline step every production IVF does once,
        # so it is excluded from the timed window; the four epochs
        # cover the corpus, each joining against everything earlier.
        from pipe_s_spark.functions.similarity import kmeans_train_int
        from pipe_s_spark.streaming.ivf_index import apply_ivf_batch

        # drop the CDC legs' state before the index legs: the 2M-row
        # amplified changelog checkpoint (and the merge target's cached
        # buckets) otherwise stay pinned in executor memory and the IVF
        # legs time GC/spill pressure instead of the ingest operator —
        # measured swings up to 2x between identical-code runs. The
        # explicit GC + settle drains the CDC legs' shuffle garbage NOW
        # instead of concurrently inside the first timed index epoch
        # (r11: the first leg after the CDC section ran ~7 s slower
        # than the identical work re-run moments later).
        log.unpersist()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)

        x10 = os.environ.get("SPARK_GRAFT_X10_DIR", "/tmp/pipe_s_sfx10")
        emb_src = x10 if os.path.isdir(x10) else sf_dir
        emb = (
            spark.read.parquet(f"{emb_src}/embeddings.parquet")
            .select("vec_id", "embedding")
            .localCheckpoint()
        )
        n_vec = emb.count()
        cents = kmeans_train_int(emb, iters=2)
        # operator warmup (excluded from the timed window, like the
        # session warmup above): one small epoch into a THROWAWAY index
        # JITs the assign/topk kernel pipelines — the steady-state
        # ingest rate is the production-relevant number for an index
        # that runs forever, and without this the first timed epoch
        # measures whole-stage-codegen compilation (~3-4 s) instead of
        # the operator (isolated profile: epoch times 5.3/3.5/2.2/2.2 s
        # for identical work). The throwaway path keeps the timed
        # epochs' probe work exactly what it was: every epoch still
        # probes everything indexed earlier in the REAL index only.
        apply_ivf_batch(
            emb.filter(F.pmod(F.col("vec_id"), F.lit(37)) == 0),
            0,
            cents,
            f"{tmp}/warm_index",
            f"{tmp}/warm_topk",
        )
        shutil.rmtree(f"{tmp}/warm_index", ignore_errors=True)
        shutil.rmtree(f"{tmp}/warm_index.cells", ignore_errors=True)
        shutil.rmtree(f"{tmp}/warm_topk", ignore_errors=True)
        # drain the WARMUP epoch's own garbage too: without this the
        # first timed epoch still collected it concurrently (measured
        # ~2-5 s of first-leg penalty the 2-epoch leg never paid;
        # with it the in-session 4-epoch rate matches the isolated
        # profile)
        spark.sparkContext._jvm.System.gc()
        time.sleep(1)
        t0 = time.time()
        for i in range(4):
            apply_ivf_batch(
                emb.filter(F.pmod(F.col("vec_id"), F.lit(4)) == i),
                i,
                cents,
                f"{tmp}/ivf_index",
                f"{tmp}/ivf_topk",
            )
        dt = time.time() - t0
        out["legs"]["ivf_ingest"] = {
            "sec": round(dt, 2),
            "vectors": n_vec,
            "vectors_per_sec": int(n_vec / dt),
            "epochs": 4,
            "source": emb_src,
            "vectors_per_epoch": round(n_vec / 4),
        }

        # fixed-cost vs per-vector split: the SAME corpus in HALF the
        # epochs (2x batch size). Total probe work is ~unchanged (the
        # sum over epochs of batch x earlier candidates depends on the
        # corpus, not the split), so the time delta vs the 4-epoch leg
        # is ~2 epochs of pure fixed cost (ledger read + window + three
        # fenced writes + job scheduling); per_epoch_fixed_sec_est and
        # the per-vector share make the BASELINE.md "fixed-cost bound"
        # claim a measured number instead of a diagnosis.
        t0 = time.time()
        for i in range(2):
            apply_ivf_batch(
                emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == i),
                i,
                cents,
                f"{tmp}/ivf_index_2ep",
                f"{tmp}/ivf_topk_2ep",
            )
        dt2 = time.time() - t0
        fixed_est = max(0.0, (dt - dt2) / 2)
        out["legs"]["ivf_ingest_2ep"] = {
            "sec": round(dt2, 2),
            "vectors": n_vec,
            "vectors_per_sec": int(n_vec / dt2),
            "epochs": 2,
            "source": emb_src,
            "vectors_per_epoch": round(n_vec / 2),
            "per_epoch_fixed_sec_est": round(fixed_est, 2),
            "fixed_share_4ep_est": round(min(1.0, fixed_est * 4 / dt), 2),
        }

        # compressed (IVFADC) ingest leg: same four epochs, but the
        # index persists PQ codes instead of vectors and the probe is
        # ADC (m integer lookups per candidate). Codebook training is
        # the same offline once-per-corpus step as centroid training —
        # excluded from the timed window. index_mb vs the vector-mode
        # index measures the compression claim on disk.
        from pipe_s_spark.functions.similarity import pq_train_int

        def _dir_mb(path: str) -> float:
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
            return round(total / 1e6, 2)

        books = pq_train_int(emb)
        # ADC-mode warmup epoch (throwaway index, untimed): the
        # compressed path runs different kernels (pq_encode +
        # in-kernel-LUT grouped_adc_topk) that the vector legs never
        # JIT'd — same rationale as the vector-mode warmup above
        apply_ivf_batch(
            emb.filter(F.pmod(F.col("vec_id"), F.lit(37)) == 0),
            0,
            cents,
            f"{tmp}/warm_pq_index",
            f"{tmp}/warm_pq_topk",
            pq_books=books,
        )
        for d in ("warm_pq_index", "warm_pq_index.cells", "warm_pq_topk"):
            shutil.rmtree(f"{tmp}/{d}", ignore_errors=True)
        spark.sparkContext._jvm.System.gc()
        time.sleep(1)
        t0 = time.time()
        for i in range(4):
            apply_ivf_batch(
                emb.filter(F.pmod(F.col("vec_id"), F.lit(4)) == i),
                i,
                cents,
                f"{tmp}/ivfpq_index",
                f"{tmp}/ivfpq_topk",
                pq_books=books,
            )
        dt = time.time() - t0
        out["legs"]["ivfpq_ingest"] = {
            "sec": round(dt, 2),
            "vectors": n_vec,
            "vectors_per_sec": int(n_vec / dt),
            "epochs": 4,
            "source": emb_src,
            "vectors_per_epoch": round(n_vec / 4),
            "index_mb": _dir_mb(f"{tmp}/ivfpq_index"),
            "vector_index_mb": _dir_mb(f"{tmp}/ivf_index"),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
