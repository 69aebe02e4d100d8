"""streaming.dedup_index: the continuously-maintained LSH band index
must yield EXACTLY the candidate-pair set a batch recompute over the
full corpus produces, with per-ingest work bounded by the batch; a
restart with the same checkpoint must not re-emit or duplicate."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipe_s_spark.functions.dedup import lsh_bands, minhash_signature, shingles
from pipe_s_spark.streaming.dedup_index import run_dedup_index_stream

SF = "/root/testdata/sf0.001"


def _batch_pairs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    sh = shingles(docs, "doc_id", "text", k=3)
    bands = lsh_bands(minhash_signature(sh, "doc_id"), "doc_id")
    a, b = bands.alias("a"), bands.alias("b")
    return {
        (r["d1"], r["d2"])
        for r in a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
        .collect()
    }


def test_streaming_index_matches_batch_recompute(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    src = tmp_path / "docs_src"
    # two arrival waves -> two micro-batches (maxFilesPerTrigger=1)
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(src / "w1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(src / "w2"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    idx_p, pr_p, ck = str(tmp_path / "index"), str(tmp_path / "pairs"), str(tmp_path / "ck")
    run_dedup_index_stream(stream, idx_p, pr_p, ck, await_seconds=240)

    got = {
        (r["d1"], r["d2"])
        for r in spark.read.parquet(pr_p).select("d1", "d2").collect()
    }
    want = _batch_pairs(spark)
    assert got == want and len(want) > 0
    # every pair exactly once across batch partitions
    n_rows = spark.read.parquet(pr_p).count()
    assert n_rows == len(got)
    # the index now covers the whole corpus
    n_indexed = spark.read.parquet(idx_p).select("doc_id").distinct().count()
    assert n_indexed == docs.count()

    # restart on the same checkpoint: no new data -> nothing re-emitted
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_dedup_index_stream(stream2, idx_p, pr_p, ck, await_seconds=240)
    assert spark.read.parquet(pr_p).count() == n_rows


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """Replaying an epoch (the post-crash Structured Streaming path)
    must leave the index and pair tables IDENTICAL — batch-partitioned
    dynamic overwrite, not append."""
    from pipe_s_spark.streaming.dedup_index import apply_index_batch

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    idx, prs = str(tmp_path / "idx"), str(tmp_path / "prs")
    apply_index_batch(b0, 0, idx, prs)
    apply_index_batch(b1, 1, idx, prs)
    pairs_before = sorted(
        (r["d1"], r["d2"], r["batch_id"])
        for r in spark.read.parquet(prs).collect()
    )
    idx_before = spark.read.parquet(idx).count()
    # replay BOTH epochs out of order (zombie replay of 0 after 1)
    apply_index_batch(b1, 1, idx, prs)
    apply_index_batch(b0, 0, idx, prs)
    pairs_after = sorted(
        (r["d1"], r["d2"], r["batch_id"])
        for r in spark.read.parquet(prs).collect()
    )
    assert pairs_after == pairs_before
    assert spark.read.parquet(idx).count() == idx_before


def test_band_cap_is_default_on(spark, tmp_path):
    """The scale guard must activate WITHOUT caller opt-in: a batch
    carrying a pathological hot band (every doc identical -> all docs
    share every band signature) must not fan out quadratically under
    the default arguments."""
    from pipe_s_spark.functions.dedup import LSH_BAND_CAP
    from pipe_s_spark.streaming.dedup_index import apply_index_batch

    n = LSH_BAND_CAP + 50  # one band group of n identical docs > cap
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate text shared by every document").alias("text"),
    )
    idx, prs = str(tmp_path / "idx"), str(tmp_path / "prs")
    apply_index_batch(docs, 0, idx, prs)  # defaults only
    pair_schema = "d1 long, d2 long, batch_id long"
    # uncapped this would be C(150, 2) = 11175 pairs; capped the whole
    # oversized group is dropped before the join -> zero candidates
    assert spark.read.schema(pair_schema).parquet(prs).count() == 0
    # opting OUT (band_cap=None) reproduces the quadratic set
    apply_index_batch(docs, 0, idx, prs, band_cap=None)
    assert spark.read.schema(pair_schema).parquet(prs).count() == n * (n - 1) // 2


def test_compaction_preserves_pairs_and_replay(spark, tmp_path):
    """compact_index_partitions folds committed per-batch partitions
    into one; the candidate-pair set is unchanged, a replay of the
    newest (still-replayable) epoch stays idempotent, and the fold
    itself is idempotent."""
    from pipe_s_spark.streaming.dedup_index import apply_index_batch
    from pipe_s_spark.streaming.epoch_log import compact_index_partitions

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    idx, prs = str(tmp_path / "idx"), str(tmp_path / "prs")
    for i, p in enumerate(parts):
        apply_index_batch(p, i, idx, prs)
    want_pairs = {
        (r["d1"], r["d2"]) for r in spark.read.parquet(prs).collect()
    }
    n_pairs = spark.read.parquet(prs).count()
    idx_docs = spark.read.parquet(idx).select("doc_id").distinct().count()

    # epochs 0 and 1 committed; epoch 2 is the newest (replayable)
    folded = compact_index_partitions(spark, idx, watermark=2)
    assert folded == 1  # batch_id=0 folded into batch_id=1
    import os

    assert sorted(
        e for e in os.listdir(idx) if e.startswith("batch_id=")
    ) == ["batch_id=1", "batch_id=2"]
    assert spark.read.parquet(idx).select("doc_id").distinct().count() == idx_docs
    assert spark.read.parquet(idx).count() == spark.read.parquet(idx).distinct().count()

    # replay of epoch 2 after compaction: identical pair table
    apply_index_batch(parts[2], 2, idx, prs)
    assert {
        (r["d1"], r["d2"]) for r in spark.read.parquet(prs).collect()
    } == want_pairs
    assert spark.read.parquet(prs).count() == n_pairs

    # fold the pairs table too, then re-fold: idempotent no-op
    compact_index_partitions(spark, prs, watermark=2)
    assert {
        (r["d1"], r["d2"]) for r in spark.read.parquet(prs).collect()
    } == want_pairs
    assert compact_index_partitions(spark, idx, watermark=2) == 0


def test_compaction_ledger_mode_preserves_duplicates(spark, tmp_path):
    """dedupe=False (append-ledger sinks): rows that legitimately
    repeat across or within batches must survive the fold verbatim."""
    from pipe_s_spark.streaming.epoch_log import compact_index_partitions

    p = str(tmp_path / "ledger")
    rows = [(1, "x", 0), (1, "x", 0), (1, "x", 1), (2, "y", 2)]
    spark.createDataFrame(rows, "k long, v string, batch_id long").write.partitionBy(
        "batch_id"
    ).parquet(p)
    assert compact_index_partitions(spark, p, watermark=2, dedupe=False) == 1
    got = sorted(
        (r["k"], r["v"], r["batch_id"]) for r in spark.read.parquet(p).collect()
    )
    # batches 0 folded into 1: the three duplicate (1, x) rows all live
    assert got == [(1, "x", 1), (1, "x", 1), (1, "x", 1), (2, "y", 2)]


def test_compaction_is_default_on_across_continuous_sinks():
    """Compaction must not depend on the caller remembering to opt in
    (the band_cap precedent): every continuous-index sink's
    ``compact_every`` DEFAULT is the shared positive cadence constant,
    so a long-running stream folds partitions without any caller
    action (None remains the explicit opt-out). The folding mechanism
    itself is e2e-proven by the compact_every=2 tests in this file and
    test_ivf_index_stream.py; this pins the default wiring."""
    import inspect

    from pipe_s_spark.streaming.epoch_log import DEFAULT_COMPACT_EVERY
    from pipe_s_spark.streaming.ivf_index import run_ivf_index_stream

    assert isinstance(DEFAULT_COMPACT_EVERY, int) and DEFAULT_COMPACT_EVERY > 0
    for fn in (run_dedup_index_stream, run_ivf_index_stream):
        default = inspect.signature(fn).parameters["compact_every"].default
        assert default == DEFAULT_COMPACT_EVERY, (
            f"{fn.__name__}: compact_every defaults to {default!r}, "
            f"not the shared DEFAULT_COMPACT_EVERY"
        )


def test_runner_spec_inherits_default_compaction(spark, tmp_path, monkeypatch):
    """A JSON pipeline spec that OMITS compactEvery must inherit the
    default-on cadence at the runner level — the signature default
    alone is not enough, because the runner passes compact_every
    explicitly (cfg.get(\"compactEvery\") with no fallback silently
    re-introduced opt-out for every spec-launched stream). JSON null
    stays the explicit opt-out."""
    from pipe_s_spark.plans import runner as R
    from pipe_s_spark.streaming import dedup_index as DI

    captured = {}

    def fake_run(df, **kwargs):
        captured.update(kwargs)

        class _Q:
            def awaitTermination(self, *_a):
                return None

        return _Q()

    monkeypatch.setattr(DI, "run_dedup_index_stream", fake_run)
    (tmp_path / "src").mkdir()
    docs = spark.readStream.schema("doc_id long, text string").parquet(str(tmp_path / "src"))
    cfg = {
        "indexPath": str(tmp_path / "i"),
        "pairsPath": str(tmp_path / "p"),
        "checkpoint": str(tmp_path / "ck"),
    }
    R._write_epoch_sink(docs, "dedup-index", cfg)
    assert captured["compact_every"] == DI.DEFAULT_COMPACT_EVERY
    R._write_epoch_sink(docs, "dedup-index", {**cfg, "compactEvery": None})
    assert captured["compact_every"] is None


def test_stream_with_auto_compaction_matches_recompute(spark, tmp_path):
    """compact_every folds committed partitions DURING the stream;
    the final pair set still equals the batch recompute and the index
    partition count stays bounded."""
    import os

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    src = tmp_path / "src"
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"w{i}")
        )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    idx, prs, ck = str(tmp_path / "idx"), str(tmp_path / "prs"), str(tmp_path / "ck")
    run_dedup_index_stream(
        stream, idx, prs, ck, compact_every=2, await_seconds=240
    )
    got = {
        (r["d1"], r["d2"]) for r in spark.read.parquet(prs).select("d1", "d2").collect()
    }
    assert got == _batch_pairs(spark)
    # epoch 2 triggered a fold of epoch 0 into epoch 1's partition
    idx_parts = sorted(e for e in os.listdir(idx) if e.startswith("batch_id="))
    assert idx_parts == ["batch_id=1", "batch_id=2"]


def test_batch_bootstrap_then_stream_continues(spark, tmp_path):
    """Config-driven BOOTSTRAP: a batch pipeline indexes the existing
    corpus as epoch 0; a stream started afterwards on the same paths
    indexes only the new wave and still yields the full recompute's
    pair set."""
    from pipe_s_spark.plans.runner import run_pipeline

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    base = tmp_path / "base"
    half.write.parquet(str(base))
    idx, prs, ck = str(tmp_path / "idx"), str(tmp_path / "prs"), str(tmp_path / "ck")
    run_pipeline(
        spark,
        {
            "Input": {"Type": "parquet", "Config": {"path": str(base)}},
            "Output": {
                "Type": "dedup-index",
                "Config": {"indexPath": idx, "pairsPath": prs},
            },
        },
    )
    # stream the second wave; its batch ids start at 0, so feed it an
    # explicit later epoch via the direct API (a real deployment passes
    # a checkpoint whose batch ids continue past the bootstrap epoch)
    from pipe_s_spark.streaming.dedup_index import apply_index_batch

    apply_index_batch(rest, 1, idx, prs)
    got = {
        (r["d1"], r["d2"]) for r in spark.read.parquet(prs).select("d1", "d2").collect()
    }
    assert got == _batch_pairs(spark)


def test_runner_dedup_index_sink(spark, tmp_path):
    """The config-driven form: a json-stream input piped to the
    'dedup-index' streaming output produces the same pair set as the
    direct API."""
    import json as _json

    from pipe_s_spark.plans.runner import run_pipeline

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    src = tmp_path / "docs_json"
    docs.coalesce(1).write.json(str(src))
    idx, prs, ck = str(tmp_path / "idx"), str(tmp_path / "prs"), str(tmp_path / "ck")
    spec = {
        "Input": {
            "Type": "json-stream",
            "Config": {"schema": "doc_id long, text string", "path": str(src)},
        },
        "Output": {
            "Type": "dedup-index",
            "Config": {
                "indexPath": idx,
                "pairsPath": prs,
                "checkpoint": ck,
                "awaitSeconds": 240,
            },
        },
    }
    _json.dumps(spec)  # spec must stay JSON-serializable (config-file form)
    run_pipeline(spark, spec)
    got = {
        (r["d1"], r["d2"]) for r in spark.read.parquet(prs).select("d1", "d2").collect()
    }
    assert got == _batch_pairs(spark)


def test_index_contract_refuses_incompatible_reopen(spark, tmp_path):
    """r13: the strictly-earlier join is only meaningful if every
    epoch wrote under the same family parameters. A restart with
    different banding (or, for the IVF index, retrained centroids /
    codebooks) must refuse loudly instead of silently joining
    incompatible signatures; retunable knobs (band_cap, nprobe) stay
    outside the contract."""
    import pytest

    from pipe_s_spark.functions.similarity import kmeans_train_int, pq_train_int
    from pipe_s_spark.streaming.dedup_index import apply_index_batch
    from pipe_s_spark.streaming.ivf_index import apply_ivf_batch

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(120)
    ix, pr = str(tmp_path / "ix"), str(tmp_path / "pr")
    apply_index_batch(docs, 0, ix, pr)
    # same params: fine; different cap: fine (outside the contract)
    apply_index_batch(docs, 1, ix, pr, band_cap=7)
    # different banding: refused
    with pytest.raises(ValueError, match="contract"):
        apply_index_batch(docs, 2, ix, pr, num_hashes=32, bands=8)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).limit(300).localCheckpoint()
    cents = kmeans_train_int(emb, iters=1)
    vix, vtk = str(tmp_path / "vix"), str(tmp_path / "vtk")
    apply_ivf_batch(emb, 0, cents, vix, vtk)
    # identical centroids re-derived: same fingerprint, accepted;
    # nprobe is retunable
    apply_ivf_batch(emb, 1, dict(cents), vix, vtk, nprobe=1)
    # retrained (different) centroids: refused
    cents2 = kmeans_train_int(emb, iters=2)
    if cents2 != cents:
        with pytest.raises(ValueError, match="contract"):
            apply_ivf_batch(emb, 2, cents2, vix, vtk)
    # switching an existing vector index to compressed mode: refused
    books = pq_train_int(emb)
    with pytest.raises(ValueError, match="contract"):
        apply_ivf_batch(emb, 2, cents, vix, vtk, pq_books=books)


def test_cross_mode_contract_refusal_names_both_kinds(tmp_path):
    """r13 verdict #7: opening an ``ivf`` index path in ``ivf_adc``
    mode (and vice versa) is a *mode* confusion, not a parameter
    drift — the refusal must say so legibly by naming BOTH kinds in
    the message, so an operator reading a 3am stacktrace sees
    "ivf_adc vs ivf" and not just two hash blobs."""
    import pytest

    from pipe_s_spark.streaming.dedup_index import check_index_contract

    p = str(tmp_path / "vix")
    check_index_contract(p, {"kind": "ivf", "centroids_sha": "aaa"})
    with pytest.raises(ValueError) as ei:
        check_index_contract(p, {"kind": "ivf_adc", "centroids_sha": "aaa"})
    assert "ivf_adc" in str(ei.value) and "'ivf'" in str(ei.value)

    # and the reverse direction: an ivf_adc index opened as plain ivf
    p2 = str(tmp_path / "vix2")
    check_index_contract(p2, {"kind": "ivf_adc", "books_sha": "bbb"})
    with pytest.raises(ValueError) as ei2:
        check_index_contract(p2, {"kind": "ivf"})
    assert "ivf_adc" in str(ei2.value) and "'ivf'" in str(ei2.value)


def test_pre_contract_index_adopts_and_records(spark, tmp_path):
    """Pre-r13 adoption path: an index directory that predates the
    contract file (epochs on disk, no ``._contract``) adopts the next
    opener's parameters and RECORDS them — so the grandfathered index
    keeps working, and the very next incompatible open is refused."""
    import json
    import os

    import pytest

    from pipe_s_spark.streaming.dedup_index import apply_index_batch

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).limit(120)
    ix, pr = str(tmp_path / "ix"), str(tmp_path / "pr")
    apply_index_batch(docs, 0, ix, pr)
    # simulate a pre-r13 index: epochs present, contract absent
    os.remove(os.path.join(ix, "._contract"))
    apply_index_batch(docs, 1, ix, pr)  # adopts + records
    with open(os.path.join(ix, "._contract")) as f:
        disk = json.load(f)
    assert disk["kind"] == "minhash_lsh" and disk["bands"] > 0
    with pytest.raises(ValueError, match="contract"):
        apply_index_batch(docs, 2, ix, pr, num_hashes=32, bands=8)


def test_contract_first_writer_race_is_atomic(tmp_path):
    """r13 advice: the first-writer path used a FIXED tmp name with no
    lock — two concurrent first-openers could interleave writes and
    rename a torn/foreign contract into place. Now each writer uses a
    unique tmp under an flock and re-reads after the race: N
    concurrent openers with the same meta all succeed and exactly one
    valid contract lands; a concurrent opener with DIFFERENT meta
    either wins the race cleanly or is refused — never a torn file."""
    import json
    import os
    import threading

    from pipe_s_spark.streaming.dedup_index import check_index_contract

    p = str(tmp_path / "ix")
    meta = {"kind": "minhash_lsh", "k": 5, "num_hashes": 64, "bands": 16}
    other = {"kind": "minhash_lsh", "k": 5, "num_hashes": 32, "bands": 8}
    errs: list[BaseException] = []
    barrier = threading.Barrier(9)

    def opener(m):
        barrier.wait()
        try:
            check_index_contract(p, m)
        except BaseException as e:  # noqa: BLE001 — collected for assertion
            errs.append(e)

    ts = [threading.Thread(target=opener, args=(meta,)) for _ in range(8)]
    ts.append(threading.Thread(target=opener, args=(other,)))
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    with open(os.path.join(p, "._contract")) as f:
        disk = json.load(f)  # parses — never torn
    assert disk in (meta, other)
    # every error is the loud mismatch, and the loser meta's openers
    # are exactly the ones that got it (8 or 1 depending on who won)
    assert all(isinstance(e, ValueError) and "contract" in str(e) for e in errs)
    assert len(errs) == (1 if disk == meta else 8)
    # no stray tmp files left behind
    assert not [f for f in os.listdir(p) if f.endswith(".tmp")]
