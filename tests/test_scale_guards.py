"""Unit tests for the scale-guard helpers added in round 4:

- ``exact.davg_int``: integer micro-unit average agrees between Spark
  and DuckDB bit-for-bit (it's a BIGINT — no float ever exists);
- ``dedup.cap_group_size``: oversized groups are dropped whole,
  smaller groups untouched;
- ``test_plan_quality.unpartitioned_windows``: the plan parser
  distinguishes global ordered windows (scale-killer) from partitioned
  and unordered ones.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from pipe_s_spark.functions import exact as E
from pipe_s_spark.functions.dedup import cap_group_size


def test_davg_int_matches_duckdb_bit_for_bit(spark):
    # engineered awkward division: 2279/7-style ties broke ROUND(..,6)
    data = [("a", v) for v in (325, 325, 325, 325, 326, 326, 327)] + [
        ("b", v) for v in (1, 2, 4)
    ]
    df = spark.createDataFrame(data, "g string, n long")
    got = {
        r["g"]: r["avg_x1m"]
        for r in df.groupBy("g").agg(E.davg_int("n").alias("avg_x1m")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g VARCHAR, n BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", data)
    want = dict(
        con.execute(
            f"SELECT g, {E.davg_int_sql('n')} AS a FROM t GROUP BY g"
        ).fetchall()
    )
    assert got == want
    assert all(isinstance(v, int) for v in got.values())
    assert got["a"] == (2279 * 1_000_000) // 7


def test_cap_group_size_drops_oversized_groups_whole(spark):
    rows = [("hot", i) for i in range(10)] + [("warm", i) for i in range(3)] + [("cold", 0)]
    df = spark.createDataFrame(rows, "k string, v long")
    out = cap_group_size(df, ["k"], cap=3)
    got = sorted((r["k"], r["v"]) for r in out.collect())
    assert [k for k, _ in got] == ["cold"] + ["warm"] * 3
    assert out.columns == ["k", "v"]  # helper column dropped


def test_unpartitioned_window_detector(spark):
    from pyspark.sql.window import Window

    from tests.test_plan_quality import unpartitioned_windows

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    plan_global = (
        df.withColumn("s", F.sum("id").over(Window.orderBy("id")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert unpartitioned_windows(plan_global), "global ordered window must be flagged"
    plan_part = (
        df.withColumn("s", F.sum("id").over(Window.partitionBy("g").orderBy("id")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not unpartitioned_windows(plan_part)
    plan_unordered = (
        df.withColumn("c", F.count("*").over(Window.partitionBy("g")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not unpartitioned_windows(plan_unordered)


def test_pack_assign_semantics(spark):
    """Pack ids start at 0, stay within the allocated global range, and
    no pack exceeds the 2048-token budget by more than one doc's
    overhang (a doc larger than the budget legitimately overflows its
    own pack; pack ids may skip where a huge doc spans several)."""
    from pipe_s_spark.queries_sampling import q_text_pack_assign

    out = q_text_pack_assign(spark, "/root/testdata/sf0.001").collect()
    assert out, "non-empty"
    packs: dict[int, int] = {}
    biggest: dict[int, int] = {}
    for r in out:
        packs[r["pack_id"]] = packs.get(r["pack_id"], 0) + r["n_tokens"]
        biggest[r["pack_id"]] = max(biggest.get(r["pack_id"], 0), r["n_tokens"])
    assert min(packs) == 0
    multi_doc_over = [p for p, tot in packs.items() if tot > 2048 + biggest[p]]
    assert not multi_doc_over


def test_recommended_planes_grows_log2():
    from pipe_s_spark.functions.similarity import LSH_PLANES, recommended_planes

    assert recommended_planes(1_000) == LSH_PLANES  # never below test scale
    assert recommended_planes(1 << 20) == max(LSH_PLANES, 10)
    # 10^10 docs / 1024-per-bucket ≈ 2^23.2 buckets → 24 planes
    assert recommended_planes(10_000_000_000) == 24
    assert recommended_planes(1 << 62) == 30  # int32-safe cap
    # monotone in n
    vals = [recommended_planes(10**k) for k in range(3, 14)]
    assert vals == sorted(vals)


def test_countmin_overestimates_and_is_exact_without_collisions(spark):
    from pipe_s_spark.functions import sketches as K

    data = [(f"k{i % 10}",) for i in range(1000)]
    df = spark.createDataFrame(data, "k string")
    sketch = K.cms_build(df, "k")
    exact = {r["k"]: r["cnt"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    est = {
        r["k"]: r["est_cnt"]
        for r in K.cms_estimate(df.select("k").distinct(), sketch, "k").collect()
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        assert e >= exact[k]  # CMS never underestimates
    # 10 keys into 4x256 cells: overwhelmingly collision-free → exact
    assert est == exact


def test_countmin_sketch_merges_by_cellwise_sum(spark):
    from pipe_s_spark.functions import sketches as K

    a = spark.createDataFrame([(f"k{i % 7}",) for i in range(300)], "k string")
    b = spark.createDataFrame([(f"k{i % 5}",) for i in range(200)], "k string")
    merged_cells = {
        (r["row_id"], r["bucket"]): r["cnt"]
        for r in K.cms_build(a.union(b), "k").collect()
    }
    summed: dict = {}
    for part in (a, b):
        for r in K.cms_build(part, "k").collect():
            key = (r["row_id"], r["bucket"])
            summed[key] = summed.get(key, 0) + r["cnt"]
    assert merged_cells == summed


def test_pii_kernels_on_crafted_rows(spark):
    import duckdb

    from pipe_s_spark.functions import text as X

    rows = [
        (1, "contact me at alice.smith+x@example.co.uk or 555-123-4567"),
        (2, "server at 10.0.255.3 and backup 192.168.1.1, no mail"),
        (3, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id",
            X.pii_count("text", "email").alias("n_emails"),
            X.pii_count("text", "phone").alias("n_phones"),
            X.pii_count("text", "ipv4").alias("n_ips"),
            X.pii_scrub("text").alias("scrubbed"),
            F.md5(X.pii_scrub("text")).alias("scrubbed_md5"),
        ).collect()
    }
    assert got[1]["n_emails"] == 1 and got[1]["n_phones"] == 1
    assert got[2]["n_ips"] == 2 and got[2]["n_emails"] == 0
    assert got[3] == {
        "doc_id": 3, "n_emails": 0, "n_phones": 0, "n_ips": 0,
        "scrubbed": rows[2][1],
        "scrubbed_md5": got[3]["scrubbed_md5"],
    }
    assert "<email>" in got[1]["scrubbed"] and "<phone>" in got[1]["scrubbed"]
    assert got[2]["scrubbed"].count("<ipv4>") == 2
    # the DuckDB rendering agrees token-for-token on the same rows
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = con.execute(
        f"""SELECT doc_id, {X.pii_count_sql('text', 'email')},
                   {X.pii_count_sql('text', 'phone')},
                   {X.pii_count_sql('text', 'ipv4')},
                   {X.pii_scrub_sql('text')},
                   md5({X.pii_scrub_sql('text')})
            FROM t ORDER BY doc_id"""
    ).fetchall()
    for did, ne, np_, ni, scr, h in oracle:
        g = got[did]
        assert (ne, np_, ni, scr, h) == (
            g["n_emails"], g["n_phones"], g["n_ips"], g["scrubbed"], g["scrubbed_md5"]
        )


def _write_docs(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    return con


def test_chunk_windows_semantics(spark, tmp_path):
    """130-token doc -> chunks at 0/64/128 with lengths 128/66/2; the
    tail chunk's md5 covers exactly the clamped slice; 1-token doc ->
    one chunk; and the DuckDB oracle agrees on the crafted rows."""
    from oracle_harness import compare

    from pipe_s_spark.queries_sampling import SQL_TEXT_CHUNKS, q_text_chunk_windows

    toks130 = [f"w{i}" for i in range(130)]
    rows = [(1, " ".join(toks130)), (2, "solo"), (3, "   ")]
    con = _write_docs(tmp_path, rows)
    out = q_text_chunk_windows(spark, str(tmp_path))
    got = {(r["doc_id"], r["chunk_idx"]): r.asDict() for r in out.collect()}
    assert set(got) == {(1, 0), (1, 1), (1, 2), (2, 0)}  # doc 3 is empty
    assert [got[(1, i)]["chunk_len"] for i in range(3)] == [128, 66, 2]
    assert [got[(1, i)]["start_tok"] for i in range(3)] == [0, 64, 128]
    import hashlib

    tail = " ".join(toks130[128:130])
    assert got[(1, 2)]["chunk_md5"] == hashlib.md5(tail.encode()).hexdigest()
    assert got[(2, 0)]["chunk_len"] == 1
    compare(out, con, SQL_TEXT_CHUNKS)


def test_inverted_index_caps_postings(spark, tmp_path):
    """A term in more docs than INVINDEX_POSTING_CAP keeps full n_docs /
    total_tf but only the cap-first doc_ids, ordered numerically (doc 9
    before doc 10 — lexicographic sort would invert them)."""
    from oracle_harness import compare

    from pipe_s_spark.queries_text import (
        INVINDEX_POSTING_CAP,
        SQL_TEXT_INVINDEX,
        q_text_inverted_index,
    )

    rows = [(i, "common common" if i != 5 else "common rare") for i in range(1, 13)]
    con = _write_docs(tmp_path, rows)
    out = q_text_inverted_index(spark, str(tmp_path))
    got = {r["term"]: r.asDict() for r in out.collect()}
    assert got["common"]["n_docs"] == 12
    assert got["common"]["total_tf"] == 23  # 11 docs x2 + doc 5 x1
    posts = got["common"]["postings"].split(",")
    assert len(posts) == INVINDEX_POSTING_CAP
    assert posts == [str(i) for i in range(1, INVINDEX_POSTING_CAP + 1)]
    assert got["rare"]["postings"] == "5"
    compare(out, con, SQL_TEXT_INVINDEX)


def test_tfidf_rank_breaks_ties_by_df_then_term(spark, tmp_path):
    """tf DESC dominates; equal tf ranks the rarer (lower df) term
    first; equal (tf, df) falls back to lexicographic."""
    from oracle_harness import compare

    from pipe_s_spark.queries_text import SQL_TEXT_TFIDF, q_text_tfidf_topterms

    rows = [
        (1, "zeta zeta alpha beta"),  # zeta tf=2; alpha/beta tf=1
        (2, "alpha shared shared"),  # makes alpha df=2, beta df=1
    ]
    con = _write_docs(tmp_path, rows)
    out = q_text_tfidf_topterms(spark, str(tmp_path))
    r1 = {r["rnk"]: r["term"] for r in out.collect() if r["doc_id"] == 1}
    # rank1: zeta (tf 2); rank2: beta (df 1 beats alpha's df 2); rank3: alpha
    assert r1 == {1: "zeta", 2: "beta", 3: "alpha"}
    compare(out, con, SQL_TEXT_TFIDF)


def test_mix_sample_respects_spec(spark, tmp_path):
    """Keep-rates derive from the feasible total: the scarcest lang
    (relative to its target share) is kept in full; langs outside the
    spec are dropped; the DuckDB oracle reproduces the exact rows."""
    import pandas as pd

    from oracle_harness import compare

    from pipe_s_spark.queries_sampling import SQL_TEXT_MIX_SAMPLE, q_text_mix_sample

    rows = []
    did = 0
    for lang, n in [("en", 100), ("de", 10), ("es", 10), ("fr", 10), ("zh", 10), ("xx", 7)]:
        for _ in range(n):
            rows.append((did, f"{lang} doc {did}", lang))
            did += 1
    pd.DataFrame(rows, columns=["doc_id", "text", "lang"]).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    out = q_text_mix_sample(spark, str(tmp_path))
    got = out.collect()
    langs = {r["lang"] for r in got}
    assert "xx" not in langs  # outside the spec
    # feasible total is bound by de/es (10 docs for a 15% share -> 66);
    # de gets rate (66*0.15 -> 9)/10 = 900000, so ~9 of 10 survive, while
    # en keeps only ~33 of 100 — the mixture, not the raw counts, decides
    by_lang = {l: sum(1 for r in got if r["lang"] == l) for l in langs}
    assert by_lang.get("de", 0) < 10 or by_lang.get("en", 0) < 100
    assert by_lang.get("en", 0) < 50  # en is downsampled hard
    compare(out, con, SQL_TEXT_MIX_SAMPLE)


def test_global_shuffle_is_a_permutation(spark, tmp_path):
    """Positions are exactly 0..n-1, ordered by the salted md5 key, and
    file_id buckets by SHUFFLE_DOCS_PER_FILE — oracle agrees row-wise."""
    import hashlib

    from oracle_harness import compare

    from pipe_s_spark.queries_sampling import (
        SHUFFLE_SALT,
        SQL_TEXT_GLOBAL_SHUFFLE,
        q_text_global_shuffle,
    )

    rows = [(i, f"doc {i}") for i in range(300)]
    con = _write_docs(tmp_path, rows)
    out = q_text_global_shuffle(spark, str(tmp_path)).collect()
    assert sorted(r["pos"] for r in out) == list(range(300))
    want = sorted(
        range(300), key=lambda i: (hashlib.md5(f"{SHUFFLE_SALT}{i}".encode()).hexdigest(), i)
    )
    got_order = [r["doc_id"] for r in sorted(out, key=lambda r: r["pos"])]
    assert got_order == want
    assert all(r["file_id"] == r["pos"] // 256 for r in out)
    compare(
        q_text_global_shuffle(spark, str(tmp_path)), con, SQL_TEXT_GLOBAL_SHUFFLE
    )


@pytest.mark.parametrize("seed", [7, 23, 99])
def test_jaccard_pairs_matches_bruteforce_random_corpus(spark, seed):
    """jaccard_pairs (df-capped inverted-index formulation) equals the
    naive all-pairs set-Jaccard when the cap doesn't bite — on random
    corpora, not just the fixed testdata."""
    import random

    from pipe_s_spark.functions.dedup import jaccard_pairs, shingles

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for did in range(14):
        n = rng.randint(3, 25)
        docs.append((did, " ".join(rng.choice(vocab) for _ in range(n))))
    # a couple of exact dups to guarantee high-jaccard pairs exist
    docs.append((100, docs[0][1]))
    docs.append((101, docs[1][1]))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = shingles(df, "doc_id", "text", k=3)
    got = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in jaccard_pairs(sh, df_cap=10_000, threshold=0.0).collect()
    }

    def shingle_set(text):
        toks = [t for t in text.lower().split() if t]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {did: shingle_set(t) for did, t in docs}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter and (sets[a] or sets[b]):
                want[(a, b)] = round(inter / len(sets[a] | sets[b]), 6)

    assert got == pytest.approx(want)
    assert any(v == 1.0 for v in got.values())  # the planted dups


def test_ivf_epoch_job_count_pinned(spark, tmp_path):
    """The r11 fixed-cost work removed two whole Spark jobs from every
    index epoch (the strictly-earlier ledger read + broadcast build,
    and the probed-cells distinct under PROBE_FILTER_MIN_CELLS); at
    the 10K-vector grain those jobs were ~25% of steady-state ingest
    time. Pin the steady-state epoch's job count so a regression that
    reintroduces a per-epoch scan job (ledger via Spark read, probe
    semi-join at small cell counts, an extra count) trips CI instead
    of only the bench. Measured: 9 jobs/epoch (AQE decomposes the two
    writes + counts collect into sub-jobs). The r12 concurrent-epoch
    shape fluttered 9-11 run-to-run and the pin was loosened to 12;
    the r13 re-shape (natural-width layout killed the empty-partition
    tasks, eager localCheckpoint materialization) settled it — r14
    re-measured EXACTLY 9 on every steady-state epoch across 3 fresh
    sessions x 5 epochs, so the pin is back at measured+1 = 10 (r13
    verdict #6). Still 1 below the cheapest regression (a reintroduced
    per-epoch read+broadcast costs +2 jobs EVERY epoch, not a +-1
    flutter). The count comes from the PUBLIC
    statusTracker()/job-group API (not the private _jsc statusStore),
    so a Spark upgrade can't silently break the probe; the 9-job
    baseline was measured on Spark 4.1.2 with AQE on."""
    from pyspark.sql import functions as F

    from pipe_s_spark.functions.similarity import kmeans_train_int
    from pipe_s_spark.streaming.ivf_index import apply_ivf_batch

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    cents = kmeans_train_int(emb, iters=2)
    ix, tk = str(tmp_path / "ix"), str(tmp_path / "tk")
    for i in range(2):
        apply_ivf_batch(
            emb.filter(F.pmod("vec_id", F.lit(3)) == i), i, cents, ix, tk
        )
    sc = spark.sparkContext
    sc.setJobGroup("ivf_epoch_pin", "steady-state epoch job-count pin")
    try:
        apply_ivf_batch(emb.filter(F.pmod("vec_id", F.lit(3)) == 2), 2, cents, ix, tk)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("ivf_epoch_pin"))
    assert jobs <= 10, (
        f"steady-state IVF epoch launched {jobs} Spark jobs (pinned <= 10): "
        "a per-epoch fixed job crept back in (ledger read? probe semi-join "
        "below PROBE_FILTER_MIN_CELLS? extra action?)"
    )


def test_cc_contracted_graph_stays_far_under_driver_fold_bound(spark):
    """The two-phase CC's driver fold is bounded (CC_DRIVER_FOLD_MAX_EDGES,
    proven by limit(N+1)) and the distributed fallback is force-tested —
    but nothing recorded how close REAL corpora come to the bound. Run
    the full sf0.1 ensemble dedup graph (lexical + semantic edges, the
    largest CC input in the suite) and assert the contracted graph the
    driver actually folds is well under 10% of the bound, via the
    CC_TELEMETRY the r12 round added. Drift toward the bound (e.g. a
    band-cap change exploding edge counts, or a partitioning change
    shattering task-local components) trips here long before the
    fallback fires in production."""
    import pipe_s_spark.functions.dedup as D
    from pipe_s_spark.queries_dedup import q_dedup_ensemble

    D.CC_TELEMETRY.update(contracted_edges=None, path=None)
    q_dedup_ensemble(spark, "/root/testdata/sf0.1").count()
    edges = D.CC_TELEMETRY["contracted_edges"]
    assert D.CC_TELEMETRY["path"] in ("edge_fold", "driver_fold", "local_only")
    assert edges is not None and edges <= D.CC_EDGE_FOLD_MAX_EDGES // 10, (
        f"sf0.1 ensemble dedup graph has {edges} edges at the fold probe — "
        f"creeping toward the {D.CC_EDGE_FOLD_MAX_EDGES}-edge driver-fold bound"
    )


def test_cc_edge_fold_is_single_job(spark):
    """The r12 edge-level fold exists to make bounded dedup graphs
    resolve in the probe alone (the limit(N+1) that both proves
    the bound and delivers the edges); the result is an Arrow
    LocalRelation, so downstream consumption adds no extra job until
    a distributed consumer actually needs it. CollectLimitExec runs
    the probe as an ESCALATING partition scan (1 partition, then 4x
    more, ... until the limit or the input is exhausted), so one
    probe is 1-3 tiny jobs on a 32-partition input, never a shuffle
    or an O(graph) recompute. Pin that via the public job-group API
    so a regression that reintroduces a real per-call fixed job (an
    extra distinct, a checkpoint, a parallelize-backed result scan —
    the two-phase path's 3 full jobs) trips CI."""
    from pipe_s_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(500)] + [(1000 + i, 1000) for i in range(50)],
        "d1 long, d2 long",
    ).localCheckpoint(eager=True)
    sc = spark.sparkContext
    sc.setJobGroup("cc_edge_fold_pin", "edge-fold job-count pin")
    try:
        out = connected_components(edges)
        assert out.isLocal()  # Arrow LocalRelation, not a parallelize RDD
        labels = {r["v"]: r["component"] for r in out.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert labels[500] == 0 and labels[1000 + 49] == 1000
    jobs = len(sc.statusTracker().getJobIdsForGroup("cc_edge_fold_pin"))
    assert jobs <= 3, (
        f"bounded-graph connected_components launched {jobs} Spark jobs "
        "(pinned <= 3, the collect-limit escalation ceiling): the "
        "edge-fold fast path gained a fixed per-call job"
    )


def test_compact_reducers_scale_with_input(spark, monkeypatch, tmp_path):
    """r12 verdict #2: the data-proportional reduce-parallelism fix
    must live in the LIBRARY's bulk entry points, not in bench-tool
    extra_conf — a production caller of compact_changelog gets
    core-count reducers at 100 TB otherwise. Assert through the plain
    library call (no conf, no extra args) that a 10x-bytes changelog
    compacts over >=4x the reducers, by reading the EXECUTED
    aggregation stage's task count via the public statusTracker API.
    The target-bytes knob is shrunk so the guard runs at test scale;
    the rule under test (ceil(bytes/target) keyed repartition when
    above the session ceiling) is exactly the production one."""
    from pipe_s_spark import sizing
    from pipe_s_spark.operators.compaction import compact_changelog

    monkeypatch.setattr(sizing, "BULK_TARGET_PARTITION_BYTES", 2 * 1024 * 1024)

    def make_log(rows):
        return (
            spark.range(rows)
            .select(
                F.col("id").alias("seq"),
                F.lit("t").alias("table_name"),
                (F.col("id") % (rows // 2)).alias("pk"),
                F.when(F.col("id") % 3 == 0, "insert")
                .when(F.col("id") % 3 == 1, "update")
                .otherwise("delete")
                .alias("op"),
                (F.col("id") * 7).alias("k"),
                (F.col("id") * 0.5).alias("value"),
            )
            .repartition(4)
            .localCheckpoint(eager=True)
        )

    def agg_tasks(log, label):
        sc = spark.sparkContext
        sc.setJobGroup(label, label)
        try:
            compact_changelog(
                log, key_cols=("table_name", "pk"), payload_cols=["k", "value"]
            ).write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        stages = set()
        for jid in st.getJobIdsForGroup(label):
            ji = st.getJobInfo(jid)
            if ji:
                stages.update(ji.stageIds)
        # the aggregate runs in the widest post-exchange stage; the
        # checkpoint scan is pinned at 4 tasks above, so max() is it
        return max(
            st.getStageInfo(s).numTasks for s in stages if st.getStageInfo(s)
        )

    small = agg_tasks(make_log(100_000), "compact_sizing_small")
    big = agg_tasks(make_log(1_000_000), "compact_sizing_big")
    shuffle_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert big > shuffle_default, (
        f"20x-bytes compact ran its aggregate over {big} tasks — the "
        f"session ceiling ({shuffle_default}) was not lifted by the library"
    )
    assert big >= 4 * small, (
        f"reducers did not scale with input: {small} -> {big} "
        "(data-proportional sizing regressed in compact_changelog)"
    )


def test_merge_apply_bulk_conf_scope_restores(spark, monkeypatch, tmp_path):
    """apply_batch sizes a BULK batch's write through its explicit
    clustering exchange, so it must leave AQE's initialPartitionNum
    exactly as it found it (r12 advice: the old bench-tool reset
    hardcoded 32, leaking a conf that differs from the session default
    on other hosts). Unset before -> unset after; set before -> same
    value after; and a small streaming-grade batch leaves it unset."""
    from pipe_s_spark import sizing
    from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

    def conf_state():
        try:
            return spark.conf.get(key)
        except Exception:  # noqa: BLE001
            return None

    def make_log(rows):
        return spark.range(rows).select(
            F.col("id").alias("seq"),
            F.lit("t").alias("table_name"),
            F.col("id").alias("pk"),
            F.lit("insert").alias("op"),
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 0.5).alias("value"),
        )

    # force the bulk path at test scale
    monkeypatch.setattr(sizing, "BULK_TARGET_PARTITION_BYTES", 64 * 1024)

    assert conf_state() is None
    tgt = MergeApplyTarget(str(tmp_path / "t1"))
    assert tgt.apply_batch(make_log(50_000), epoch_id=1)
    assert conf_state() is None, "bulk scope leaked an unset conf"

    spark.conf.set(key, "17")
    try:
        tgt2 = MergeApplyTarget(str(tmp_path / "t2"))
        assert tgt2.apply_batch(make_log(50_000), epoch_id=1)
        assert conf_state() == "17", "bulk scope clobbered a preset conf"
    finally:
        spark.conf.unset(key)

    # small batch: bulk_partitions at the REAL target is under the
    # session ceiling for a 100-row batch
    monkeypatch.setattr(sizing, "BULK_TARGET_PARTITION_BYTES", 64 * 1024 * 1024)
    tgt3 = MergeApplyTarget(str(tmp_path / "t3"))
    assert tgt3.apply_batch(make_log(100), epoch_id=1)
    assert conf_state() is None, "streaming-grade batch set the conf"


def test_bulk_staged_write_is_partition_aligned(spark, monkeypatch, tmp_path):
    """r14: a BULK apply's staged write must repartition by (bucket,
    salt) first, so each write task emits ~one output partition file
    instead of fanning out num_buckets concurrent parquet writers
    (the direct form measured 8-16s and n_tasks x 16 files at x10 vs
    2-3s and ~130 files aligned — the term behind merge alpha 0.82).
    Guard: total parquet file count stays bounded by the (bucket,
    salt) combo count, never the task x bucket product; and the
    merged contents are identical to a small-batch (single-salt) apply."""
    from pipe_s_spark import sizing
    from pipe_s_spark.sizing import bulk_partitions
    from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

    def make_log(rows):
        return spark.range(rows).select(
            F.col("id").alias("seq"),
            F.lit("t").alias("table_name"),
            F.col("id").alias("pk"),
            F.lit("insert").alias("op"),
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 0.5).alias("value"),
        )

    import os

    batch = make_log(50_000)
    # force the bulk path at test scale (same lever as the conf test)
    monkeypatch.setattr(sizing, "BULK_TARGET_PARTITION_BYTES", 64 * 1024)
    n_bulk = bulk_partitions(batch)
    assert n_bulk is not None and n_bulk > 16, "test precondition: bulk engaged"

    tgt = MergeApplyTarget(str(tmp_path / "t"), num_buckets=16)
    assert tgt.apply_batch(batch, epoch_id=1)
    files = [
        os.path.join(dp, fn)
        for dp, _dirs, fns in os.walk(tgt.path)
        for fn in fns
        if fn.endswith(".parquet")
    ]
    s = max(1, n_bulk // 16)
    assert len(files) <= 16 * s, (
        f"{len(files)} staged parquet files for {n_bulk} bulk partitions "
        f"(expected <= num_buckets x salt = {16 * s}): the bulk write lost "
        "its (bucket, salt) alignment and is fanning out per-task writers"
    )
    # identical logical contents to the small-batch (single-salt) path
    monkeypatch.setattr(sizing, "BULK_TARGET_PARTITION_BYTES", 64 * 1024 * 1024)
    ref = MergeApplyTarget(str(tmp_path / "ref"), num_buckets=16)
    assert ref.apply_batch(batch, epoch_id=1)
    got = {tuple(r) for r in tgt.read_current(spark).collect()}
    want = {tuple(r) for r in ref.read_current(spark).collect()}
    assert got == want and len(got) == 50_000


def test_merge_epoch_writes_one_file_per_bucket(spark, tmp_path):
    """Every staged write clusters its rows by bucket before the
    ``partitionBy("bucket")`` writer, so a streaming-sized epoch writes
    exactly one parquet file per touched bucket. Unclustered, each
    write task emitted one file per bucket it saw (3-6 files per bucket
    in this test), and the next epoch scanned and rewrote all of them.
    The merge reads the batch's raw events and folds the compaction
    into its one per-key aggregate behind that clustering exchange, so
    the exchange is the steady-state merge plan's only one, and reads
    reuse the schema the target last committed, so no epoch runs a
    footer-inference job. Pin all three: after epochs that each touch
    every bucket, every ``bucket=K`` directory holds one file; the
    merge plan has exactly one ``Exchange``; and a steady-state epoch
    launches at most 3 Spark jobs on Spark 4.1.2 with AQE on: 1 for the
    touched-bucket pass (a noop write observing the batch's buckets)
    and 2 for the clustered write. A separate compaction with a
    touched-bucket ``distinct().collect()`` took 6. The count is read
    through the public statusTracker job-group API, as in
    ``test_ivf_epoch_job_count_pinned``."""
    import glob
    import os

    from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

    def epoch_log(e):
        # 2000 distinct keys per epoch, overlapping the previous epoch's
        # keys by half: inserts, updates and replacements in every bucket
        return spark.range(2000).select(
            (F.col("id") + e * 10_000).alias("seq"),
            F.lit("t").alias("table_name"),
            (F.col("id") + e * 1000).alias("pk"),
            F.lit("insert").alias("op"),
            F.lit(e).cast("int").alias("k"),
            (F.col("id") * 0.5).alias("value"),
        )

    tgt = MergeApplyTarget(str(tmp_path / "t"), num_buckets=16)
    for e in range(3):
        assert tgt.apply_batch(epoch_log(e), epoch_id=e)
    sc = spark.sparkContext
    sc.setJobGroup("merge_epoch_pin", "steady-state merge epoch job-count pin")
    try:
        assert tgt.apply_batch(epoch_log(3), epoch_id=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("merge_epoch_pin"))
    per_bucket = {
        b: len(glob.glob(os.path.join(tgt.path, b, "*.parquet")))
        for b in os.listdir(tgt.path)
        if b.startswith("bucket=")
    }
    assert len(per_bucket) == 16 and set(per_bucket.values()) == {1}, (
        f"parquet files per bucket after 4 epochs: {per_bucket} — the staged "
        "write lost its bucket clustering and fans out per-task writers"
    )
    assert jobs <= 3, (
        f"steady-state merge epoch launched {jobs} Spark jobs (pinned <= 3): "
        "a per-epoch job crept back in (schema inference? a second merge "
        "shuffle or broadcast? extra action?)"
    )
    batch = epoch_log(4)
    merged = tgt._merge(
        tgt.read_current(spark, buckets=tgt.touched_buckets(batch), internal=True),
        batch,
        size_of=batch,
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, (
        f"steady-state merge plan must shuffle once (the bucket clustering):\n{plan}"
    )
    assert tgt.read_current(spark).count() == 2000 + 3 * 1000
