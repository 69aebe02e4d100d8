"""ANN quality guard: the approximate similarity paths must actually
find neighbors. Correctness parity (the oracle) proves each algorithm
computes ITS OWN definition exactly; this suite pins the cross-
algorithm property that makes the approximate paths useful at all —
recall against the brute-force ground truth — so a parameter change
(planes, nprobe, caps) that silently guts retrieval fails CI instead
of shipping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipe_s_spark.functions import similarity as S
from pipe_s_spark.sources import load_table

SF = "/root/testdata/sf0.01"
K = 5
N_QUERIES = 10


def _truth(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    rows = S.brute_force_topk(emb, q, k=K).collect()
    truth: dict = {}
    for r in rows:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return truth


def _recall(got_rows, truth):
    got: dict = {}
    for r in got_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    total = sum(len(t) for t in truth.values())
    return hits / total


def test_ivf_topk_recall_monotone_and_above_floor(spark):
    """Recall must rise monotonically with nprobe and clear a floor at
    the query defaults. The floor is what the deterministic literal
    centroids (not data-learned — the oracle must replay them) achieve
    on this corpus: measured 0.40 at nprobe=2 of 8 cells; 0.35 guards
    against a probing/assignment regression without flaking."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    truth = _truth(spark)
    recalls = []
    for nprobe in (1, 2, 4):
        got = S.ivf_topk(emb, q, k=K, nprobe=nprobe).collect()
        recalls.append(_recall(got, truth))
    assert recalls == sorted(recalls), f"recall not monotone in nprobe: {recalls}"
    assert recalls[1] >= 0.35, f"IVF recall collapsed at nprobe=2: {recalls[1]:.2f}"


def test_ivf_full_probe_is_exact(spark):
    """Probing every cell must reduce IVF to brute force exactly —
    the boundary case that separates 'approximate by design' from
    'wrong'."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    truth = _truth(spark)
    got = S.ivf_topk(emb, q, k=K, nprobe=S.IVF_CELLS).collect()
    assert _recall(got, truth) == 1.0


def test_kmeans_ivf_beats_label_mean_and_hash_init(spark):
    """Unsupervised Lloyd's training must actually buy recall: at the
    query defaults (nprobe=2, k=5) the k-means cells must beat BOTH the
    supervised label-mean stand-in and the untrained hash-derived
    cells. Everything is deterministic (md5 init cells, exact int64
    training arithmetic, fixed corpus), so the measured values —
    kmeans 0.56 vs label-mean 0.32 vs hash-init 0.40 — cannot flake;
    the floors guard a training/assignment regression."""
    from pipe_s_spark.queries_sim import q_sim_ivf_kmeans, q_sim_ivf_trained

    truth = _truth(spark)
    r_kmeans = _recall(q_sim_ivf_kmeans(spark, SF).collect(), truth)
    r_label = _recall(q_sim_ivf_trained(spark, SF).collect(), truth)
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    r_hash = _recall(S.ivf_topk(emb, q, k=K, nprobe=2).collect(), truth)
    assert r_kmeans >= r_label, f"kmeans {r_kmeans:.2f} < label-mean {r_label:.2f}"
    assert r_kmeans >= r_hash, f"kmeans {r_kmeans:.2f} < hash-init {r_hash:.2f}"
    assert r_kmeans >= 0.5, f"kmeans recall collapsed: {r_kmeans:.2f}"


def test_cell_pairs_subset_and_recall_floor(spark):
    """Cluster-scoped near-dup pairs (sim_cell_pairs): every emitted
    pair must clear the exact verify threshold (subset of the exact
    all-pairs answer — the cells only BLOCK, never score), and the
    single-cell blocking must keep a useful recall floor. Deterministic
    corpus + deterministic training: measured 5/14 = 0.357; 0.3 guards
    an assignment/capping regression without flaking."""
    from pipe_s_spark.queries_sim import q_sim_cell_pairs

    emb = load_table(spark, SF, "embeddings")
    exact = {
        tuple(sorted((r["id1"], r["id2"])))
        for r in S.threshold_pairs_blocked(emb, threshold=0.45).collect()
    }
    got = {
        tuple(sorted((r["id1"], r["id2"])))
        for r in q_sim_cell_pairs(spark, SF).collect()
    }
    assert got <= exact, "cell pairs emitted a pair below the exact threshold"
    assert exact and len(got & exact) / len(exact) >= 0.3


def test_multi_table_lsh_amplifies_recall(spark):
    """OR-amplification: L independent hash tables must raise pair
    recall monotonically, tracking 1-(1-q)^L (MMDS ch.3). Everything
    is deterministic (md5 plane family, fixed corpus), so the pinned
    floors cannot flake: measured q=0.020 single-table at threshold
    0.3, 0.067 at L=4, 0.133 at L=8 — the theoretical 0.017/0.066/0.128
    within rounding."""
    emb = load_table(spark, SF, "embeddings")
    exact = {
        tuple(sorted((r["id1"], r["id2"])))
        for r in S.threshold_pairs_blocked(emb, threshold=0.3).collect()
    }
    assert exact
    recalls = []
    for n_tables in (1, 4, 8):
        got = {
            tuple(sorted((r["id1"], r["id2"])))
            for r in S.lsh_candidates_multi(
                emb, n_tables=n_tables, threshold=0.3
            ).collect()
        }
        assert got <= exact, "LSH emitted a pair below the verify threshold"
        recalls.append(len(got & exact) / len(exact))
    assert recalls == sorted(recalls), f"recall not monotone in L: {recalls}"
    assert recalls[-1] >= 0.12, f"amplified recall collapsed: {recalls}"
    assert recalls[-1] > recalls[0], "extra tables added no recall"


def test_knn_graph_lsh_recall_floor_and_subset(spark):
    """The registered scale-safe kNN graph (sim_knn_graph_lsh) must
    keep a useful fraction of the exact graph's edges, and every edge
    it emits must carry the true exact cosine (LSH only BLOCKS; the
    verify is exact). Deterministic md5 plane family + fixed corpus:
    measured 0.605 at 8 tables WITH radius-1 multiprobe on sf0.01
    (0.695 at sf0.1) — vs 0.25/0.31 for 16 unprobed tables (r9); 0.5
    guards a probe/table/cap/bucketing regression without flaking."""
    from pipe_s_spark.queries_sim import q_sim_knn_graph, q_sim_knn_graph_lsh

    exact_rows = q_sim_knn_graph(spark, SF).collect()
    exact = {(r["node_id"], r["neighbor_id"]) for r in exact_rows}
    got_rows = q_sim_knn_graph_lsh(spark, SF).collect()
    got = {(r["node_id"], r["neighbor_id"]) for r in got_rows}
    assert exact and len(got & exact) / len(exact) >= 0.5
    # emitted cosines are exact: any (node, nb) present in BOTH graphs
    # must agree on cos_sim bit-for-bit (same rounded-exact verify)
    exact_cos = {(r["node_id"], r["neighbor_id"]): r["cos_sim"] for r in exact_rows}
    for r in got_rows:
        key = (r["node_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cos_sim"] == exact_cos[key]


def test_triplets_blocked_subset_and_coverage(spark):
    """Blocked triplet mining (sim_triplets_blocked) vs the exact
    triplet miner run at the same 0.30 hardness threshold: blocked
    anchors must be a SUBSET (cell blocking only removes edges, never
    adds), per-anchor pos/neg cosines can only go DOWN (max over a
    subset), and anchor coverage must clear a floor. Deterministic
    training + corpus: measured coverage 0.20 at sf0.01, 0.40 at
    sf0.1; 0.15 guards a blocking/capping regression."""
    from pipe_s_spark.functions import similarity as S2
    from pipe_s_spark.queries_sim import (
        _triplets_from_pairs,
        q_sim_triplets_blocked,
    )

    emb = load_table(spark, SF, "embeddings")
    exact_pairs = S2.threshold_pairs_blocked(emb, threshold=0.3)
    exact = {r["anchor_id"]: r for r in _triplets_from_pairs(spark, SF, exact_pairs).collect()}
    blocked = {r["anchor_id"]: r for r in q_sim_triplets_blocked(spark, SF).collect()}
    assert blocked, "blocked triplets empty at sf0.01"
    assert set(blocked) <= set(exact), "blocked mined an anchor the exact form lacks"
    assert len(blocked) / len(exact) >= 0.15
    for a, r in blocked.items():
        assert r["pos_cos"] <= exact[a]["pos_cos"]
        assert r["neg_cos"] <= exact[a]["neg_cos"]


def test_auto_planes_sql_matches_python_across_range():
    """The SQL rendering of auto_planes (generate_series + integer
    shift comparisons, evaluated by DuckDB from a live COUNT) must
    equal the Python function for EVERY corpus size, not just the two
    test SFs the oracle run exercises — including both sides of every
    2^p boundary and the clamps."""
    import duckdb

    ns = [1, 2, 1023, 1024, 1025]
    for p in range(8, 31):
        ns += [(64 << p) - 1, 64 << p, (64 << p) + 1]
    ns += [10**12, 10**15]
    con = duckdb.connect()
    # substitute the COUNT(*) scalar (materializing range(64<<30) rows
    # is not feasible); the generate_series / shift / COALESCE logic —
    # the part that could drift from the Python — still evaluates live
    template = S.auto_planes_sql(count_from="__CF__")
    probe = "(SELECT COUNT(*) AS n FROM __CF__) n"
    assert probe in template
    for n in ns:
        sql = template.replace(probe, f"(SELECT CAST({n} AS BIGINT) AS n) n")
        got = con.execute(sql).fetchone()[0]
        assert got == S.auto_planes(n), (n, got, S.auto_planes(n))


def test_gated_bucket_sql_matches_plain_sql():
    """lsh_bucket_gated_sql with the gate pinned to p planes must
    render the same bucket as lsh_bucket_sql(planes=p) — the gated
    form is what the auto query's oracle evaluates, the plain form is
    what every pinned oracle has used since round 1 (and is itself
    pinned to the engine by the oracle suite)."""
    import duckdb

    con = duckdb.connect()
    # deterministic pseudo-random test vectors from the same md5 family
    vec_sql = (
        "list_transform(generate_series(1, 64), i -> "
        "(CAST(('0x' || substr(md5(CAST(s AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 4)) AS INTEGER) / 65536.0 - 0.5))"
    )
    for planes in (8, 10, 12):
        q = f"""
        SELECT COUNT(*) FROM (
            SELECT {S.lsh_bucket_sql('v', planes=planes)} AS a,
                   {S.lsh_bucket_gated_sql('v', str(planes))} AS b
            FROM (SELECT {vec_sql} AS v FROM generate_series(1, 50) t(s))
        ) WHERE a <> b
        """
        assert con.execute(q).fetchone()[0] == 0, f"planes={planes}"


def test_multi_table_signature_kernel_matches_expression(spark):
    """The multi-table LSH signature kernel (numpy, left-to-right
    accumulation) must produce bit-identical buckets to the engine's
    expression form (F.aggregate's sequential fold) for every table —
    this parity is what lets sim_knn_graph_lsh's DuckDB oracle (which
    renders the same fold as list_sum) replay the candidate set
    exactly. A reordered numpy sum (e.g. matmul) can flip a near-zero
    plane dot and silently move vectors across buckets."""
    emb = load_table(spark, SF, "embeddings")
    n_tables, planes = 4, S.LSH_PLANES
    v = S.as_double_array("embedding")
    expr = emb.select(
        "vec_id",
        *[
            S.lsh_bucket(v, planes=planes, plane_offset=t * planes).alias(f"b{t}")
            for t in range(n_tables)
        ],
    ).collect()
    want = {
        (r["vec_id"], t * (2**planes) + r[f"b{t}"])
        for r in expr
        for t in range(n_tables)
    }
    got = {
        (r["id"], r["gk"])
        for r in S.multi_table_signatures(
            emb, n_tables=n_tables, planes=planes
        ).collect()
    }
    assert got == want


def test_auto_planes_formula_and_test_scale_parity(spark):
    """auto_planes: exact integer boundaries (smallest p with
    target * 2^p >= n, clamped to [LSH_PLANES, 30]), and at test scale
    the derived count collapses to the LSH_PLANES floor — so
    sim_lsh_buckets_auto must emit exactly sim_lsh_buckets' pairs
    (plus the planes column)."""
    from pipe_s_spark.queries_sim import q_sim_lsh_buckets, q_sim_lsh_buckets_auto

    assert S.auto_planes(1) == S.LSH_PLANES
    assert S.auto_planes(64 << 8) == 8          # boundary: exactly fits
    assert S.auto_planes((64 << 8) + 1) == 9    # one past the boundary
    assert S.auto_planes(40_000) == 10          # the x10 scaling leg
    assert S.auto_planes(10**12) == 30          # clamp
    pinned = {
        (r["id1"], r["id2"], r["bucket"], r["cos_sim"])
        for r in q_sim_lsh_buckets(spark, SF).collect()
    }
    auto_rows = q_sim_lsh_buckets_auto(spark, SF).collect()
    assert all(r["planes"] == S.LSH_PLANES for r in auto_rows)
    auto = {(r["id1"], r["id2"], r["bucket"], r["cos_sim"]) for r in auto_rows}
    assert auto == pinned


def test_pq_adc_recall_above_floor(spark):
    """PQ-ADC ranking (sim_pq_topk) must clear a recall floor against
    brute force. Measured 0.52 at the pinned 16x32 geometry on this
    corpus (synthetic near-random embeddings — the hardest case to
    quantize; the coarser 4x16 book scored 0.12, which is what this
    guard exists to catch); 0.35 guards regression without flaking."""
    from pipe_s_spark.queries_pq import q_sim_pq_topk

    truth = _truth(spark)
    got = q_sim_pq_topk(spark, SF).collect()
    r = _recall(got, truth)
    assert r >= 0.35, f"PQ-ADC recall collapsed: {r:.2f}"


def test_ivfpq_recall_above_floor_and_rerank_helps(spark):
    """The IVF-ADC pipeline (coarse cells -> ADC shortlist -> exact
    re-rank) must clear the same floor AND not fall below the pure
    ADC ranking — the exact re-rank can only fix ADC mistakes within
    the probed cells (measured 0.56 vs 0.52 flat-ADC at sf0.01; data
    and both algorithms are deterministic, so the comparison cannot
    flake)."""
    from pipe_s_spark.queries_pq import q_sim_ivfpq_topk, q_sim_pq_topk

    truth = _truth(spark)
    got = q_sim_ivfpq_topk(spark, SF).collect()
    r = _recall(got, truth)
    assert r >= 0.35, f"IVF-ADC recall collapsed: {r:.2f}"
    r_adc = _recall(q_sim_pq_topk(spark, SF).collect(), truth)
    assert r >= r_adc, (
        f"exact re-rank made recall WORSE than flat ADC: {r:.2f} < {r_adc:.2f}"
    )


def test_multiprobe_candidates_are_exactly_hamming_le_1(spark):
    """Radius-1 multiprobe via masked keys must admit EXACTLY the
    pairs whose bucket signatures are at Hamming distance <= 1 in some
    table (the masked-key construction's defining property: equal
    buckets share the full key, distance-1 pairs share the one masked
    key at their differing bit, distance>=2 pairs share nothing).
    Verified against a direct recomputation of every table's bucket
    from the expression form + popcount — no cap, so no drops."""
    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 200)
    n_tables, planes = 2, S.LSH_PLANES
    v = S.as_double_array("embedding")
    sigs = emb.select(
        "vec_id",
        *[
            S.lsh_bucket(v, planes=planes, plane_offset=t * S.PLANE_STRIDE).alias(f"b{t}")
            for t in range(n_tables)
        ],
    ).collect()
    want = set()
    for i, a in enumerate(sigs):
        for b in sigs[i + 1 :]:
            for t in range(n_tables):
                if bin(a[f"b{t}"] ^ b[f"b{t}"]).count("1") <= 1:
                    lo, hi = sorted((a["vec_id"], b["vec_id"]))
                    want.add((lo, hi))
    got = {
        (r["id1"], r["id2"])
        for r in S.lsh_candidates_multi(
            emb,
            n_tables=n_tables,
            planes=planes,
            cap=10**6,
            threshold=-1.0,
            plane_stride=S.PLANE_STRIDE,
            multiprobe=True,
            coarse_mod=64,
        ).collect()
    }
    assert got == want


def test_coarse_packed_path_matches_fine_path(spark):
    """The coarse-batched, binary-packed verify (coarse_mod + packed +
    fused cap) must emit row-for-row identical pairs AND cosines to
    the per-group array<double> path with the upstream cap helper —
    the coarse key only changes work placement, and the float64 bytes
    roundtrip is bit-exact."""
    from pipe_s_spark.functions.dedup import cap_group_size

    emb = load_table(spark, SF, "embeddings")
    kw = dict(
        n_tables=4,
        planes=S.LSH_PLANES,
        plane_stride=S.PLANE_STRIDE,
        multiprobe=True,
    )
    coarse = {
        (r["id1"], r["id2"], r["cos_sim"])
        for r in S.lsh_candidates_multi(
            emb, cap=64, threshold=-1.0, coarse_mod=32, **kw
        ).collect()
    }
    sig = cap_group_size(S.multi_table_signatures(emb, **kw), ["gk"], 64)
    fine = {
        (r["id1"], r["id2"], r["cos_sim"])
        for r in S.grouped_pairs_exact(
            sig, "gk", id_col="id", vec_col="v", threshold=-1.0
        )
        .dropDuplicates(["id1", "id2"])
        .collect()
    }
    assert coarse == fine and coarse


def test_query_directed_probe_bits_subset_and_rank_rule(spark):
    """probe_bits=T candidates must be a SUBSET of full radius-1
    probing (it emits a subset of the masked keys), must still contain
    every exact-bucket (Hamming-0) pair, and the kernel's chosen mask
    positions must be the stable-argsort T smallest |dot| planes —
    recomputed here from the expression-side dots."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 300)
    kw = dict(
        n_tables=2,
        planes=S.LSH_PLANES,
        cap=10**6,
        threshold=-1.0,
        plane_stride=S.PLANE_STRIDE,
        multiprobe=True,
        coarse_mod=32,
    )
    full = {
        (r["id1"], r["id2"])
        for r in S.lsh_candidates_multi(emb, **kw).collect()
    }
    sub = {
        (r["id1"], r["id2"])
        for r in S.lsh_candidates_multi(emb, probe_bits=3, **kw).collect()
    }
    assert sub <= full
    exact_bucket = {
        (r["id1"], r["id2"])
        for r in S.lsh_candidates_multi(
            emb,
            n_tables=2,
            planes=S.LSH_PLANES,
            cap=10**6,
            threshold=-1.0,
            plane_stride=S.PLANE_STRIDE,
        ).collect()
    }
    assert exact_bucket <= sub, "query-directed probing lost Hamming-0 pairs"
    # rank rule: recompute every vector's plane dots driver-side with
    # the same left-to-right fold and assert the emitted masked gk
    # values EQUAL the keys derived from stable-argsort of |dot| — a
    # kernel that picked the T LARGEST margins (or dropped the abs())
    # would pass a count-only check but fail this one
    T, planes, n_tables = 3, S.LSH_PLANES, 2
    rows = S.multi_table_signatures(
        emb, n_tables=n_tables, planes=planes, plane_stride=S.PLANE_STRIDE,
        multiprobe=True, probe_bits=T, packed=True,
    ).collect()
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r["id"], set()).add(r["gk"])
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    dim = len(next(iter(vecs.values())))
    W = np.array(
        [
            [S.plane_weight_value(t * S.PLANE_STRIDE + p, i) for i in range(1, dim + 1)]
            for t in range(n_tables)
            for p in range(planes)
        ]
    )
    V = np.array([vecs[i] for i in sorted(vecs)], dtype="float64")
    ids = sorted(vecs)
    dots = np.zeros((len(ids), W.shape[0]))
    for i in range(dim):  # the kernel's left-to-right fold, bit-exact
        dots += V[:, i : i + 1] * W[None, :, i]
    pw = 2 ** np.arange(planes, dtype="int64")
    width = planes + 1
    for vi, vid in enumerate(ids):
        want: set[int] = set()
        for t in range(n_tables):
            tdots = dots[vi, t * planes : (t + 1) * planes]
            bucket = int(((tdots > 0).astype("int64") * pw).sum())
            want.add((t * width) * (2**planes) + bucket)
            for j in np.argsort(np.abs(tdots), kind="stable")[:T]:
                want.add(
                    (t * width + int(j) + 1) * (2**planes)
                    + (bucket - (bucket & (1 << int(j))))
                )
        assert got[vid] == want, f"vec {vid}: masked keys diverge from rank rule"


def test_grouped_knn_candidates_match_all_pairs_flow(spark):
    """The directed per-group local-top-k kernel (grouped_knn_candidates
    — what sim_knn_graph_lsh ships) must produce the IDENTICAL final
    graph to the all-pairs flow (lsh_candidates_multi at threshold=-1 +
    symmetrize): the union of a node's per-group top-k lists contains
    its global top-k under the shared (-cos, id) total order, so local
    truncation must only drop rows the global window would drop."""
    from pyspark.sql.window import Window

    emb = load_table(spark, SF, "embeddings")
    kw = dict(n_tables=4, planes=S.LSH_PLANES, plane_stride=S.PLANE_STRIDE)
    sig = S.multi_table_signatures(emb, multiprobe=True, packed=True, **kw)
    cand = S.grouped_knn_candidates(
        sig, "gk", id_col="id", vec_col="v", k=3, cap=64, coarse_mod=32, packed=True
    )
    w = Window.partitionBy("node_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    fast = {
        (r["node_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in cand.dropDuplicates(["node_id", "neighbor_id"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    pairs = S.lsh_candidates_multi(
        emb, cap=64, threshold=-1.0, multiprobe=True, coarse_mod=32, **kw
    )
    both = pairs.select(
        F.col("id1").alias("node_id"), F.col("id2").alias("neighbor_id"), "cos_sim"
    ).unionByName(
        pairs.select(
            F.col("id2").alias("node_id"), F.col("id1").alias("neighbor_id"), "cos_sim"
        )
    )
    slow = {
        (r["node_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in both.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    assert fast == slow and fast


def test_zero_norm_vectors_never_emit_nan(spark):
    """r13 advice: an all-zero embedding divided by its norm produced
    NaN cos_sim, and NaN ranks differently between the desc-score
    window (first) and the struct(-score) hash-agg (last) — top-k
    membership silently depended on the merge strategy. The kernels
    now normalize a zero vector to the zero vector (cos 0.0 against
    everything); pin that on grouped_topk_exact with zero vectors on
    BOTH sides: every emitted score is finite, zero-vector pairs score
    exactly 0.0, and the real neighbor still outranks the zero one."""
    import math

    qs = spark.createDataFrame(
        [(100, 0, [0.0, 0.0, 0.0]), (101, 0, [1.0, 0.0, 0.0])],
        "query_id long, g int, q_emb array<double>",
    )
    ms = spark.createDataFrame(
        [
            (1, 0, [0.0, 0.0, 0.0]),
            (2, 0, [1.0, 0.0, 0.0]),
            (3, 0, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, g int, embedding array<double>",
    )
    rows = S.grouped_topk_exact(qs, ms, "g", k=3).collect()
    assert rows, "kernel emitted nothing"
    assert all(math.isfinite(r["cos_sim"]) for r in rows), rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["neighbor_id"]] = r["cos_sim"]
    # zero-vector query: all zeros, never NaN
    assert set(by_q[100].values()) == {0.0}
    # real query: unit-x member wins at 1.0; zero-vector member scores 0.0
    assert by_q[101][2] == 1.0 and by_q[101][1] == 0.0


def test_brute_force_topk_query_cap(spark):
    """The r15 kernel form collects the query side to the driver; the
    collect is bounded by MAX_BRUTE_QUERIES with a limit-proof."""
    import pytest
    from pipe_s_spark.functions import similarity as S

    emb = spark.range(S.MAX_BRUTE_QUERIES + 5).selectExpr(
        "id AS vec_id", "array(CAST(id AS FLOAT), 1.0F) AS embedding"
    )
    with pytest.raises(ValueError, match="query side exceeds"):
        S.brute_force_topk(emb, emb, k=3)


def _referee_corpus():
    """Hand-built kernel corpus: small-integer vectors (so cosine ties
    are real), exact duplicates, negated copies, zero vectors, one group
    of 1,500 rows (past the kernel's batch budget, so it is scored in
    row chunks) and many small groups of repeating sizes; ~3,200 rows,
    so the block-pair groups of the blocked entries are row-chunked
    too. ADC payloads: a 4x8 int LUT and 4 codes per row."""
    import numpy as np

    rng = np.random.default_rng(7)
    sizes = [1500] + [1, 2, 2, 3, 3, 5, 5, 8, 40, 40, 64, 64] * 7 + [1, 2, 2, 5]
    n = sum(sizes)
    vecs = rng.integers(-2, 3, size=(n, 12)).astype("float64")
    vecs[1::50] = vecs[0::50]
    vecs[3::60] = -vecs[2::60]
    vecs[5::97] = 0.0
    ids = rng.permutation(10 * n)[:n].astype("int64")
    groups = np.repeat(np.arange(len(sizes)), sizes)
    luts = rng.integers(-20, 21, size=(n, 32))
    codes = rng.integers(0, 8, size=(n, 4))
    return ids, groups, vecs, luts, codes


def _referee_cos(a, b):
    """Cosine of every (a row, b row) pair as dot / (|a| |b|), 0.0 for
    a zero vector, rounded to 6 decimals."""
    import numpy as np

    nn = np.outer(np.linalg.norm(a, axis=1), np.linalg.norm(b, axis=1))
    return np.where(nn == 0, 0.0, (a @ b.T) / np.where(nn == 0, 1.0, nn)).round(6)


def _referee_topk(score, ids, qids, same, k):
    """(qid, nid, score) for each query's first k members by
    (-score, nid), excluding nid == qid, among members with ``same``."""
    import numpy as np

    out = set()
    for i, q in enumerate(qids):
        cand = np.flatnonzero(same[i] & (ids != q))
        top = cand[np.lexsort((ids[cand], -score[i, cand]))[:k]]
        out |= {(int(q), int(ids[j]), score[i, j].item()) for j in top}
    return out


@pytest.mark.parametrize(
    "entry",
    [
        "threshold_pairs_blocked",
        "grouped_pairs_exact",
        "grouped_pairs_exact_coarse_cap",
        "grouped_knn_candidates",
        "grouped_topk_exact",
        "grouped_adc_topk",
        "knn_graph_blocked",
    ],
)
def test_similarity_kernels_match_brute_force_referee(spark, entry):
    """Every public entry over the shared block kernel returns exactly
    the rows of a plain-numpy brute force of its documented contract:
    pairs are id1 < id2 with round6(cos) >= threshold; top-k is the
    first k by (-round6(cos), neighbor_id) with self excluded; ADC
    scores are exact int64 LUT sums under the same order. Ties,
    zero vectors, negative cosines, a query id present on the member
    side and the row-chunked big-group branch are all in the corpus."""
    import numpy as np

    ids, groups, vecs, luts, codes = _referee_corpus()
    same = groups[:, None] == groups[None, :]
    rows = [
        (int(i), int(g), v.tolist(), v.tobytes(), lu.tolist(), c.tolist())
        for i, g, v, lu, c in zip(ids, groups, vecs, luts, codes)
    ]
    df = spark.createDataFrame(
        rows,
        "vec_id long, g int, embedding array<double>, v binary, "
        "lut array<bigint>, codes array<int>",
    )
    if entry in ("grouped_topk_exact", "grouped_adc_topk"):
        # query ids equal to member ids (self-excluded) plus two ids
        # that exist only on the query side
        extra = [
            (-1, 0, vecs[0].tolist(), luts[0].tolist()),
            (-2, 1, [0.0] * 12, luts[1].tolist()),
        ]
        queries = spark.createDataFrame(
            [(r[0], r[1], r[2], r[4]) for r in rows] + extra,
            "query_id long, g int, q_emb array<double>, lut array<bigint>",
        )
        qids = np.r_[ids, -1, -2]
        qgroups = np.r_[groups, 0, 1]
        qsame = qgroups[:, None] == groups[None, :]
        if entry == "grouped_topk_exact":
            qvecs = np.vstack([vecs, vecs[0], np.zeros(12)])
            score = _referee_cos(qvecs, vecs)
            got = S.grouped_topk_exact(queries, df, "g", k=3).collect()
        else:
            qluts = np.vstack([luts, luts[0], luts[1]])
            score = sum(qluts[:, j * 8 + codes[:, j]] for j in range(4))
            got = S.grouped_adc_topk(queries, df, "g", m=4, k_codes=8, k=3).collect()
        want = _referee_topk(score, ids, qids, qsame, 3)
    elif entry == "knn_graph_blocked":
        full = _referee_topk(_referee_cos(vecs, vecs), ids, ids, np.ones_like(same), 3)
        rank: dict = {}
        want = set()
        for q, nid, s in sorted(full, key=lambda t: (t[0], -t[2], t[1])):
            rank[q] = rank.get(q, 0) + 1
            want.add((q, nid, s, rank[q]))
        got = S.knn_graph_blocked(df, k=3).collect()
    elif entry == "grouped_knn_candidates":
        want = _referee_topk(_referee_cos(vecs, vecs), ids, ids, same, 3)
        got = S.grouped_knn_candidates(
            df, "g", vec_col="v", k=3, coarse_mod=8, packed=True
        ).collect()
    else:
        cos = _referee_cos(vecs, vecs)
        thr = 0.7
        live = same if entry != "threshold_pairs_blocked" else np.ones_like(same)
        if entry == "grouped_pairs_exact_coarse_cap":
            live = live & (np.bincount(groups)[groups] <= 64)[:, None]
        i, j = np.nonzero(live & (ids[:, None] < ids[None, :]) & (cos >= thr))
        if entry == "threshold_pairs_blocked":
            want = set(zip(ids[i].tolist(), ids[j].tolist(), cos[i, j].tolist()))
            got = S.threshold_pairs_blocked(df, threshold=thr).collect()
        else:
            want = set(
                zip(ids[i].tolist(), ids[j].tolist(), groups[i].tolist(), cos[i, j].tolist())
            )
            kw = dict(coarse_mod=8, cap=64) if entry.endswith("cap") else {}
            got = S.grouped_pairs_exact(df, "g", threshold=thr, **kw).collect()
    got_rows = [tuple(r) for r in got]
    assert len(got_rows) == len(set(got_rows)), "duplicate output rows"
    assert set(got_rows) == want and want
