"""Embedding similarity-search queries: brute-force / LSH / IVF / SQ8 ANN with recall evals, centroid classification, pair mining. Cosines round to 6 decimals to absorb summation-order ulps (see functions.similarity)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipe_s_spark.functions import dedup as D
from pipe_s_spark.functions import shared as SH
from pipe_s_spark.functions import similarity as S
from pipe_s_spark.sources import load_table

from pipe_s_spark.queries_llm_shared import (
    SIM_BUCKET_CAP,
    SQ8_CAND_K,
    _semantic_pairs_cached,
)




def _corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Embedding-corpus row count, memoized per (application, sf_dir):
    the count only SIZES the LSH signature, so rerunning the count job
    on every invocation (4x per bench entry; an extra full pass over
    the corpus at real scale — r9 advice) buys nothing. A production
    run would read it from the table's metadata/statistics."""
    return int(
        SH.scalar(
            spark,
            ("corpus_count", sf_dir, "embeddings"),
            lambda: load_table(spark, sf_dir, "embeddings").count(),
        )
    )


# --- similarity search ---------------------------------------------------


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-5 cosine neighbors for query vecs (id<10)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).select(
        "query_id", "neighbor_id", "cos_sim", "rk"
    )


SQL_SIM_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           ROUND({S.cosine_sql('q.v', 'e.v')}, 6) AS cos_sim
    FROM q, e WHERE q.vec_id <> e.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rk
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 5
"""


def q_sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: all (a<b) with cosine >= 0.45, via the
    blocked numpy kernel (Arrow batches x broadcast matrix)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.threshold_pairs_blocked(emb, threshold=0.45)


SQL_SIM_THRESHOLD = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       ROUND({S.cosine_sql('a.v', 'b.v')}, 6) AS cos_sim
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND ROUND({S.cosine_sql('a.v', 'b.v')}, 6) >= 0.45
"""


def q_sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN: candidates share a bucket (equi-join,
    the 100 TB path); verify candidates with exact cosine >= 0.3.
    Buckets larger than SIM_BUCKET_CAP are dropped before the join."""
    from pipe_s_spark.queries_llm_shared import _lsh_bucket_cached

    emb = load_table(spark, sf_dir, "embeddings")
    # r16 (advice): no broadcast HINT on the bucket table — it is
    # corpus-sized (one row per vector), so forcing a driver-side build
    # is the fact-sized-broadcast anti-pattern at scale; the planner
    # auto-broadcasts it at bench scale (checkpointed size is accurate)
    # and picks a shuffle join when it outgrows the threshold.
    e = emb.select(
        "vec_id",
        S.as_double_array("embedding").alias("v"),
    ).join(_lsh_bucket_cached(spark, sf_dir), "vec_id")
    e = D.cap_group_size(e, ["bucket"], SIM_BUCKET_CAP)
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            F.col("a.bucket").alias("bucket"),
            F.round(S.cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
    )


SQL_SIM_LSH = f"""
WITH e0 AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           {S.lsh_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
    FROM embeddings
),
e AS (
    SELECT vec_id, v, bucket FROM (
        SELECT vec_id, v, bucket, COUNT(*) OVER (PARTITION BY bucket) AS gs FROM e0
    ) WHERE gs <= {SIM_BUCKET_CAP}
)
SELECT a.vec_id AS id1, b.vec_id AS id2, a.bucket AS bucket,
       ROUND({S.cosine_sql('a.v', 'b.v')}, 6) AS cos_sim
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND({S.cosine_sql('a.v', 'b.v')}, 6) >= 0.3
"""


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: narrow argmax-centroid assignment, query
    probes its nprobe best cells, candidates via cell equi-join, exact
    re-rank. The scale path where even LSH bucket joins are too wide:
    the corpus is partitioned by cell once and probes touch nprobe/IVF
    of the data."""
    from pipe_s_spark.queries_llm_shared import _ivf_assign_cached, _ivf_probes_cached

    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=2,
        assign=_ivf_assign_cached(spark, sf_dir),
        probes=_ivf_probes_cached(spark, sf_dir),
        probes_depth=3,  # _ivf_probes_cached's nprobe_max default
    ).select("query_id", "neighbor_id", "cos_sim", "rk")


SQL_SIM_IVF = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cd AS (
    SELECT e.vec_id, cells.cell,
           list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * cells.cv[i])) AS d
    FROM e CROSS JOIN {S.ivf_cells_values_sql()}
),
assign AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd) WHERE r = 1
),
probes AS (
    SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd WHERE vec_id < 10) WHERE r <= 2
),
scored AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           ROUND({S.cosine_sql('q.v', 'c.v')}, 6) AS cos_sim
    FROM probes p
    JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
    JOIN e q ON q.vec_id = p.query_id
    JOIN e c ON c.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(rk AS INTEGER) AS rk
FROM (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM scored
) WHERE rk <= 5
"""


def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact kNN graph (top-3 cosine neighbors per vector)
    via the block-matrix kernel — the semantic-dedup / graph-clustering
    primitive (no corpus broadcast, no cross-product node; candidates
    are n*B*k rows and the rank window is partitioned per node)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph_blocked(emb, k=3)


SQL_SIM_KNN = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
    SELECT a.vec_id AS node_id, b.vec_id AS neighbor_id,
           ROUND({S.cosine_sql('a.v', 'b.v')}, 6) AS cos_sim
    FROM e a, e b WHERE a.vec_id <> b.vec_id
)
SELECT node_id, neighbor_id, cos_sim, CAST(rk AS INTEGER) AS rk
FROM (
    SELECT node_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY node_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM scored
) WHERE rk <= 3
"""


#: Multi-table LSH geometry for the approximate kNN graph (OR over
#: KNN_LSH_TABLES independent plane sets — see multi_table_signatures).
#: 8 tables WITH radius-1 multiprobe: measured edge recall vs the
#: exact graph 0.605 at sf0.01 / 0.695 at sf0.1 — vs 0.26/0.31 for the
#: r9 geometry (16 tables, no probing) at comparable candidate cost
#: per table. Probing multiplies per-table hit probability by
#: ~(1 + planes*(1-q)/q), far more recall per key than doubling
#: tables; cost stays linear (1+planes keys/vector/table).
KNN_LSH_TABLES = 8

#: Spark-level group count for the batched verify kernel (see
#: grouped_pairs_exact coarse_mod): multiprobe multiplies bucket-group
#: count by 1+planes, and per-group pandas overhead (~0.5 ms) would
#: dominate; 256 coarse groups = 8 per local[32] slot, size-balanced
#: because bucket bits are hash-uniform.
KNN_LSH_COARSE = 256


def q_sim_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide APPROXIMATE kNN graph — the scale-safe counterpart
    of sim_knn_graph (which is exact all-pairs BY CONTRACT and measured
    alpha_x10 ~ 1.6 in the x10 scaling study): candidates come from
    multi-table hyperplane LSH with RADIUS-1 MULTIPROBE
    (functions.similarity.multi_table_signatures plus
    grouped_knn_candidates — KNN_LSH_TABLES OR-ed hash tables, each
    vector additionally keyed under every one-bit-masked bucket so
    Hamming<=1 pairs meet in an equi-join;
    one Arrow signature pass + one coarse-batched grouped verify
    kernel with the group cap fused in), then the same per-node
    rank-window tail emits each node's top-3 verified-cosine
    candidates.

    FULLY corpus-sized: each table's plane count derives from the live
    COUNT (functions.similarity.auto_planes — exact integer
    arithmetic), and tables draw planes at the static PLANE_STRIDE so
    plane identity does not depend on the derived count — which is
    what lets the DuckDB oracle bake every table's literal plane
    matrix while gating the bit count on its own COUNT(*), and replay
    the probe expansion with a generate_series over its own derived
    plane count. Expected bucket occupancy stays ~AUTO_PLANES_TARGET
    rows per table at ANY corpus size: candidate volume is
    ~tables x (1+planes) x target x n — linear in n times a log-n
    probe factor — with the per-bucket cap backstopping degenerate
    keys. Measured edge recall vs the exact graph: 0.605 at sf0.01 /
    0.695 at sf0.1 (pinned in tests/test_ann_recall.py) — 2.2x the
    16-table unprobed r9 geometry at comparable cost.

    Why NOT query-directed probing (measured negative result, r11):
    registering the graph on probe_bits=T (mask only the T
    smallest-|dot| planes — multi_table_signatures' tested
    query-directed mode, the r10 brief's suggested signature-volume
    cut) was measured at T in {4, 5, 6} on both SFs: recall fell to
    0.335/0.44 (T=4), 0.419/0.526 (T=5), 0.493/0.602 (T=6) —
    UNDER the 0.5 floor at sf0.01 for every T that saves meaningful
    signature volume — while wall time moved inside the run-to-run
    envelope (and T=4 at sf0.1 measured SLOWER: the chosen masks
    concentrate on near-hyperplane bits, whose shared masked buckets
    are systematically the crowded ones). A distance-1 pair is found
    only if the differing bit ranks in BOTH endpoints' T smallest
    margins, and at this corpus's plane counts (17-20) that joint
    condition discards too much of the radius-1 recall. The
    probe_bits mode stays available (and rank-rule-pinned) for
    callers whose corpora have fewer planes or laxer floors."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = S.auto_planes(_corpus_count(spark, sf_dir))  # memoized scalar
    sig = S.multi_table_signatures(
        emb,
        n_tables=KNN_LSH_TABLES,
        planes=planes,
        plane_stride=S.PLANE_STRIDE,
        multiprobe=True,
        packed=True,
    )
    # per-group DIRECTED local top-3 instead of every verified pair:
    # the union of a node's per-key lists contains its global top-3
    # (same (-cos, id) order locally and globally — see
    # grouped_knn_candidates), so the rows below are identical while
    # the shuffle into dedup+window carries <= keys x 3 rows per node
    # instead of keys x bucket-occupancy (the x10 scaling killer)
    cand = S.grouped_knn_candidates(
        sig,
        "gk",
        id_col="id",
        vec_col="v",
        k=3,
        cap=SIM_BUCKET_CAP,
        coarse_mod=KNN_LSH_COARSE,
        packed=True,
    )
    w = Window.partitionBy("node_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        cand.dropDuplicates(["node_id", "neighbor_id"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("node_id", "neighbor_id", "cos_sim", "rk")
    )


def _sql_sim_knn_graph_lsh() -> str:
    branches = "\nUNION ALL\n".join(
        f"    SELECT vec_id, {t} AS table_id, "
        + S.lsh_bucket_gated_sql(
            "v", "pl.planes", plane_offset=t * S.PLANE_STRIDE
        )
        + " AS bucket FROM e CROSS JOIN pl"
        for t in range(KNN_LSH_TABLES)
    )
    # keys replays the engine's multiprobe key set: the full bucket
    # (m = 0) plus, per m in 1..planes, the bucket with bit m-1 zeroed
    # (b - (b & mask) == b & ~mask). gk encoding matches
    # multi_table_signatures: (table*(planes+1) + m) * 2^planes + mb.
    return f"""
WITH pl AS ({S.auto_planes_sql('embeddings')}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
tb AS (
{branches}
),
mk AS (
    SELECT vec_id, table_id, bucket, pl.planes AS planes,
           unnest(generate_series(1, pl.planes)) AS m
    FROM tb CROSS JOIN pl
),
keys AS (
    SELECT vec_id,
           CAST(table_id * (pl.planes + 1) AS BIGINT)
               * (1::BIGINT << pl.planes) + bucket AS gk
    FROM tb CROSS JOIN pl
    UNION ALL
    SELECT vec_id,
           CAST(table_id * (planes + 1) + m AS BIGINT)
               * (1::BIGINT << planes)
               + (bucket - (bucket & (1::BIGINT << (m - 1)))) AS gk
    FROM mk
),
tc AS (
    SELECT vec_id, gk FROM (
        SELECT vec_id, gk, COUNT(*) OVER (PARTITION BY gk) AS gs
        FROM keys
    ) WHERE gs <= {SIM_BUCKET_CAP}
),
cand AS (
    SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
    FROM tc a JOIN tc b
      ON a.gk = b.gk AND a.vec_id < b.vec_id
),
scored AS (
    SELECT id1, id2, ROUND({S.cosine_sql('ea.v', 'eb.v')}, 6) AS cos_sim
    FROM cand
    JOIN e ea ON ea.vec_id = id1
    JOIN e eb ON eb.vec_id = id2
),
both_dir AS (
    SELECT id1 AS node_id, id2 AS neighbor_id, cos_sim FROM scored
    UNION ALL
    SELECT id2 AS node_id, id1 AS neighbor_id, cos_sim FROM scored
)
SELECT node_id, neighbor_id, cos_sim, CAST(rk AS INTEGER) AS rk
FROM (
    SELECT node_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY node_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM both_dir
) WHERE rk <= 3
"""


#: Node-sample size for the graph-recall eval: the exact side scores
#: sample x corpus pairs (bounded, not all-pairs), the approximate
#: side is the full LSH graph filtered to the sample.
GRAPH_RECALL_SAMPLE = 200


def q_sim_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH-RECALL EVAL as an oracle-checked query: per sampled node
    (vec_id < GRAPH_RECALL_SAMPLE), how many of its exact top-3
    cosine neighbors the approximate multiprobe-LSH graph
    (sim_knn_graph_lsh) recovered — the quality number that decides
    whether the scale-safe graph can replace the exact one, emitted as
    data instead of living only in a test pin (tests/test_ann_recall
    pins the corpus-wide floor; this query makes the per-node recall
    itself value-checked against DuckDB). Exact side = brute force
    over the fixed node sample (sample x corpus pairs — the
    allowlisted eval-baseline pattern of sim_lsh_recall, never
    all-pairs); recall is an integer micro-ratio."""
    emb = load_table(spark, sf_dir, "embeddings")
    # exact side via the BLOCKED numpy kernel (knn_graph_blocked —
    # same top-3-per-node definition, same (-cos, id) order), filtered
    # to the sample: the broadcast expression-cosine brute force costs
    # ~6 s at 200 probes x sf0.1 corpus (interpreted HOF folds per
    # pair — the documented slow path), the kernel ~0.7 s for the
    # whole corpus
    exact = (
        S.knn_graph_blocked(emb, k=3)
        .filter(F.col("node_id") < GRAPH_RECALL_SAMPLE)
        .select(F.col("node_id").alias("query_id"), "neighbor_id")
    )
    # the eval CONSUMES the graph the way production consumes it — as
    # a persisted table (3n bounded rows), built once per session via
    # the shared memo, not rebuilt per read (the un-memoized form
    # re-ran the full signature+verify pipeline inside the eval join:
    # 6.6 s/run at sf0.1 vs ~1.5 s for the graph query itself)
    graph = SH.materialized(
        spark,
        ("knn_graph_lsh", sf_dir, KNN_LSH_TABLES, "multiprobe1"),
        lambda: q_sim_knn_graph_lsh(spark, sf_dir),
    )
    approx = (
        graph.filter(F.col("node_id") < GRAPH_RECALL_SAMPLE)
        .select(
            F.col("node_id").alias("query_id"),
            F.col("neighbor_id"),
            F.lit(1).alias("hit"),
        )
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr("CAST(n_hits * 1000000 DIV n_exact AS BIGINT)").alias("recall_x1m"),
        )
    )


def _sql_sim_graph_recall() -> str:
    # the approximate graph replays as a NESTED-WITH CTE (its own pl/e/
    # tb/... names scope inside `ap`); the exact side mirrors
    # SQL_SIM_TOPK's brute-force-over-probes shape at k=3
    return f"""
WITH ap AS ({_sql_sim_knn_graph_lsh()}),
ge AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
gq AS (SELECT * FROM ge WHERE vec_id < {GRAPH_RECALL_SAMPLE}),
gscored AS (
    SELECT gq.vec_id AS query_id, ge.vec_id AS neighbor_id,
           ROUND({S.cosine_sql('gq.v', 'ge.v')}, 6) AS cos_sim
    FROM gq, ge WHERE gq.vec_id <> ge.vec_id
),
gexact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM gscored
    ) WHERE rk <= 3
),
ghits AS (
    SELECT g.query_id,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN a.node_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits
    FROM gexact g
    LEFT JOIN ap a
      ON a.node_id = g.query_id AND a.neighbor_id = g.neighbor_id
         AND a.node_id < {GRAPH_RECALL_SAMPLE}
    GROUP BY g.query_id
)
SELECT query_id, n_exact, n_hits,
       CAST(n_hits * 1000000 // n_exact AS BIGINT) AS recall_x1m
FROM ghits
"""


def q_sim_lsh_buckets_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup pairs with a CORPUS-SIZED signature —
    the scale-safe counterpart of sim_lsh_buckets (whose oracle-pinned
    planes=8 makes bucket occupancy linear in n and the self-join
    quadratic: 1.1s -> 18.5s at the x10 leg): the plane count derives
    deterministically from the live corpus COUNT via
    functions.similarity.auto_planes — exact integer arithmetic
    (smallest p with target * 2^p >= n), so the oracle recomputes the
    identical count-driven geometry and both engines hash the same
    buckets. Expected bucket size stays ~AUTO_PLANES_TARGET rows, so
    candidate volume is ~target * n — LINEAR in the corpus — and the
    per-bucket cap still backstops degenerate (mass-duplicate) keys.
    At the test SFs (n <= 2000) the derived count equals the pinned
    LSH_PLANES floor, so results coincide with sim_lsh_buckets; the
    x10 scaling leg (40K vectors) is where the signature actually
    widens (10 planes) and the quadratic term disappears."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = S.auto_planes(_corpus_count(spark, sf_dir))  # memoized scalar
    e = emb.select(
        "vec_id",
        S.as_double_array("embedding").alias("v"),
    )
    if planes == S.LSH_PLANES:
        # r15: count-derived geometry == the default geometry at this
        # corpus size, so the bucket column IS the session-materialized
        # default-plane bucket table (same expression, same rows) —
        # consume it instead of re-analyzing the planes x dim literal
        # tree on BOTH sides of the self-join (~1.2 s of driver time
        # profiled per invocation).
        from pipe_s_spark.queries_llm_shared import _lsh_bucket_cached

        # no broadcast hint: corpus-sized table (see q_sim_lsh_buckets)
        e = e.join(_lsh_bucket_cached(spark, sf_dir), "vec_id")
    else:
        e = e.withColumn("bucket", S.lsh_bucket(F.col("v"), planes=planes))
    e = D.cap_group_size(e, ["bucket"], SIM_BUCKET_CAP)
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            F.col("a.bucket").alias("bucket"),
            F.round(S.cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
            F.lit(planes).cast("int").alias("planes"),
        )
        .filter(F.col("cos_sim") >= 0.3)
    )


def _sql_sim_lsh_buckets_auto() -> str:
    bucket = S.lsh_bucket_gated_sql("CAST(embedding AS DOUBLE[])", "pl.planes")
    return f"""
WITH pl AS ({S.auto_planes_sql('embeddings')}),
e0 AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           {bucket} AS bucket,
           CAST(pl.planes AS INTEGER) AS planes
    FROM embeddings CROSS JOIN pl
),
e AS (
    SELECT vec_id, v, bucket, planes FROM (
        SELECT vec_id, v, bucket, planes,
               COUNT(*) OVER (PARTITION BY bucket) AS gs FROM e0
    ) WHERE gs <= {SIM_BUCKET_CAP}
)
SELECT a.vec_id AS id1, b.vec_id AS id2, a.bucket AS bucket,
       ROUND({S.cosine_sql('a.v', 'b.v')}, 6) AS cos_sim,
       a.planes AS planes
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND({S.cosine_sql('a.v', 'b.v')}, 6) >= 0.3
"""


def q_sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY EVAL as an oracle-checked query: per probe, the
    recall@5 of the hyperplane-LSH bucket candidates against the exact
    brute-force top-5 — the eval harness every approximate index needs
    before it replaces the exact path, runnable as one query per
    parameter setting. Exact side = broadcast brute force over 10
    probes (the allowlisted baseline pattern); candidate side = the
    capped bucket equi-join; recall is an integer micro-ratio."""
    from pipe_s_spark.queries_llm_shared import _exact_topk5_cached

    emb = load_table(spark, sf_dir, "embeddings")
    exact = _exact_topk5_cached(spark, sf_dir)
    from pipe_s_spark.queries_llm_shared import _lsh_bucket_cached

    # no broadcast hint: corpus-sized table (see q_sim_lsh_buckets)
    e = emb.select(
        "vec_id", S.as_double_array("embedding").alias("v")
    ).join(_lsh_bucket_cached(spark, sf_dir), "vec_id")
    e = D.cap_group_size(e, ["bucket"], SIM_BUCKET_CAP)
    p = e.filter(F.col("vec_id") < 10).alias("p")
    c = e.alias("c")
    cand = (
        p.join(
            c,
            (F.col("p.bucket") == F.col("c.bucket"))
            & (F.col("p.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("p.vec_id").alias("query_id"), F.col("c.vec_id").alias("neighbor_id")
        )
        .distinct()
    )
    n_cand = cand.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    hits = (
        exact.join(cand.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
        )
    )
    return (
        hits.join(n_cand, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            "n_hits",
            F.expr("CAST(n_hits * 1000000 DIV n_exact AS BIGINT)").alias("recall_x1m"),
        )
    )


SQL_SIM_LSH_RECALL = f"""
WITH e0 AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           {S.lsh_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
    FROM embeddings
),
ec AS (
    SELECT vec_id, v, bucket FROM (
        SELECT vec_id, v, bucket, COUNT(*) OVER (PARTITION BY bucket) AS gs FROM e0
    ) WHERE gs <= {SIM_BUCKET_CAP}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           ROUND({S.cosine_sql('q.v', 'e.v')}, 6) AS cos_sim
    FROM q, e WHERE q.vec_id <> e.vec_id
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 5
),
cand AS (
    SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM ec p JOIN ec c ON p.bucket = c.bucket AND p.vec_id <> c.vec_id
    WHERE p.vec_id < 10
),
n_cand AS (
    SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY query_id
),
hits AS (
    SELECT x.query_id,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
    FROM exact x
    LEFT JOIN cand c ON c.query_id = x.query_id AND c.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
)
SELECT h.query_id, h.n_exact,
       CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS n_candidates,
       h.n_hits,
       CAST(h.n_hits * 1000000 // h.n_exact AS BIGINT) AS recall_x1m
FROM hits h LEFT JOIN n_cand n USING (query_id)
"""


def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF counterpart of sim_lsh_recall: recall@5 of the
    nprobe=2 cell candidates against the exact brute-force top-5, per
    probe — together the two queries make the standard ANN
    index-tuning report (bucketed LSH vs partitioned IVF) an
    oracle-checked artifact."""
    from pipe_s_spark.queries_llm_shared import (
        _exact_topk5_cached,
        _ivf_assign_cached,
        _ivf_probes_cached,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = _exact_topk5_cached(spark, sf_dir)
    corpus = _ivf_assign_cached(spark, sf_dir)
    pr = _ivf_probes_cached(spark, sf_dir).filter(F.col("rank0") < 2).select(
        "query_id", "cell"
    )
    cand = (
        F.broadcast(pr)
        .join(corpus, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    n_cand = cand.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    hits = (
        exact.join(cand.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
        )
    )
    return (
        hits.join(n_cand, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            "n_hits",
            F.expr("CAST(n_hits * 1000000 DIV n_exact AS BIGINT)").alias("recall_x1m"),
        )
    )


SQL_SIM_IVF_RECALL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cd AS (
    SELECT e.vec_id, cells.cell,
           list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * cells.cv[i])) AS d
    FROM e CROSS JOIN {S.ivf_cells_values_sql()}
),
assign AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd) WHERE r = 1
),
probes AS (
    SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd WHERE vec_id < 10) WHERE r <= 2
),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           ROUND({S.cosine_sql('q.v', 'e.v')}, 6) AS cos_sim
    FROM q, e WHERE q.vec_id <> e.vec_id
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 5
),
cand AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
),
n_cand AS (
    SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY query_id
),
hits AS (
    SELECT x.query_id,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
    FROM exact x
    LEFT JOIN cand c ON c.query_id = x.query_id AND c.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
)
SELECT h.query_id, h.n_exact,
       CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS n_candidates,
       h.n_hits,
       CAST(h.n_hits * 1000000 // h.n_exact AS BIGINT) AS recall_x1m
FROM hits h LEFT JOIN n_cand n USING (query_id)
"""


def q_sim_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF TUNING CURVE: corpus-level recall@5 and candidate volume at
    nprobe = 1, 2, 3 in ONE query — the actual decision table for the
    recall-vs-cost knob (sim_ivf_recall fixes nprobe=2 and reports
    per-probe; this sweeps the knob). Each candidate carries the MIN
    probe rank that discovers it, then a narrow <= 3x arm explode
    aggregates every nprobe setting from the same single
    candidate-generation pass — the index is probed once, not once
    per arm."""
    from pipe_s_spark.queries_llm_shared import (
        _exact_topk5_cached,
        _ivf_assign_cached,
        _ivf_probes_cached,
    )

    exact = _exact_topk5_cached(spark, sf_dir)
    corpus = _ivf_assign_cached(spark, sf_dir)
    pr = _ivf_probes_cached(spark, sf_dir, nprobe_max=3)
    cand = (
        F.broadcast(pr)
        .join(corpus, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg((F.min("rank0") + 1).alias("r_min"))
    )
    arms = F.explode(F.sequence(F.lit(1), F.lit(3))).alias("nprobe")
    hit_rows = (
        exact.join(cand, ["query_id", "neighbor_id"], "left")
        .select("query_id", "r_min", arms)
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(
                (F.coalesce(F.col("r_min"), F.lit(99)) <= F.col("nprobe")).cast("long")
            ).alias("n_hits"),
        )
    )
    cand_rows = (
        cand.select("r_min", arms)
        .filter(F.col("r_min") <= F.col("nprobe"))
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    return (
        hit_rows.join(cand_rows, "nprobe", "left")
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_exact",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            "n_hits",
            F.expr("CAST(n_hits * 1000000 DIV n_exact AS BIGINT)").alias("recall_x1m"),
        )
    )


def _sql_sim_ivf_nprobe_curve() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cd AS (
    SELECT e.vec_id, cells.cell,
           list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * cells.cv[i])) AS d
    FROM e CROSS JOIN {S.ivf_cells_values_sql()}
),
assign AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd) WHERE r = 1
),
probes AS (
    SELECT vec_id AS query_id, cell, r FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd WHERE vec_id < 10) WHERE r <= 3
),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id, MIN(p.r) AS r_min
    FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
    GROUP BY p.query_id, a.vec_id
),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           ROUND({S.cosine_sql('q.v', 'e.v')}, 6) AS cos_sim
    FROM q, e WHERE q.vec_id <> e.vec_id
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 5
),
arms AS (SELECT unnest(generate_series(1, 3)) AS nprobe),
hit_rows AS (
    SELECT arms.nprobe,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN COALESCE(c.r_min, 99) <= arms.nprobe
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
    FROM exact x
    LEFT JOIN cand c ON c.query_id = x.query_id AND c.neighbor_id = x.neighbor_id
    CROSS JOIN arms
    GROUP BY arms.nprobe
),
cand_rows AS (
    SELECT arms.nprobe, COUNT(*) AS n_candidates
    FROM cand CROSS JOIN arms
    WHERE cand.r_min <= arms.nprobe
    GROUP BY arms.nprobe
)
SELECT CAST(h.nprobe AS INTEGER) AS nprobe, h.n_exact,
       CAST(COALESCE(c.n_candidates, 0) AS BIGINT) AS n_candidates,
       h.n_hits,
       CAST(h.n_hits * 1000000 // h.n_exact AS BIGINT) AS recall_x1m
FROM hit_rows h LEFT JOIN cand_rows c USING (nprobe)
"""


def q_sim_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 SCALAR QUANTIZATION eval: recall@5 of top-5-by-quantized-
    dot-product against the exact brute-force cosine top-5, per probe —
    the third leg of the ANN tuning report (LSH buckets / IVF cells /
    compressed codes). Per-dimension global min/max "train" the
    quantizer (an O(dim) metadata collect, like the IVF centroid
    matrix); each vector becomes 64 one-byte codes — 8x smaller than
    float64, which at corpus scale is the difference between an in-RAM
    and a spilled index. The quantized ranking is PURE int64 dot
    products: no float comparisons anywhere in the candidate order, so
    the top-5 is deterministic by construction."""
    from pipe_s_spark.queries_llm_shared import _exact_topk5_cached

    emb = load_table(spark, sf_dir, "embeddings")
    exact = _exact_topk5_cached(spark, sf_dir)
    lo, hi = S.sq8_bounds(emb)
    e = emb.select("vec_id", S.sq8_quantize(S.as_double_array("embedding"), lo, hi).alias("qv"))
    p = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("pv")
    )
    scored = (
        e.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.int_dot(F.col("qv"), F.col("pv")).alias("qdot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qdot"), "neighbor_id")
    approx = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id")
    )
    return (
        exact.join(approx.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr("CAST(n_hits * 1000000 DIV n_exact AS BIGINT)").alias("recall_x1m"),
        )
    )


SQL_SIM_SQ8_RECALL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
dims AS (
    SELECT i, MIN(v[i]) AS lo, MAX(v[i]) AS hi
    FROM e, LATERAL (SELECT unnest(range(1, 65)) AS i)
    GROUP BY i
),
dimsc AS (
    SELECT i, lo, CASE WHEN hi > lo THEN 255.0 / (hi - lo) ELSE 0.0 END AS sc
    FROM dims
),
qe AS (
    SELECT e.vec_id, d.i,
           CAST(FLOOR((e.v[d.i] - d.lo) * d.sc + 0.5) AS BIGINT) AS q
    FROM e CROSS JOIN dimsc d
),
scores AS (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(p.q * c.q) AS qdot
    FROM qe p JOIN qe c ON p.i = c.i AND p.vec_id <> c.vec_id
    WHERE p.vec_id < 10
    GROUP BY p.vec_id, c.vec_id
),
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY qdot DESC, neighbor_id) AS rk
        FROM scores
    ) WHERE rk <= 5
),
q AS (SELECT * FROM e WHERE vec_id < 10),
exact_scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           ROUND({{cos}}, 6) AS cos_sim
    FROM q, e WHERE q.vec_id <> e.vec_id
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM exact_scored
    ) WHERE rk <= 5
)
SELECT x.query_id,
       COUNT(*) AS n_exact,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS recall_x1m
FROM exact x
LEFT JOIN approx a ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
GROUP BY x.query_id
""".replace("{cos}", S.cosine_sql("q.v", "e.v"))


def q_sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 SERVING path: candidates = top-SQ8_CAND_K by int8 quantized
    dot product (pure int64 ranking — deterministic with no float
    anywhere), then EXACT cosine re-rank of only those candidates to
    top-5. This is the standard compressed-index serving shape
    (quantized scan for recall, exact re-rank for precision): the full
    corpus is touched only through 64-byte codes; the 512-byte float
    vectors are fetched for SQ8_CAND_K rows per query via an equi-join
    — at corpus scale that is the difference between streaming the
    whole corpus and reading k rows per probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = S.sq8_bounds(emb)
    e = emb.select("vec_id", S.sq8_quantize(S.as_double_array("embedding"), lo, hi).alias("qv"))
    p = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("pv")
    )
    scored = (
        e.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.int_dot(F.col("qv"), F.col("pv")).alias("qdot"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qdot"), "neighbor_id")
    cand = (
        scored.withColumn("crk", F.row_number().over(wq))
        .filter(F.col("crk") <= SQ8_CAND_K)
        .select("query_id", "neighbor_id")
    )
    ev = emb.select("vec_id", S.as_double_array("embedding").alias("v"))
    rer = (
        cand.join(ev.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")), "query_id")
        .join(ev.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(S.cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        rer.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


SQL_SIM_SQ8_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
dims AS (
    SELECT i, MIN(v[i]) AS lo, MAX(v[i]) AS hi
    FROM e, LATERAL (SELECT unnest(range(1, 65)) AS i)
    GROUP BY i
),
dimsc AS (
    SELECT i, lo, CASE WHEN hi > lo THEN 255.0 / (hi - lo) ELSE 0.0 END AS sc
    FROM dims
),
qe AS (
    SELECT e.vec_id, d.i,
           CAST(FLOOR((e.v[d.i] - d.lo) * d.sc + 0.5) AS BIGINT) AS q
    FROM e CROSS JOIN dimsc d
),
scores AS (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(p.q * c.q) AS qdot
    FROM qe p JOIN qe c ON p.i = c.i AND p.vec_id <> c.vec_id
    WHERE p.vec_id < 10
    GROUP BY p.vec_id, c.vec_id
),
cand AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY qdot DESC, neighbor_id) AS crk
        FROM scores
    ) WHERE crk <= {SQ8_CAND_K}
),
rer AS (
    SELECT cand.query_id, cand.neighbor_id,
           ROUND({{cos}}, 6) AS cos_sim
    FROM cand
    JOIN e q ON q.vec_id = cand.query_id
    JOIN e c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INTEGER) AS rk
FROM (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM rer
) WHERE rk <= 5
""".replace("{cos}", S.cosine_sql("q.v", "c.v"))


def q_sim_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-threshold tuning data: the distribution of semantic
    pair cosines in 0.05 bands (from the materialized >= 0.45 pair
    table) with per-band same-label agreement — the two columns you
    plot to pick a dedup threshold (volume vs purity per band)."""
    pairs = _semantic_pairs_cached(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    l1 = emb.select(F.col("vec_id").alias("id1"), F.col("label").alias("label1"))
    l2 = emb.select(F.col("vec_id").alias("id2"), F.col("label").alias("label2"))
    j = pairs.join(F.broadcast(l1), "id1").join(F.broadcast(l2), "id2")
    band = F.floor(F.col("cos_sim") * 20).cast("long")  # 0.05-wide bands
    return (
        j.withColumn("band", band)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr(
                "CAST(SUM(CAST(label1 = label2 AS BIGINT)) * 1000000"
                " DIV COUNT(1) AS BIGINT)"
            ).alias("same_label_x1m"),
        )
        .select(
            "band",
            F.round(F.col("band") / 20.0, 2).alias("band_lo"),
            "n_pairs",
            "same_label_x1m",
        )
    )


def _sql_sim_pair_histogram() -> str:
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
    SELECT a.vec_id AS id1, a.label AS label1, b.vec_id AS id2, b.label AS label2,
           ROUND({S.cosine_sql('a.v', 'b.v')}, 6) AS cos
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND ROUND({S.cosine_sql('a.v', 'b.v')}, 6) >= 0.45
)
SELECT CAST(FLOOR(cos * 20) AS BIGINT) AS band,
       ROUND(CAST(FLOOR(cos * 20) AS BIGINT) / 20.0, 2) AS band_lo,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN label1 = label2 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS same_label_x1m
FROM pairs
GROUP BY band
"""


def q_sim_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table HEALTH PROFILE per label: vector count,
    dimension consistency (distinct dims — anything but 1 means a
    broken encoder batch), zero-vector count (failed inference rows),
    and the norm distribution (min / exact-decimal mean / max of the
    L2 norm) — the ANALYZE pass for a vector column, run before any
    index build trusts the data. One narrow pass: per-vector norm is a
    fold over the array (no explode, no shuffle until the tiny
    per-label rollup); norms are rounded to 6 then summed through
    DECIMAL(18,6) so the mean is order-independent and bit-identical
    across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    v = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(norm2), 6).alias("nrm"),
    )
    return v.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count_distinct(F.col("dim")).alias("n_dims"),
        F.sum((F.col("nrm") == 0).cast("long")).alias("n_zero"),
        F.min("nrm").alias("min_norm"),
        F.round(
            F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_norm"),
        F.max("nrm").alias("max_norm"),
    )


SQL_SIM_EMBEDDING_PROFILE = """
WITH v AS (
    SELECT label, len(embedding) AS dim,
           ROUND(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS nrm
    FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vecs,
       COUNT(DISTINCT dim) AS n_dims,
       CAST(COUNT(*) FILTER (WHERE nrm = 0) AS BIGINT) AS n_zero,
       MIN(nrm) AS min_norm,
       ROUND(CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
           AS avg_norm,
       MAX(nrm) AS max_norm
FROM v GROUP BY label
"""


def q_sim_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding statistics: mean and variance of every
    vector coordinate (plus its min/max), exact — the feature-health
    view behind whitening decisions, dead-dimension detection (var ~ 0
    = the encoder never uses the coordinate) and the diagonal of the
    covariance a PCA/whitening step starts from. One posexplode ->
    one 64-group aggregate; sums go through DECIMAL(38,12) (float32
    coordinates are exact in 12 fractional digits), so mean and
    variance are order-independent and engine-identical; the final
    two divisions are scalar IEEE on identical operands, rounded 9."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    agg = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)")).cast("double").alias("sxx"),
        F.round(F.min("x"), 6).alias("min_x"),
        F.round(F.max("x"), 6).alias("max_x"),
    )
    return agg.select(
        "dim",
        "n",
        F.round(F.col("sx") / F.col("n"), 9).alias("mean_x"),
        F.round(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n"), 9
        ).alias("var_x"),
        "min_x",
        "max_x",
    )


SQL_SIM_DIMENSION_STATS = """
WITH ex AS (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
agg AS (
    SELECT dim, COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           ROUND(MIN(x), 6) AS min_x,
           ROUND(MAX(x), 6) AS max_x
    FROM ex GROUP BY dim
)
SELECT CAST(dim AS INTEGER) AS dim, n,
       ROUND(sx / n, 9) AS mean_x,
       ROUND((sxx - sx * sx / n) / n, 9) AS var_x,
       min_x, max_x
FROM agg
"""


def q_sim_domain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift by document source: cosine of each
    source's mean embedding against the global mean — the one-query
    probe for "which domain's vectors sit away from the corpus center"
    (domain shift / contamination triage on the semantic side,
    complementing text_domain_divergence's token-level chi-square).
    Vectors join documents on doc_id (= vec_id in this corpus); both
    centroid levels come from one posexplode + groupBy with
    DECIMAL-exact component sums, so every centroid is bit-stable
    under any partitioning; the final cosine is O(sources x dim)."""
    from pipe_s_spark.sizing import fan_out

    # r15: the join + posexplode + component aggregate pipelined into
    # the single-row-group embeddings scan (profiled 485 ms serial on
    # one task); keyed fan_out spreads it — no-op at cluster scale.
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), by=["vec_id"])
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ex = emb.join(docs, emb["vec_id"] == docs["doc_id"]).select(
        "source", F.posexplode(S.as_double_array("embedding")).alias("pos", "x")
    )
    per_src = ex.groupBy("source", "pos").agg(
        F.sum(F.col("x").cast("decimal(30,12)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    comp = per_src.select(
        "source",
        "pos",
        (F.col("s").cast("double") / F.col("n")).alias("c"),
        "n",
    )
    # global centroid: 64 rows, rolled into ONE array row inside the
    # same plan (r15 — the former mid-build collect() re-derived the
    # whole join+posexplode+groupBy subtree a second time for the
    # returned plan: profiled 268 ms + 215 ms of duplicated task time
    # plus ~0.5 s of extra jobs/driver gaps; now the per_src exchange
    # is planned once and BOTH rollups read it). Component values are
    # unchanged — decimal component sums, cast double, divide — and
    # the array is array_sort'ed on distinct pos, so the cosine folds
    # the components in exactly the order the literal form did.
    glob_arr = (
        per_src.groupBy("pos")
        .agg((F.sum("s").cast("double") / F.sum("n")).alias("g"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "g"))), lambda st: st["g"]
            ).alias("gv")
        )
    )
    src_arr = comp.groupBy("source").agg(
        F.max("n").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda st: st["c"]
        ).alias("cv"),
    )
    return src_arr.crossJoin(F.broadcast(glob_arr)).select(
        "source",
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.round(S.cosine(F.col("cv"), F.col("gv")), 6).alias("cos_to_global"),
    )


SQL_SIM_DOMAIN_DRIFT = f"""
WITH ex AS (
    SELECT d.source,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           generate_subscripts(e.embedding, 1) AS pos
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
per_src AS (
    SELECT source, pos,
           SUM(CAST(x AS DECIMAL(30,12))) AS s,
           COUNT(*) AS n
    FROM ex GROUP BY source, pos
),
comp AS (
    SELECT source, pos, CAST(s AS DOUBLE) / n AS c, n FROM per_src
),
srcarr AS (
    SELECT source, CAST(MAX(n) AS BIGINT) AS n_vecs,
           list(c ORDER BY pos) AS cv
    FROM comp GROUP BY source
),
globarr AS (
    SELECT list(g ORDER BY pos) AS gv FROM (
        SELECT pos, CAST(SUM(s) AS DOUBLE) / SUM(n) AS g
        FROM per_src GROUP BY pos
    )
)
SELECT s.source, s.n_vecs,
       ROUND({S.cosine_sql('s.cv', 'ga.gv')}, 6) AS cos_to_global
FROM srcarr s CROSS JOIN globarr ga
"""


def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training: per anchor
    vector, the top-3 most-similar vectors carrying a DIFFERENT gold
    label — the "close but wrong" examples a contrastive or reranker
    trainer needs most (easy negatives teach nothing; in-batch random
    negatives are mostly easy). Mined from the session-materialized
    cosine-threshold pair table (only pairs >= 0.45 qualify as hard),
    so the cost beyond the cached kernel is: direction-doubling
    (narrow), two broadcast label joins, and a per-anchor rank window
    — parallel across anchors, never global."""
    pairs = _semantic_pairs_cached(spark, sf_dir)
    both = pairs.select(
        F.col("id1").alias("anchor_id"), F.col("id2").alias("negative_id"), "cos_sim"
    ).unionByName(
        pairs.select(
            F.col("id2").alias("anchor_id"), F.col("id1").alias("negative_id"), "cos_sim"
        )
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    la = emb.select(F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label"))
    ln = emb.select(
        F.col("vec_id").alias("negative_id"), F.col("label").alias("negative_label")
    )
    hard = (
        both.join(F.broadcast(la), "anchor_id")
        .join(F.broadcast(ln), "negative_id")
        .filter(F.col("anchor_label") != F.col("negative_label"))
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos_sim"), "negative_id")
    return (
        hard.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select(
            "anchor_id", "negative_id", "anchor_label", "negative_label", "cos_sim", "rk"
        )
    )


def _sql_sim_hard_negatives() -> str:
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cand AS (
    SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
           a.label AS anchor_label, b.label AS negative_label,
           ROUND({S.cosine_sql('a.v', 'b.v')}, 6) AS cos_sim
    FROM e a, e b
    WHERE a.vec_id <> b.vec_id AND a.label <> b.label
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                 ORDER BY cos_sim DESC, negative_id) AS rk
    FROM cand WHERE cos_sim >= 0.45
)
SELECT anchor_id, negative_id, anchor_label, negative_label, cos_sim,
       CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= 3
"""


def q_sim_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIPLET MINING: one (anchor, positive, negative) row per anchor
    that has both — positive = its most-similar SAME-label vector,
    negative = its most-similar DIFFERENT-label vector (both from the
    cached >= 0.45 pair table, so the negative is hard by
    construction), plus the margin (pos_cos - neg_cos) in integer
    micro-units: the margin distribution is exactly what you inspect
    to set a triplet-loss margin. Anchors whose hardest negative beats
    their best positive show up with a NEGATIVE margin — the
    label-noise suspects. Same cached-kernel + broadcast-label +
    per-anchor-window shape as sim_hard_negatives; the extra cost is
    one self-join of two one-row-per-anchor tables."""
    pairs = _semantic_pairs_cached(spark, sf_dir)
    return _triplets_from_pairs(spark, sf_dir, pairs)


def _triplets_from_pairs(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """Shared triplet-mining tail over any thresholded (id1, id2,
    cos_sim) edge list: direction-doubling (narrow), two broadcast label joins,
    per-anchor rank windows for the best positive / hardest negative,
    one-row-per-anchor self-join, integer micro-unit margin."""
    both = pairs.select(
        F.col("id1").alias("anchor_id"), F.col("id2").alias("other_id"), "cos_sim"
    ).unionByName(
        pairs.select(
            F.col("id2").alias("anchor_id"), F.col("id1").alias("other_id"), "cos_sim"
        )
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    la = emb.select(F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label"))
    lo = emb.select(F.col("vec_id").alias("other_id"), F.col("label").alias("other_label"))
    lab = both.join(F.broadcast(la), "anchor_id").join(F.broadcast(lo), "other_id")
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos_sim"), "other_id")
    pos = (
        lab.filter(F.col("anchor_label") == F.col("other_label"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "anchor_id",
            "anchor_label",
            F.col("other_id").alias("positive_id"),
            F.col("cos_sim").alias("pos_cos"),
        )
    )
    neg = (
        lab.filter(F.col("anchor_label") != F.col("other_label"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("negative_id"),
            F.col("cos_sim").alias("neg_cos"),
        )
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "anchor_label",
        "positive_id",
        "negative_id",
        "pos_cos",
        "neg_cos",
        F.expr("CAST(ROUND((pos_cos - neg_cos) * 1000000) AS BIGINT)").alias(
            "margin_x1m"
        ),
    )


def q_sim_triplets_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIPLET MINING, SCALE-SAFE FORM: the same (anchor, positive,
    negative, margin) contract as sim_triplets, but the edge list
    comes from TRAINED-CELL BLOCKING (the session-materialized
    cell-pairs table: k-means cells as the blocking key, capped cells,
    one numpy-matmul verify per cell) instead of the exact all-pairs
    block-matrix kernel. Work is sum-of-cell-size^2 on an equi-join —
    the x10 scaling study measured the cell-verify source FLAT
    (alpha_x10 ~ 0) where the exact pair source grows ~1.2 — and the
    triplet tail itself is broadcast joins + per-anchor windows.

    Hardness threshold: the blocked miner uses the edge list at
    CELL_PAIRS_BASE_MIN (0.30) rather than sim_triplets' 0.45 —
    cluster blocking already restricts candidates to semantically
    close pairs, and anchors holding BOTH a same-label and a
    different-label >= 0.45 cell-local edge are vanishingly rare
    (zero at both test SFs, 3 rows corpus-wide even for the exact
    form at sf0.1). Subset/coverage vs the exact 0.30-threshold
    triplets is pinned in tests/test_ann_recall.py; the oracle
    replays training + capping + verify + the same tail."""
    pairs = _cell_pairs_cached(spark, sf_dir).select("id1", "id2", "cos_sim")
    return _triplets_from_pairs(spark, sf_dir, pairs)


#: Triplet-mining SQL tail over a CTE ``hard(anchor_id, anchor_label,
#: other_id, other_label, cos_sim)`` — shared by the exact-pair and
#: blocked-pair oracles (same windows, same margin arithmetic).
_TRIPLETS_SQL_TAIL = """
pos AS (
    SELECT anchor_id, anchor_label, other_id AS positive_id, cos_sim AS pos_cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                       ORDER BY cos_sim DESC, other_id) AS rk
          FROM hard WHERE anchor_label = other_label)
    WHERE rk = 1
),
neg AS (
    SELECT anchor_id, other_id AS negative_id, cos_sim AS neg_cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                       ORDER BY cos_sim DESC, other_id) AS rk
          FROM hard WHERE anchor_label <> other_label)
    WHERE rk = 1
)
SELECT anchor_id, anchor_label, positive_id, negative_id, pos_cos, neg_cos,
       CAST(ROUND((pos_cos - neg_cos) * 1000000) AS BIGINT) AS margin_x1m
FROM pos JOIN neg USING (anchor_id)
"""


def _sql_sim_triplets() -> str:
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cand AS (
    SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
           b.vec_id AS other_id, b.label AS other_label,
           ROUND({S.cosine_sql('a.v', 'b.v')}, 6) AS cos_sim
    FROM e a, e b WHERE a.vec_id <> b.vec_id
),
hard AS (SELECT * FROM cand WHERE cos_sim >= 0.45),
{_TRIPLETS_SQL_TAIL}"""


def _sql_sim_triplets_blocked() -> str:
    return f"""
WITH {_cell_pairs_sql_ctes()},
both_dir AS (
    SELECT id1 AS anchor_id, id2 AS other_id, cos_sim FROM cell_pairs
    UNION ALL
    SELECT id2 AS anchor_id, id1 AS other_id, cos_sim FROM cell_pairs
),
hard AS (
    SELECT b.anchor_id, ea.label AS anchor_label,
           b.other_id, eo.label AS other_label, b.cos_sim
    FROM both_dir b
    JOIN embeddings ea ON ea.vec_id = b.anchor_id
    JOIN embeddings eo ON eo.vec_id = b.other_id
),
{_TRIPLETS_SQL_TAIL}"""


def q_sim_pair_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space homogeneity audit: of all cosine-threshold
    pairs, how many connect vectors with the SAME gold label — the
    pair-level purity number that tells you whether a similarity
    threshold is tight enough to drive semantic dedup before any
    clustering runs. Consumes the session-materialized semantic pair
    table; two broadcast label lookups; one global count row."""
    pairs = _semantic_pairs_cached(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    l1 = emb.select(F.col("vec_id").alias("id1"), F.col("label").alias("label1"))
    l2 = emb.select(F.col("vec_id").alias("id2"), F.col("label").alias("label2"))
    joined = pairs.join(F.broadcast(l1), "id1").join(F.broadcast(l2), "id2")
    return joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("label1") == F.col("label2")).cast("bigint")).alias("n_same_label"),
        F.expr(
            "CAST(SUM(CAST(label1 = label2 AS BIGINT)) * 1000000 DIV COUNT(1) AS BIGINT)"
        ).alias("agreement_x1m"),
    )


def _sql_sim_pair_label_agreement() -> str:
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
    SELECT a.vec_id AS id1, a.label AS label1, b.vec_id AS id2, b.label AS label2
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND ROUND({S.cosine_sql('a.v', 'b.v')}, 6) >= 0.45
)
SELECT COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN label1 = label2 THEN 1 ELSE 0 END) AS BIGINT) AS n_same_label,
       CAST(SUM(CASE WHEN label1 = label2 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS agreement_x1m
FROM pairs
"""


def q_sim_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification audit over the embedding corpus:
    per-label mean centroids (DECIMAL-exact component sums, so the
    centroid is bit-identical under any partitioning), then every
    vector is assigned to its max-cosine centroid and counted against
    its gold label — the confusion matrix that turns "are my embedding
    clusters any good" into one query.

    Scale shape: the centroid aggregation is a posexplode + groupBy
    (label, dim) — map-side combinable, output O(labels x dim). The
    tiny centroid table is collected driver-side (bounded metadata
    collect, same pattern as IVF's literal centroid matrix) and inlined
    as literals, so the assignment pass is a NARROW map over the corpus
    — zero shuffle, no per-row join. r15: the assignment (the
    prediction table a classifier job persists) is session-
    materialized — see _label_assign_cos_cached; the confusion rollup
    itself stays in-query."""
    from pipe_s_spark.queries_llm_shared import _label_assign_cos_cached

    assigned = _label_assign_cos_cached(spark, sf_dir)
    return assigned.groupBy(
        F.col("label").alias("gold_label"), "assigned_label"
    ).agg(F.count(F.lit(1)).alias("n_vecs"))


def _sql_sim_centroid_confusion() -> str:
    dim = 64
    return f"""
WITH ex AS (
    SELECT label,
           CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
cen AS (
    SELECT label, pos,
           CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS c
    FROM ex GROUP BY label, pos
),
cenarr AS (
    SELECT label AS c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY label
),
scored AS (
    SELECT e.vec_id, e.label, c.c_label,
           ROUND(
               list_sum(list_transform(range(1, {dim + 1}),
                   i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]))
               / (sqrt(list_sum(list_transform(range(1, {dim + 1}),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, {dim + 1}),
                      i -> c.cvec[i] * c.cvec[i])))),
               6) AS cos
    FROM embeddings e CROSS JOIN cenarr c
),
assigned AS (
    SELECT vec_id, label, c_label,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) AS rk
    FROM scored
)
SELECT label AS gold_label,
       CAST(c_label AS INTEGER) AS assigned_label,
       COUNT(*) AS n_vecs
FROM assigned WHERE rk = 1
GROUP BY label, c_label
"""


def q_sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over TRAINED cells: the per-label mean centroids
    (decimal-exact, collected once per session — see
    _label_centroids_cached) play the role k-means cluster centers play
    in a production IVF index, replacing sim_ivf_topk's deterministic
    pseudo-random cells. Assignment and probe selection are NARROW
    literal-matrix expressions (zero shuffle over the corpus); probes
    broadcast onto the cell equi-join; exact cosine re-rank per query.
    Ranking ties break toward the smaller cell/neighbor id on both
    engines."""
    from pipe_s_spark.queries_llm_shared import (
        _trained_cells_cached,
        _trained_probes_cached,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = S.as_double_array("embedding")
    # r15: corpus assignment + probe cells consumed as session-
    # materialized tables (the persisted trained-IVF layout) instead of
    # re-analyzing the labels x dim literal trees per invocation.
    # no broadcast hint on the corpus-sized assignment table (r16
    # advice): the probe side below stays broadcast — it is bounded.
    corpus = emb.select("vec_id", "embedding").join(
        _trained_cells_cached(spark, sf_dir), "vec_id"
    )
    probes = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .join(
            F.broadcast(_trained_probes_cached(spark, sf_dir).select("query_id", "cell")),
            "query_id",
        )
    )
    cand = F.broadcast(probes).join(corpus, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    rescored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(S.cosine(S.as_double_array("q_emb"), v), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        rescored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rk").cast("int").alias("rk"))
    )


def _sql_sim_ivf_trained() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (
    SELECT label,
           CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
cen AS (
    SELECT label, pos,
           CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS c
    FROM ex GROUP BY label, pos
),
cenarr AS (
    SELECT label AS cell, list(c ORDER BY pos) AS cv FROM cen GROUP BY label
),
cd AS (
    SELECT e.vec_id, cells.cell,
           list_sum(list_transform(generate_series(1, 64), i -> e.v[i] * cells.cv[i])) AS d
    FROM e CROSS JOIN cenarr cells
),
assign AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd) WHERE r = 1
),
probes AS (
    SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd WHERE vec_id < 10) WHERE r <= 2
),
scored AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           ROUND({S.cosine_sql('q.v', 'c.v')}, 6) AS cos_sim
    FROM probes p
    JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
    JOIN e q ON q.vec_id = p.query_id
    JOIN e c ON c.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(rk AS INTEGER) AS rk
FROM (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM scored
) WHERE rk <= 5
"""


#: Lloyd iterations for the oracle-checked k-means IVF. Fixed (not
#: convergence-tested) so the unrolled-CTE oracle replays the exact
#: same computation; 2 rounds already moves every centroid from the
#: hash-derived seed to a data-learned position.
KMEANS_ITERS = 2


def _kmeans_cents_cached(spark: SparkSession, sf_dir: str) -> dict[int, list[int]]:
    """Fixed-iteration Lloyd's k-means centroids (int64 micro-units),
    trained once per (session, sf_dir) — functions.similarity.
    kmeans_train_int does the distributed work; this memo is the
    in-session stand-in for the persisted centroid table a production
    IVF build writes."""
    return SH.scalar(
        spark,
        ("kmeans_centroids", sf_dir),
        lambda: S.kmeans_train_int(
            load_table(spark, sf_dir, "embeddings"), iters=KMEANS_ITERS
        ),
    )


def _kmeans_index_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized IVF index table: (vec_id, embedding, cell,
    probe cells) — assignment AND top-2 probe list computed in ONE
    narrow pass over the corpus and checkpointed (functions.shared).
    This is exactly the table a production IVF build persists
    (partitioned by cell); in-session it means the heavy literal-
    matrix integer expressions run once per (session, sf_dir), and
    every consumer (top-k query, cell-stats report) is a plain join
    against the narrow index."""

    def build() -> DataFrame:
        cents = _kmeans_cents_cached(spark, sf_dir)
        emb = load_table(spark, sf_dir, "embeddings")
        xq = S.quantize_vec(S.as_double_array("embedding"))
        probes = S.kmeans_probes_int(xq, cents, nprobe=2)
        return emb.select(
            "vec_id",
            "embedding",
            F.element_at(probes, 1).alias("cell"),  # argmax = first probe
            probes.alias("probe_cells"),
        )

    return SH.materialized(
        spark, ("kmeans_index", sf_dir, KMEANS_ITERS), build
    )


def q_sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over UNSUPERVISED k-means cells: fixed-iteration
    Lloyd's training (functions.similarity.kmeans_train_int — exact
    int64 micro-unit arithmetic, deterministic hash-cell init, the
    replacement for sim_ivf_trained's label-mean stand-in which needs
    labels real corpora don't have). Assignment and probe selection
    are NARROW literal-matrix integer expressions (zero shuffle over
    the corpus, zero float-comparison hazard), materialized once per
    session as the index table (_kmeans_index_cached — the persisted-
    index analog); probes broadcast onto the cell equi-join; exact
    cosine re-rank per query. The oracle replays the full training
    loop as unrolled CTEs (the pagerank pattern)."""
    idx = _kmeans_index_cached(spark, sf_dir)
    corpus = idx.select("vec_id", "embedding", "cell")
    probes = idx.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode("probe_cells").alias("cell"),
    )
    cand = F.broadcast(probes).join(corpus, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    rescored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            S.cosine(S.as_double_array("q_emb"), S.as_double_array("embedding")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        rescored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id", "neighbor_id", "cos_sim", F.col("rk").cast("int").alias("rk")
        )
    )


def q_sim_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means index build report: per trained cell, member count,
    label diversity, and the dominant label with its share — the
    ANALYZE step that tells you whether the unsupervised cells track
    any real structure before you trust the index (a cell whose
    top-label share is ~1/n_labels clusters nothing). Consumes the
    session-materialized index table (one narrow join + two bounded
    aggregates; the per-cell window is partitioned by cell)."""
    idx = _kmeans_index_cached(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    j = idx.select("vec_id", "cell").join(emb, "vec_id")
    cl = j.groupBy("cell", "label").agg(F.count(F.lit(1)).alias("c"))
    tot = j.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count_distinct("label").alias("n_labels"),
    )
    w = Window.partitionBy("cell").orderBy(F.desc("c"), F.asc("label"))
    top = (
        cl.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("cell", F.col("label").alias("top_label"), "c")
    )
    return tot.join(top, "cell").select(
        F.col("cell").cast("int").alias("cell"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.col("n_labels").cast("long").alias("n_labels"),
        F.col("top_label").cast("int").alias("top_label"),
        F.expr("CAST(c * 1000000 DIV n_vecs AS BIGINT)").alias("top_share_x1m"),
    )


#: Verify threshold of the MATERIALIZED trained-cell edge list. Built
#: once at the LOWEST threshold any consumer needs (the blocked triplet
#: miner's 0.30); higher-threshold consumers (the 0.45 cell-pairs
#: report) FILTER the shared table — rounded-cosine >= t2 over a
#: >= t1 < t2 table is exactly the direct t2 build, so one kernel pass
#: serves every threshold.
CELL_PAIRS_BASE_MIN = 0.3


def _cell_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized trained-cell near-dup edge list
    (id1 < id2, cell, cos_sim >= CELL_PAIRS_BASE_MIN) — the
    blocking-verified pair table the cell-pairs report and the blocked
    triplet miner both consume. Pair-volume sized and bounded by the
    per-cell cap, so it is exactly the persisted candidate table a
    production cluster-then-verify dedup writes once and reads many
    times."""

    def build() -> DataFrame:
        idx = _kmeans_index_cached(spark, sf_dir).select("vec_id", "embedding", "cell")
        capped = D.cap_group_size(idx, ["cell"], SIM_BUCKET_CAP)
        return S.grouped_pairs_exact(capped, "cell", threshold=CELL_PAIRS_BASE_MIN)

    return SH.materialized(
        spark,
        ("cell_pairs", sf_dir, KMEANS_ITERS, SIM_BUCKET_CAP, CELL_PAIRS_BASE_MIN),
        build,
    )


def q_sim_cell_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped semantic near-dup pairs: candidates are vector
    pairs sharing a trained k-means cell (the FAISS-style cluster-then-
    verify pattern), verified by exact cosine >= 0.45. At corpus scale
    this replaces the O(n^2) all-pairs scan with sum-of-cell-size^2
    work on an equi-join — the cells ARE the blocking key — and the
    per-cell cap (functions.dedup.cap_group_size at SIM_BUCKET_CAP)
    bounds the worst cell exactly like the LSH bucket caps. Recall vs
    the exact all-pairs baseline is pinned in tests/test_ann_recall.py;
    the oracle replays training + capping + the verify join. The
    verify stage runs as ONE chunked numpy matmul per cell
    (functions.similarity.grouped_pairs_exact) — the self-join +
    expression-tree cosine form spent ~9s on the same 250K sf0.1
    candidates; the grouped Arrow kernel scores them in well under a
    second. Reads the shared 0.30-threshold edge list and filters to
    0.45 (identical to a direct 0.45 build — see CELL_PAIRS_BASE_MIN)."""
    return _cell_pairs_cached(spark, sf_dir).filter(F.col("cos_sim") >= 0.45)


def _cell_pairs_sql_ctes() -> str:
    """CTE chain ending in ``cell_pairs(id1, id2, cell, cos_sim)`` —
    the k-means training + assignment + cap + verify replay shared by
    the cell-pairs oracle and the blocked-triplets oracle."""
    return f"""{S.kmeans_sql_ctes(iters=KMEANS_ITERS)},
assign AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd_final) WHERE r = 1
),
counted AS (SELECT cell, COUNT(*) AS csz FROM assign GROUP BY cell),
keep AS (
    SELECT a.vec_id, a.cell FROM assign a JOIN counted USING (cell)
    WHERE csz <= {SIM_BUCKET_CAP}
),
cell_pairs AS (
    SELECT ka.vec_id AS id1, kb.vec_id AS id2,
           CAST(ka.cell AS INTEGER) AS cell,
           ROUND({S.cosine_sql('ea.v', 'eb.v')}, 6) AS cos_sim
    FROM keep ka
    JOIN keep kb ON ka.cell = kb.cell AND ka.vec_id < kb.vec_id
    JOIN e ea ON ea.vec_id = ka.vec_id
    JOIN e eb ON eb.vec_id = kb.vec_id
    WHERE ROUND({S.cosine_sql('ea.v', 'eb.v')}, 6) >= {CELL_PAIRS_BASE_MIN}
)"""


def _sql_sim_cell_pairs() -> str:
    return f"""
WITH {_cell_pairs_sql_ctes()}
SELECT id1, id2, cell, cos_sim FROM cell_pairs WHERE cos_sim >= 0.45
"""


def _sql_sim_kmeans_cells() -> str:
    return f"""
WITH {S.kmeans_sql_ctes(iters=KMEANS_ITERS)},
assign AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd_final) WHERE r = 1
),
j AS (SELECT a.cell, e2.vec_id, e2.label FROM assign a JOIN embeddings e2 USING (vec_id)),
cl AS (SELECT cell, label, COUNT(*) AS c FROM j GROUP BY cell, label),
tot AS (
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
    FROM j GROUP BY cell
),
top AS (
    SELECT cell, label AS top_label, c FROM (
        SELECT cell, label, c,
               ROW_NUMBER() OVER (PARTITION BY cell ORDER BY c DESC, label ASC) AS r
        FROM cl) WHERE r = 1
)
SELECT CAST(t.cell AS INTEGER) AS cell, t.n_vecs, t.n_labels,
       CAST(top.top_label AS INTEGER) AS top_label,
       CAST(top.c * 1000000 // t.n_vecs AS BIGINT) AS top_share_x1m
FROM tot t JOIN top USING (cell)
"""


def _sql_sim_ivf_kmeans() -> str:
    return f"""
WITH {S.kmeans_sql_ctes(iters=KMEANS_ITERS)},
assign AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd_final) WHERE r = 1
),
probes AS (
    SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r
        FROM cd_final WHERE vec_id < 10) WHERE r <= 2
),
scored AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           ROUND({S.cosine_sql('q.v', 'c.v')}, 6) AS cos_sim
    FROM probes p
    JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
    JOIN e q ON q.vec_id = p.query_id
    JOIN e c ON c.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(rk AS INTEGER) AS rk
FROM (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM scored
) WHERE rk <= 5
"""


QUERIES = {
    q_sim_ivf_kmeans: _sql_sim_ivf_kmeans(),
    q_sim_kmeans_cells: _sql_sim_kmeans_cells(),
    q_sim_cell_pairs: _sql_sim_cell_pairs(),
    q_sim_ivf_trained: _sql_sim_ivf_trained(),
    q_sim_cosine_topk: SQL_SIM_TOPK,
    q_sim_threshold_pairs: SQL_SIM_THRESHOLD,
    q_sim_lsh_buckets: SQL_SIM_LSH,
    q_sim_lsh_buckets_auto: _sql_sim_lsh_buckets_auto(),
    q_sim_ivf_topk: SQL_SIM_IVF,
    q_sim_knn_graph: SQL_SIM_KNN,
    q_sim_knn_graph_lsh: _sql_sim_knn_graph_lsh(),
    q_sim_graph_recall: _sql_sim_graph_recall(),
    q_sim_triplets_blocked: _sql_sim_triplets_blocked(),
    q_sim_centroid_confusion: _sql_sim_centroid_confusion(),
    q_sim_pair_label_agreement: _sql_sim_pair_label_agreement(),
    q_sim_hard_negatives: _sql_sim_hard_negatives(),
    q_sim_triplets: _sql_sim_triplets(),
    q_sim_domain_drift: SQL_SIM_DOMAIN_DRIFT,
    q_sim_embedding_profile: SQL_SIM_EMBEDDING_PROFILE,
    q_sim_dimension_stats: SQL_SIM_DIMENSION_STATS,
    q_sim_lsh_recall: SQL_SIM_LSH_RECALL,
    q_sim_ivf_recall: SQL_SIM_IVF_RECALL,
    q_sim_ivf_nprobe_curve: _sql_sim_ivf_nprobe_curve(),
    q_sim_sq8_recall: SQL_SIM_SQ8_RECALL,
    q_sim_sq8_topk: SQL_SIM_SQ8_TOPK,
    q_sim_pair_histogram: _sql_sim_pair_histogram(),
}
