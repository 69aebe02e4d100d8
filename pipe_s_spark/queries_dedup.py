"""Deduplication queries: exact / normalized / Jaccard / MinHash-LSH / SimHash / embedding near-dup, cluster resolution and graph audits. All signatures are md5-derived so the DuckDB oracle reproduces them bit-for-bit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipe_s_spark.functions import dedup as D
from pipe_s_spark.functions import shared as SH
from pipe_s_spark.functions import similarity as S
from pipe_s_spark.functions import text as X
from pipe_s_spark.functions.dedup import LSH_BAND_CAP
from pipe_s_spark.sources import load_table

from pipe_s_spark.queries_llm_shared import (
    CLUSTER_EDGE_MIN,
    JACCARD_DF_CAP,
    LPA_ITERS,
    SIMHASH_BANDS,
    SIMHASH_BAND_CAP,
    SIMHASH_HAM_MAX,
    SQL_SHINGLES,
    TFIDF_COS_MIN,
    TFIDF_DF_CAP,
    _MINHASH_BANDS,
    _MINHASH_N,
    _MINHASH_SIMS_CTES,
    _bands_sql,
    _minhash_pairs_cached,
    _minhash_sig_cached,
    _minhash_sig_sql,
    _posting_counts_cached,
    _semantic_pairs_cached,
    _simhash_ctes,
    _tfidf_inv_cached,
    q_dedup_clusters,
)




# --- dedup ---------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the text digest, keep min doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS digest, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on normalized text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(D.normalize_text("text")).alias("digest")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


SQL_DEDUP_NORMALIZED = f"""
SELECT md5({D.NORMALIZE_SQL.format(expr='text')}) AS digest,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def q_dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted cosine near-dup pairs over distinct-shingle sets —
    the SPARSE-vector similarity leg between plain set overlap
    (dedup_jaccard_pairs, every shingle equal) and dense embeddings
    (dedup_embedding): shared RARE shingles dominate the score, shared
    boilerplate contributes almost nothing. Same df-capped inverted
    posting-list shape as the Jaccard query (two shuffles, narrow pair
    generation); idf is quantized to integer milli-nats once per
    shingle so dots and norms are exact BIGINT sums. The inverted
    index is session-materialized (functions.shared) like the jaccard
    posting counts — at scale it is the persisted artifact."""
    inv = _tfidf_inv_cached(spark, sf_dir)
    return D.tfidf_pairs_from_inverted(inv, threshold=TFIDF_COS_MIN)


SQL_DEDUP_TFIDF_COSINE = f"""
WITH {{sh}},
nd AS (SELECT COUNT(*) AS n FROM documents),
dfr AS (SELECT shingle, COUNT(*) AS dfc FROM sh GROUP BY shingle),
terms AS (
    SELECT shingle,
           CAST(ROUND(LN(CAST(n AS DOUBLE) / CAST(dfc AS DOUBLE)) * 1000) AS BIGINT)
               AS idf_x1k
    FROM dfr CROSS JOIN nd WHERE dfc <= {TFIDF_DF_CAP}
),
w AS (
    SELECT sh.doc_id, sh.shingle, idf_x1k, idf_x1k * idf_x1k AS idf2
    FROM sh JOIN terms USING (shingle)
),
norms AS (
    SELECT doc_id, SUM(idf2) AS nrm2 FROM w GROUP BY doc_id HAVING SUM(idf2) > 0
),
dots AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(a.idf_x1k * b.idf_x1k) AS dot
    FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       ROUND(CAST(dot AS DOUBLE)
             / (sqrt(CAST(n1.nrm2 AS DOUBLE)) * sqrt(CAST(n2.nrm2 AS DOUBLE))),
             6) AS cos_sim
FROM dots
JOIN norms n1 ON n1.doc_id = d1
JOIN norms n2 ON n2.doc_id = d2
WHERE ROUND(CAST(dot AS DOUBLE)
            / (sqrt(CAST(n1.nrm2 AS DOUBLE)) * sqrt(CAST(n2.nrm2 AS DOUBLE))),
            6) >= {TFIDF_COS_MIN}
""".replace("{sh}", SQL_SHINGLES)


def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs via a df-capped inverted posting
    list (see functions.dedup.pair_counts — no self-join, bounded
    per-shingle fan-out). Pair counts come from the shared materialized
    posting-counts table (functions.shared)."""
    return D.jaccard_from_counts(_posting_counts_cached(spark, sf_dir), threshold=0.15)


SQL_DEDUP_JACCARD = f"""
WITH {SQL_SHINGLES},
shc AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
    ) WHERE df <= {JACCARD_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2,
       ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
FROM common
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) >= 0.15
"""

def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (Broder 1997): |A∩B|/|A| catches a
    short doc embedded verbatim in a long one — the excerpt/quote case
    where Jaccard stays low. Same two-shuffle posting-list core as
    dedup_jaccard_pairs (functions.dedup.pair_counts), read from
    the same shared materialized posting-counts table."""
    return D.containment_from_counts(_posting_counts_cached(spark, sf_dir), threshold=0.5)


SQL_DEDUP_CONTAINMENT = f"""
WITH {SQL_SHINGLES},
shc AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
    ) WHERE df <= {JACCARD_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, containment_1in2, containment_2in1 FROM (
    SELECT d1, d2,
           ROUND(CAST(c AS DOUBLE) / s1.n, 6) AS containment_1in2,
           ROUND(CAST(c AS DOUBLE) / s2.n, 6) AS containment_2in1
    FROM common
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
) WHERE containment_1in2 >= 0.5 OR containment_2in1 >= 0.5
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs with estimated Jaccard (= matching
    signature fraction). Banding turns near-dup search into an
    equi-join — the path that survives 100 TB. Band groups larger than
    LSH_BAND_CAP are dropped before the join (bounded fan-out); the
    signature and pair tables are session-materialized
    (functions.shared) exactly like the persisted intermediate tables a
    production MinHash pipeline writes."""
    return _minhash_pairs_cached(spark, sf_dir)


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold TUNING table for lexical dedup: candidate-pair counts
    in estimated-Jaccard bands of 0.1 plus the cumulative pair count
    at-or-above each band floor — the one table you read before
    pinning CLUSTER_EDGE_MIN ("how many pairs does each threshold
    admit?"), the lexical sibling of sim_pair_histogram. One pass over
    the session-materialized pair table; the cumulative count comes
    from a NARROW <= 11x threshold explode per pair (a pair at
    est_jaccard e qualifies for every floor <= e), not from a global
    ordered window — the checker bans that shape and the explode
    keeps the whole computation map-side until one band-grain
    aggregate."""
    pairs = _minhash_pairs_cached(spark, sf_dir)
    eband = F.floor(F.col("est_jaccard") * 10).cast("int")
    ex = pairs.select(
        eband.alias("eb"),
        F.explode(F.sequence(F.lit(0), eband)).alias("tb"),
    )
    return (
        ex.groupBy("tb")
        .agg(
            F.sum((F.col("tb") == F.col("eb")).cast("long")).alias("n_pairs"),
            F.count(F.lit(1)).alias("n_pairs_at_or_above"),
        )
        .select(
            (F.col("tb") / 10.0).alias("band_lo"),
            "n_pairs",
            "n_pairs_at_or_above",
        )
        .filter(F.col("n_pairs") > 0)
    )


def _sql_dedup_threshold_sweep() -> str:
    return f"""
WITH {_MINHASH_SIMS_CTES},
ex AS (
    SELECT CAST(FLOOR(est_jaccard * 10) AS INTEGER) AS eb,
           unnest(generate_series(0, CAST(FLOOR(est_jaccard * 10) AS INTEGER))) AS tb
    FROM sims
)
SELECT CAST(tb AS DOUBLE) / 10.0 AS band_lo,
       CAST(SUM(CASE WHEN tb = eb THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       COUNT(*) AS n_pairs_at_or_above
FROM ex GROUP BY tb
HAVING SUM(CASE WHEN tb = eb THEN 1 ELSE 0 END) > 0
"""

SQL_DEDUP_MINHASH = f"""
WITH {_MINHASH_SIMS_CTES}
SELECT d1, d2, est_jaccard FROM sims
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup: candidate pairs for an ARRIVING BATCH
    (doc_id % 5 == 4 plays the new-arrivals role) against the existing
    corpus — only pairs touching at least one new document. The batch
    band table equi-joins the full band table (in production the
    corpus side is the PERSISTED band/signature parquet this session's
    materialized tables stand in for), so per-ingest cost scales with
    the batch, never the corpus — the shape that makes continuous
    dedup affordable at 100 TB. The oracle is the full-recompute pair
    table restricted to new-doc pairs: incremental must be
    result-identical to recompute."""
    sig = _minhash_sig_cached(spark, sf_dir)
    bands = D.cap_group_size(
        D.lsh_bands(sig, "doc_id", _MINHASH_N, _MINHASH_BANDS),
        ["band_id", "band_sig"],
        LSH_BAND_CAP,
    )
    new_bands = bands.filter(F.col("doc_id") % 5 == 4).alias("a")
    all_bands = bands.alias("b")
    cand = (
        new_bands.join(
            all_bands,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("d1"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("d2"),
        )
        .distinct()
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(_MINHASH_N)
    )
    return (
        cand.join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(sb, F.col("d2") == F.col("sb.doc_id"))
        .select(
            "d1", "d2", F.round(matches / F.lit(float(_MINHASH_N)), 6).alias("est_jaccard")
        )
    )


SQL_DEDUP_INCREMENTAL = f"""
WITH {_MINHASH_SIMS_CTES}
SELECT d1, d2, est_jaccard FROM sims
WHERE d1 % 5 = 4 OR d2 % 5 = 4
"""


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup verify stage: MinHash-LSH candidate pairs verified
    by TRUE edit distance (JVM-native levenshtein on both engines) over
    a 128-char normalized prefix — the standard two-phase shape
    (cheap sketch recall, exact verify precision). The prefix cap
    matters at scale: levenshtein is O(L1*L2) per pair, so an uncapped
    verify on book-length docs is quadratic in document size; 128 chars
    bounds every comparison at constant cost. Pairs are broadcast
    against the corpus (two narrow corpus scans, zero shuffle — the
    candidate set is bounded by LSH_BAND_CAP fan-out)."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.lower("text"), 1, 128).alias("prefix")
    )
    da = docs.alias("da")
    db = docs.alias("db")
    return (
        F.broadcast(pairs)
        .join(da, F.col("d1") == F.col("da.doc_id"))
        .join(db, F.col("d2") == F.col("db.doc_id"))
        .select(
            "d1",
            "d2",
            "est_jaccard",
            F.levenshtein(F.col("da.prefix"), F.col("db.prefix")).cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 48)
    )


SQL_DEDUP_EDIT_DISTANCE = f"""
WITH {_MINHASH_SIMS_CTES}
SELECT s.d1, s.d2, s.est_jaccard,
       CAST(levenshtein(substr(lower(da.text), 1, 128),
                        substr(lower(db.text), 1, 128)) AS INTEGER) AS edit_dist
FROM sims s
JOIN documents da ON da.doc_id = s.d1
JOIN documents db ON db.doc_id = s.d2
WHERE levenshtein(substr(lower(da.text), 1, 128),
                  substr(lower(db.text), 1, 128)) <= 48
"""


def q_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level decontamination: flag TRAIN documents that share any
    MinHash-LSH band with a BENCHMARK document (held-out split =
    doc_id % 10 == 7 here; in production the benchmark side is the
    eval-suite corpus). The asymmetric variant of the self-join dedup:
    candidate generation is a train-side x bench-side equi-join on
    (band_id, band_sig) — bench side is tiny and broadcastable at real
    scale, band groups capped (LSH_BAND_CAP) before the join exactly
    like the self-join path. Complements text_contamination (n-gram
    overlap): LSH catches near-verbatim docs wholesale, n-grams catch
    embedded spans."""
    sig = _minhash_sig_cached(spark, sf_dir)
    bands = D.cap_group_size(
        D.lsh_bands(sig, "doc_id", _MINHASH_N, _MINHASH_BANDS),
        ["band_id", "band_sig"],
        LSH_BAND_CAP,
    )
    train = bands.filter(F.col("doc_id") % 10 != 7).alias("a")
    bench = bands.filter(F.col("doc_id") % 10 == 7).alias("b")
    pairs = (
        train.join(
            bench,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig")),
        )
        .select(F.col("a.doc_id").alias("train_id"), F.col("b.doc_id").alias("bench_id"))
        .distinct()
    )
    return pairs.groupBy("train_id").agg(
        F.count(F.lit(1)).alias("n_bench_hits"),
        F.min("bench_id").alias("sample_bench_id"),
    )


SQL_DEDUP_CROSS_CORPUS = f"""
WITH {SQL_SHINGLES},
{_minhash_sig_sql()},
{_bands_sql()},
bands_c AS (
    SELECT doc_id, band_id, band_sig FROM (
        SELECT doc_id, band_id, band_sig,
               COUNT(*) OVER (PARTITION BY band_id, band_sig) AS gs
        FROM bands
    ) WHERE gs <= {LSH_BAND_CAP}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS bench_id
    FROM bands_c a JOIN bands_c b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig
    WHERE a.doc_id % 10 <> 7 AND b.doc_id % 10 = 7
)
SELECT train_id, COUNT(*) AS n_bench_hits, MIN(bench_id) AS sample_bench_id
FROM pairs GROUP BY train_id
"""


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_SIMS_CTES},
edges AS (SELECT d1, d2 FROM sims WHERE est_jaccard >= {CLUSTER_EDGE_MIN}),
und AS (SELECT d1 AS a, d2 AS b FROM edges UNION SELECT d2, d1 FROM edges),
verts AS (SELECT DISTINCT a AS v FROM und),
reach(a, b) AS (
    SELECT v, v FROM verts
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution policy: within each near-dup cluster keep the
    HIGHEST-QUALITY member (ties by doc_id) — the curation step that
    turns dedup clusters into a keep/drop decision, rather than the
    naive keep-min-id. quality_score rounds to 6 on both engines so the
    ordering key is bit-identical; output is all-integer.

    Scale shape: clusters (a small fraction of the corpus) join docs on
    doc_id, then a window PARTITIONED by component — parallel across
    clusters, and cluster sizes are bounded by the same LSH_BAND_CAP
    fan-out cap that bounds the candidate join.

    Consumes the session-materialized clusters table (q_dedup_clusters
    memoizes its labels via functions.shared) — the in-session form of
    the checkpointed clusters table a real curation job writes once and
    every policy (keep-best, keep-min-id, drop-all-dups) reads."""
    clusters = q_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.quality_score("text").alias("__q")
    )
    w = Window.partitionBy("component").orderBy(F.col("__q").desc(), "doc_id")
    return (
        clusters.join(docs, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "component",
            (F.col("rk") == 1).cast("int").alias("keep"),
        )
    )


SQL_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE {_MINHASH_SIMS_CTES},
edges AS (SELECT d1, d2 FROM sims WHERE est_jaccard >= {CLUSTER_EDGE_MIN}),
und AS (SELECT d1 AS a, d2 AS b FROM edges UNION SELECT d2, d1 FROM edges),
verts AS (SELECT DISTINCT a AS v FROM und),
reach(a, b) AS (
    SELECT v, v FROM verts
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
ranked AS (
    SELECT c.doc_id, c.component,
           ROW_NUMBER() OVER (
               PARTITION BY c.component
               ORDER BY {X.quality_score_sql('d.text')} DESC, c.doc_id
           ) AS rk
    FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT doc_id, component, CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM ranked
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with cluster resolution: exact
    threshold pairs (cosine >= 0.45 via the blocked numpy kernel — full
    recall, no driver collect), connected components over the pair
    graph, keep = the min-id member of each cluster. The semantic
    counterpart of dedup_clusters with embedding distance instead of
    MinHash-estimated Jaccard; at corpus scale the candidate stage
    swaps to the LSH-bucketed path (sim_lsh_buckets' plan) with the
    identical downstream CC + keep policy."""
    pairs = _semantic_pairs_cached(spark, sf_dir)
    comp = D.connected_components(pairs, src="id1", dst="id2")
    return comp.select(
        F.col("v").alias("vec_id"),
        "component",
        (F.col("v") == F.col("component")).cast("int").alias("keep"),
    )


SQL_DEDUP_EMBEDDING = f"""
WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
edges AS (
    SELECT a.vec_id AS id1, b.vec_id AS id2
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND ROUND({{cos}}, 6) >= 0.45
),
und AS (SELECT id1 AS a, id2 AS b FROM edges UNION SELECT id2, id1 FROM edges),
verts AS (SELECT DISTINCT a AS v FROM und),
reach(a, b) AS (
    SELECT v, v FROM verts
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS vec_id, MIN(b) AS component,
       CAST(CASE WHEN a = MIN(b) THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM reach GROUP BY a
""".format(cos=S.cosine_sql("a.v", "b.v"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (bit-majority voting)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash16(docs, "doc_id", "text")


SQL_DEDUP_SIMHASH = f"""
WITH {_simhash_ctes()}
SELECT doc_id, simhash FROM sims
"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band the 16-bit signature into 2x8-bit
    bands, equi-join on (band_id, band_val) — candidates, not a cross
    join — then verify true Hamming distance <= SIMHASH_HAM_MAX via
    bit_count(xor). The banded-LSH plan shape (Charikar'02 signatures,
    MMDS ch.3 banding) that survives 100 TB."""
    # r15: consume the session-materialized signature table — the
    # self-join's two subtree copies each re-ran the per-token md5
    # voting kernel (profiled 0.70 s + 0.36 s serial Python stages).
    from pipe_s_spark.queries_llm_shared import _simhash16_cached

    sig = _simhash16_cached(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255)).alias("band_val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select(
        "doc_id",
        "simhash",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_val").alias("band_val"),
    )
    bands = D.cap_group_size(bands, ["band_id", "band_val"], SIMHASH_BAND_CAP)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(s1 ^ s2) AS INT)"))
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .select("d1", "d2", "hamming")
    )


SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH {_simhash_ctes()},
bands AS (
    SELECT doc_id, simhash, CAST(b AS INTEGER) AS band_id,
           (simhash >> (8 * b)) & 255 AS band_val
    FROM sims, generate_series(0, {SIMHASH_BANDS - 1}) AS t(b)
),
bc AS (
    SELECT doc_id, simhash, band_id, band_val FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_val) AS gs FROM bands
    ) WHERE gs <= {SIMHASH_BAND_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           a.simhash AS s1, b.simhash AS s2
    FROM bc a JOIN bc b
      ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(s1, s2)) <= {SIMHASH_HAM_MAX}
"""


def q_dedup_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble dedup: union of LEXICAL edges (MinHash est_jaccard >=
    CLUSTER_EDGE_MIN) and SEMANTIC edges (embedding cosine >= 0.45,
    vec_id == doc_id in this corpus), one connected-components pass over
    the merged graph — the production pattern where near-dup families
    are caught by whichever signal fires (boilerplate by shingles,
    paraphrase by embeddings). Both edge generators keep their own
    fan-out caps; CC cost is driven by the union's component sizes.

    The cluster table is session-materialized (functions.shared) like
    `dedup_clusters` already is: a production ensemble writes its
    component table once per corpus snapshot, not once per downstream
    read. The COLD build cost itself was attacked in r11: hop-by-hop
    label propagation paid a fixed join+agg+checkpoint cost PER HOP
    regardless of graph size (the sf0.1 merged graph is 800 undirected
    edges converging in 4 hops — ~1.6 s of pure per-job overhead, the
    r8/r9 bench mystery); functions.dedup.connected_components is now
    two-phase (per-task union-find + driver fold of the
    bounded-metadata contracted graph), making the cold CC ~0.97 s and
    the whole warm-dependency build ~1.2 s in a fresh session."""

    def build() -> DataFrame:
        lex = q_dedup_minhash_lsh(spark, sf_dir).filter(
            F.col("est_jaccard") >= CLUSTER_EDGE_MIN
        ).select("d1", "d2")
        sem = _semantic_pairs_cached(spark, sf_dir).select(
            F.col("id1").alias("d1"), F.col("id2").alias("d2")
        )
        edges = lex.unionByName(sem)
        return D.connected_components(edges).select(
            F.col("v").alias("doc_id"), "component"
        )

    return SH.materialized(
        spark, ("ensemble_clusters", sf_dir, CLUSTER_EDGE_MIN, 0.45), build
    )


SQL_DEDUP_ENSEMBLE = f"""
WITH RECURSIVE {{minhash_ctes}},
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sem_edges AS (
    SELECT a.vec_id AS d1, b.vec_id AS d2
    FROM emb a, emb b
    WHERE a.vec_id < b.vec_id AND ROUND({{cos}}, 6) >= 0.45
),
edges AS (
    SELECT d1, d2 FROM sims WHERE est_jaccard >= {CLUSTER_EDGE_MIN}
    UNION SELECT d1, d2 FROM sem_edges
),
und AS (SELECT d1 AS a, d2 AS b FROM edges UNION SELECT d2, d1 FROM edges),
verts AS (SELECT DISTINCT a AS v FROM und),
reach(a, b) AS (
    SELECT v, v FROM verts
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a
""".format(minhash_ctes=_MINHASH_SIMS_CTES, cos=S.cosine_sql("a.v", "b.v"))


# --- round-6 additions: neighbor ranking, graph audit, chunk dedup,
# --- sketch set algebra, centroid classification ------------------------


def q_dedup_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest near-dup neighbors per document from the MinHash
    pair table — the per-doc view a curation UI or manual-audit
    sampler reads ("show me what this doc nearly duplicates").
    Symmetrize the (d1 < d2) pair list, then one window PARTITIONED by
    doc (parallel across docs, group size bounded by the LSH band-cap
    fan-out). Consumes the session-materialized pair table."""
    pairs = _minhash_pairs_cached(spark, sf_dir)
    sym = pairs.select(
        F.col("d1").alias("doc_id"), F.col("d2").alias("neighbor_id"), "est_jaccard"
    ).unionByName(
        pairs.select(
            F.col("d2").alias("doc_id"), F.col("d1").alias("neighbor_id"), "est_jaccard"
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("est_jaccard"), "neighbor_id")
    return (
        sym.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", F.col("rk").cast("bigint").alias("rk"), "neighbor_id", "est_jaccard")
    )


SQL_DEDUP_TOPK_NEIGHBORS = f"""
WITH {_MINHASH_SIMS_CTES},
sym AS (
    SELECT d1 AS doc_id, d2 AS neighbor_id, est_jaccard FROM sims
    UNION ALL
    SELECT d2, d1, est_jaccard FROM sims
), ranked AS (
    SELECT doc_id, neighbor_id, est_jaccard,
           ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY est_jaccard DESC, neighbor_id
           ) AS rk
    FROM sym
)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, neighbor_id, est_jaccard
FROM ranked WHERE rk <= 3
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph audit: vertex/edge/degree/triangle counts over
    the cluster-edge graph (est_jaccard >= CLUSTER_EDGE_MIN). Triangle
    density distinguishes true duplicate cliques from chains of
    borderline matches — a cheap structural health check before
    trusting connected components. The edge list is pair-volume sized
    (band-cap bounded), the oriented d1<d2 form makes each triangle
    count exactly once via two equi-joins; degrees come from one
    groupBy of the symmetrized list."""
    e = (
        _minhash_pairs_cached(spark, sf_dir)
        .filter(F.col("est_jaccard") >= CLUSTER_EDGE_MIN)
        .select("d1", "d2")
    )
    deg = (
        e.select(F.col("d1").alias("v"))
        .unionByName(e.select(F.col("d2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.d2") == F.col("e2.d1"))
        .join(
            e.alias("e3"),
            (F.col("e1.d1") == F.col("e3.d1")) & (F.col("e2.d2") == F.col("e3.d2")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        (F.sum("deg") / 2).cast("bigint").alias("n_edges"),
        F.max("deg").alias("max_degree"),
    )
    return summary.crossJoin(tri)


SQL_GRAPH_TRIANGLES = f"""
WITH {_MINHASH_SIMS_CTES},
e AS (SELECT d1, d2 FROM sims WHERE est_jaccard >= {CLUSTER_EDGE_MIN}),
deg AS (
    SELECT v, COUNT(*) AS deg FROM (
        SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e
    ) GROUP BY v
),
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.d2 = e2.d1
    JOIN e e3 ON e1.d1 = e3.d1 AND e2.d2 = e3.d2
)
SELECT (SELECT COUNT(*) FROM deg)                     AS n_vertices,
       (SELECT CAST(SUM(deg) / 2 AS BIGINT) FROM deg) AS n_edges,
       (SELECT MAX(deg) FROM deg)                     AS max_degree,
       tri.n_triangles
FROM tri
"""


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup graph — the one-look
    audit that catches boilerplate explosions (a 10k-doc cluster means
    a template, not prose) before a keep-policy runs. Two tiny
    aggregations over the session-materialized clusters table."""
    clusters = q_dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).cast("bigint").alias("n_docs"),
    )


SQL_DEDUP_CLUSTER_STATS = f"""
WITH RECURSIVE {_MINHASH_SIMS_CTES},
edges AS (SELECT d1, d2 FROM sims WHERE est_jaccard >= {CLUSTER_EDGE_MIN}),
und AS (SELECT d1 AS a, d2 AS b FROM edges UNION SELECT d2, d1 FROM edges),
verts AS (SELECT DISTINCT a AS v FROM und),
reach(a, b) AS (
    SELECT v, v FROM verts
    UNION
    SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the near-dup graph
    (Raghavan et al. 2007), deterministic variant: LPA_ITERS
    synchronous rounds, each vertex adopting its neighbors' most
    frequent label with ties broken toward the smaller label — the
    soft-clustering complement to connected components (CC merges
    everything reachable; LPA splits chains bridged by a single weak
    edge). Per round: one join on the vertex + one grouped count + one
    per-vertex window — all keyed on the vertex, so the partitioning
    is reused; the graph is the band-cap-bounded candidate edge list."""
    e = (
        _minhash_pairs_cached(spark, sf_dir)
        .filter(F.col("est_jaccard") >= CLUSTER_EDGE_MIN)
        .select("d1", "d2")
    )
    und = (
        e.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
        .unionByName(e.select(F.col("d2").alias("a"), F.col("d1").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = und.select(F.col("a").alias("v")).distinct().withColumn(
        "label", F.col("v")
    )
    w = Window.partitionBy("v").orderBy(F.desc("c"), "nl")
    for _ in range(LPA_ITERS):
        labels = (
            und.join(labels, und["b"] == labels["v"])
            .select(F.col("a").alias("v"), F.col("label").alias("nl"))
            .groupBy("v", "nl")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("v", F.col("nl").alias("label"))
        )
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("community"))


def _sql_graph_communities() -> str:
    steps = []
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        steps.append(
            f"""l{i} AS (
    SELECT v, nl AS label FROM (
        SELECT u.a AS v, l.label AS nl, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY u.a
                                  ORDER BY COUNT(*) DESC, l.label) AS rk
        FROM und u JOIN {prev} l ON u.b = l.v
        GROUP BY u.a, l.label
    ) WHERE rk = 1
)"""
        )
        prev = f"l{i}"
    joined = ",\n".join(steps)
    return f"""
WITH {_MINHASH_SIMS_CTES},
e AS (SELECT d1, d2 FROM sims WHERE est_jaccard >= {CLUSTER_EDGE_MIN}),
und AS (SELECT d1 AS a, d2 AS b FROM e UNION SELECT d2, d1 FROM e),
verts AS (SELECT DISTINCT a AS v FROM und),
l0 AS (SELECT v, v AS label FROM verts),
{joined}
SELECT v AS doc_id, label AS community FROM {prev}
"""


def q_dedup_est_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: MinHash-estimated Jaccard vs TRUE n-gram
    Jaccard on every LSH candidate pair — the calibration report that
    tells you whether 16 hashes are enough before trusting the cheap
    estimate at corpus scale. Joins the two session-materialized pair
    tables (signatures' est_jaccard, posting-counts' exact jaccard);
    candidates without any surviving common shingle score a true
    jaccard of 0. Error stats are integer micro-units (BIGINT sums —
    order-independent)."""
    est = _minhash_pairs_cached(spark, sf_dir)
    true_j = D.jaccard_from_counts(_posting_counts_cached(spark, sf_dir), threshold=0.0)
    # r15: shuffle-hash, not broadcast — both pair tables are ~100 MB
    # at sf0.1 (millions of candidate pairs, growing with the corpus),
    # and the session's 64 MB auto-broadcast threshold let the planner
    # collect+build the whole true-jaccard side ON THE DRIVER (~1.7 s
    # profiled as a dead inter-job gap; guide §3.1: broadcasting a
    # fact-sized side costs driver memory and build time). Equi-join
    # of two same-sized pair tables is the canonical shuffled-hash
    # shape at any scale.
    joined = est.join(true_j.hint("shuffle_hash"), ["d1", "d2"], "left").select(
        "d1",
        "d2",
        "est_jaccard",
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("true_jaccard"),
    )
    err = F.expr("CAST(ROUND(ABS(est_jaccard - true_jaccard) * 1000000) AS BIGINT)")
    return joined.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum((F.col("est_jaccard") >= F.col("true_jaccard")).cast("bigint")).alias(
            "n_overestimates"
        ),
        F.expr(
            "CAST(SUM(CAST(ROUND(ABS(est_jaccard - true_jaccard) * 1000000) AS BIGINT))"
            " DIV COUNT(1) AS BIGINT)"
        ).alias("mean_abs_err_x1m"),
        F.max(err).alias("max_abs_err_x1m"),
    )


SQL_DEDUP_EST_CALIBRATION = f"""
WITH {_MINHASH_SIMS_CTES},
shc AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
    ) WHERE df <= {JACCARD_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
truej AS (
    SELECT d1, d2,
           ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS true_jaccard
    FROM common
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
),
joined AS (
    SELECT s.d1, s.d2, s.est_jaccard, COALESCE(t.true_jaccard, 0.0) AS true_jaccard
    FROM sims s LEFT JOIN truej t ON s.d1 = t.d1 AND s.d2 = t.d2
)
SELECT COUNT(*) AS n_candidates,
       CAST(SUM(CASE WHEN est_jaccard >= true_jaccard THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overestimates,
       CAST(SUM(CAST(ROUND(ABS(est_jaccard - true_jaccard) * 1000000) AS BIGINT))
            // COUNT(*) AS BIGINT) AS mean_abs_err_x1m,
       MAX(CAST(ROUND(ABS(est_jaccard - true_jaccard) * 1000000) AS BIGINT))
           AS max_abs_err_x1m
FROM joined
"""


QUERIES = {
    q_dedup_est_calibration: SQL_DEDUP_EST_CALIBRATION,
    q_dedup_exact: SQL_DEDUP_EXACT,
    q_dedup_normalized: SQL_DEDUP_NORMALIZED,
    q_dedup_jaccard_pairs: SQL_DEDUP_JACCARD,
    q_dedup_tfidf_cosine: SQL_DEDUP_TFIDF_COSINE,
    q_dedup_containment: SQL_DEDUP_CONTAINMENT,
    q_dedup_minhash_lsh: SQL_DEDUP_MINHASH,
    q_dedup_threshold_sweep: _sql_dedup_threshold_sweep(),
    q_dedup_incremental: SQL_DEDUP_INCREMENTAL,
    q_dedup_cross_corpus: SQL_DEDUP_CROSS_CORPUS,
    q_dedup_clusters: SQL_DEDUP_CLUSTERS,
    q_dedup_keep_best: SQL_DEDUP_KEEP_BEST,
    q_dedup_simhash: SQL_DEDUP_SIMHASH,
    q_dedup_simhash_pairs: SQL_DEDUP_SIMHASH_PAIRS,
    q_dedup_embedding: SQL_DEDUP_EMBEDDING,
    q_dedup_edit_distance: SQL_DEDUP_EDIT_DISTANCE,
    q_dedup_ensemble: SQL_DEDUP_ENSEMBLE,
    q_dedup_topk_neighbors: SQL_DEDUP_TOPK_NEIGHBORS,
    q_graph_triangles: SQL_GRAPH_TRIANGLES,
    q_dedup_cluster_stats: SQL_DEDUP_CLUSTER_STATS,
    q_graph_communities: _sql_graph_communities(),
}
