"""Shared helpers for the LLM-pipeline query families (queries_text / queries_dedup / queries_sim / queries_sketch / queries_multimodal): tokenizer SQL fragments, fan-out caps, shingle/minhash CTE fragments, and the session-scoped cached intermediates every family consumes (functions.shared memo)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipe_s_spark.functions import dedup as D
from pipe_s_spark.functions import shared as SH
from pipe_s_spark.functions import similarity as S
from pipe_s_spark.functions import text as X
from pipe_s_spark.functions.dedup import LSH_BAND_CAP
from pipe_s_spark.sources import load_table



#: DuckDB fragment: whitespace tokens of lowered text, empties removed.
TOKS_SQL = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"


#: Docs kept per (lang, source) stratum by the composite pipeline.
PIPELINE_CAP = 10


#: Shard count for the packing window (same md5 bucketing as
#: text_split_assign). Each shard packs independently; global pack ids
#: come from a driver-side prefix-sum over the PACK_SHARDS per-shard
#: pack counts — O(shards) driver work, never O(docs).
PACK_SHARDS = 100


def _doc_shard() -> F.Column:
    """md5(doc_id) % PACK_SHARDS — the same engine-independent bucket
    expression text_split_assign uses."""
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % PACK_SHARDS
    )


SQL_SHINGLES = f"""
tok AS (
    SELECT doc_id,
           unnest({TOKS_SQL}) AS tok,
           generate_subscripts({TOKS_SQL}, 1) AS ord
    FROM documents
),
sh_raw AS (
    SELECT doc_id,
           tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
),
sh AS (
    SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle IS NOT NULL
)"""


#: Max document frequency for a shingle to stay in the jaccard index.
#: A boilerplate 3-gram shared by 1M docs would otherwise create a
#: quadratic collision group on one skewed join key; dropping
#: stop-shingles from the representation (index AND sizes, both
#: engines) bounds per-shingle join fan-out at DF_CAP^2.
JACCARD_DF_CAP = 100


def _posting_counts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized (d1, n1, d2, n2, c) candidate-pair counts —
    the narrow table jaccard AND containment dedup both read. A cluster
    job persists this once (it is pair-volume sized, bounded by the
    df-cap) and every overlap measure consumes it; in-session the
    functions.shared memo plays that role."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        sh = D.shingles(docs, "doc_id", "text", k=3)
        return D.pair_counts(sh, "doc_id", df_cap=JACCARD_DF_CAP)

    return SH.materialized(spark, ("posting_counts", sf_dir, 3, JACCARD_DF_CAP), build)


def _simhash16_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized 16-bit SimHash signatures (doc_id,
    simhash) — the fingerprint table a near-dup job persists once
    (Manku et al. store exactly this) and every banding/verification
    pass reads. dedup_simhash itself deliberately keeps computing the
    kernel end-to-end (it IS this artifact — same policy as
    sim_cosine_topk vs the cached ground truth); the pair query
    consumed the kernel TWICE through its self-join."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return D.simhash16(docs, "doc_id", "text")

    return SH.materialized(spark, ("simhash16", sf_dir), build)


#: df cap / rounded-cosine threshold for the TF-IDF sparse-vector pairs.
TFIDF_DF_CAP = 100
TFIDF_COS_MIN = 0.3


def _tfidf_inv_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        n_docs = docs.count()
        sh = D.shingles(docs, "doc_id", "text", k=3)
        return D.tfidf_inverted(sh, n_docs, df_cap=TFIDF_DF_CAP)

    return SH.materialized(spark, ("tfidf_inv", sf_dir, 3, TFIDF_DF_CAP), build)


def _exact_topk5_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized exact ground-truth top-5 for the standard
    probe set (vec_id < 10) — (query_id, neighbor_id), the table every
    ANN recall eval joins against. Every published ANN benchmark ships
    this as a precomputed artifact next to the corpus (recomputing the
    exact baseline per evaluated index defeats the point of indexing);
    in-session the functions.shared memo is that artifact. Six recall
    queries consume it (LSH / IVF / nprobe-curve / SQ8 / PQ / graph).
    sim_cosine_topk deliberately does NOT read it: the query that
    DEFINES the baseline keeps computing it end-to-end."""
    from pipe_s_spark.functions import similarity as S

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).select(
            "query_id", "neighbor_id"
        )

    return SH.materialized(spark, ("exact_topk5", sf_dir), build)


def _ivf_assign_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized IVF corpus assignment (vec_id, cell) at the
    default cell count — the inverted-file layout itself, i.e. the
    narrow table a production IVF index PERSISTS at build time (see
    streaming/ivf_index.py, which stores exactly this contract). The
    assignment expression is a giant literal-centroid tree whose
    Catalyst analysis alone costs ~0.5 s per invocation; building it
    once per session and equi-joining is both the production shape and
    the cheap one."""
    from pipe_s_spark.functions import similarity as S

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        v = S.as_double_array("embedding")
        return emb.select("vec_id", S.ivf_assign(v).alias("cell"))

    return SH.materialized(spark, ("ivf_assign", sf_dir, S.IVF_CELLS), build)


def _ivf_probes_cached(spark: SparkSession, sf_dir: str, nprobe_max: int = 3) -> DataFrame:
    """Session-materialized ranked probe cells for the standard probe
    set: (query_id, rank0, cell) with rank0 < ``nprobe_max`` — the
    query-side twin of :func:`_ivf_assign_cached`. Consumers slice
    ``rank0 < nprobe``; the ranked prefix of the same full sort is
    identical to computing probes at the smaller nprobe directly."""
    from pipe_s_spark.functions import similarity as S

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
        v = S.as_double_array("embedding")
        return emb.select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(S.ivf_probes(v, nprobe=nprobe_max)).alias("rank0", "cell"),
        )

    return SH.materialized(spark, ("ivf_probes", sf_dir, S.IVF_CELLS, nprobe_max), build)


def _lsh_bucket_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized default-geometry hyperplane-LSH buckets
    (vec_id, bucket) — the bucket table an LSH index persists at build
    time. The bucket expression is an 8-plane x 64-dim literal tree
    whose per-invocation Catalyst analysis cost (~0.6 s profiled)
    dwarfs its execution on the bench corpus; two queries
    (sim_lsh_buckets, sim_lsh_recall) consume the identical table."""
    from pipe_s_spark.functions import similarity as S

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return emb.select(
            "vec_id", S.lsh_bucket(S.as_double_array("embedding")).alias("bucket")
        )

    return SH.materialized(spark, ("lsh_bucket", sf_dir, S.LSH_PLANES), build)


def _label_assign_cos_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized nearest-centroid PREDICTIONS
    (vec_id, label, assigned_label) — argmax of rounded cosine against
    the per-label mean centroids, ties toward the smaller label. The
    assignment expression is labels x dim literals whose Catalyst
    analysis cost (~1.2 s build + ~1.3 s optimizer gap profiled)
    dwarfs its execution; the prediction table is the artifact a
    production classifier job persists."""
    from pipe_s_spark.functions import similarity as S

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        cents = _label_centroids_cached(spark, sf_dir)
        labels = sorted(cents)
        v = S.as_double_array("embedding")
        scored = F.array(
            *[
                F.struct(
                    F.round(
                        S.cosine(v, F.array(*[F.lit(w) for w in cents[lab]])), 6
                    ).alias("cos"),
                    F.lit(-lab).alias("neg_label"),
                )
                for lab in labels
            ]
        )
        return emb.select(
            "vec_id",
            "label",
            (-F.array_max(scored)["neg_label"]).cast("int").alias("assigned_label"),
        )

    return SH.materialized(spark, ("label_assign_cos", sf_dir), build)


def _trained_cells_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized TRAINED-cell corpus assignment
    (vec_id, cell) — argmax exact dot against the per-label mean
    centroids (sim_ivf_trained's inverted-file layout; same persisted-
    index justification as _ivf_assign_cached)."""
    from pipe_s_spark.functions import similarity as S

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        cents = _label_centroids_cached(spark, sf_dir)
        labels = sorted(cents)
        v = S.as_double_array("embedding")
        scored = F.array(
            *[
                F.struct(
                    S.dot(v, F.array(*[F.lit(w) for w in cents[lab]])).alias("d"),
                    F.lit(-lab).alias("nc"),
                )
                for lab in labels
            ]
        )
        return emb.select("vec_id", (-F.array_max(scored)["nc"]).cast("int").alias("cell"))

    return SH.materialized(spark, ("trained_cells", sf_dir), build)


def _trained_probes_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized trained-cell probe table (query_id, rank0,
    cell): top-2 cells by exact dot for the standard probe set, ranked
    exactly as sim_ivf_trained's top2 slice (descending dot, ties
    toward the smaller label)."""
    from pipe_s_spark.functions import similarity as S

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
        cents = _label_centroids_cached(spark, sf_dir)
        labels = sorted(cents)
        v = S.as_double_array("embedding")
        scored = F.array(
            *[
                F.struct(
                    S.dot(v, F.array(*[F.lit(w) for w in cents[lab]])).alias("d"),
                    F.lit(-lab).alias("nc"),
                )
                for lab in labels
            ]
        )
        top2 = F.slice(F.reverse(F.array_sort(scored)), 1, 2)
        return emb.select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(F.transform(top2, lambda s: (-s["nc"]).cast("int"))).alias(
                "rank0", "cell"
            ),
        )

    return SH.materialized(spark, ("trained_probes", sf_dir), build)


_MINHASH_N = 16
_MINHASH_BANDS = 4


def _minhash_sig_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized MinHash signature table (doc_id + 16 ints).

    The signature table feeds MANY consumers — banding, both sides of
    the est-jaccard verify join, cross-corpus decontamination. At
    cluster scale every MinHash pipeline writes this narrow table to
    parquet ONCE before the band join; in-session the functions.shared
    memo is that persisted table, so the corpus + shingle kernel runs
    once per (sf_dir, family) no matter how many dedup queries run."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        sh = D.shingles(docs, "doc_id", "text", k=3)
        return D.minhash_signature(sh, "doc_id", _MINHASH_N)

    return SH.materialized(spark, ("minhash_sig", sf_dir, 3, _MINHASH_N), build)


def _minhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized MinHash-LSH candidate pairs with estimated
    Jaccard — the table cluster resolution, keep-policy and fuzzy-verify
    queries all consume (pair-volume sized, bounded by LSH_BAND_CAP
    fan-out, so safe to persist)."""

    def build() -> DataFrame:
        sig = _minhash_sig_cached(spark, sf_dir)
        bands = D.cap_group_size(
            D.lsh_bands(sig, "doc_id", _MINHASH_N, _MINHASH_BANDS),
            ["band_id", "band_sig"],
            LSH_BAND_CAP,
        )
        a = bands.alias("a")
        b = bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
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

    return SH.materialized(
        spark, ("minhash_pairs", sf_dir, 3, _MINHASH_N, _MINHASH_BANDS, LSH_BAND_CAP), build
    )


def _minhash_sig_sql() -> str:
    aggs = ",\n           ".join(
        "MIN(({a} * h + {b}) % {p}) AS h{i}".format(
            a=D.minhash_params(i)[0], b=D.minhash_params(i)[1], p=D.MINHASH_PRIME, i=i
        )
        for i in range(_MINHASH_N)
    )
    return (
        "sigbase AS (\n"
        "    SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS h FROM sh\n"
        "),\n"
        f"sig AS (\n    SELECT doc_id, {aggs}\n    FROM sigbase GROUP BY doc_id\n)"
    )


def _bands_sql() -> str:
    rows = _MINHASH_N // _MINHASH_BANDS
    parts = []
    for bnd in range(_MINHASH_BANDS):
        cols = " || '|' || ".join(
            f"CAST(h{i} AS VARCHAR)" for i in range(bnd * rows, (bnd + 1) * rows)
        )
        parts.append(f"SELECT doc_id, {bnd} AS band_id, {cols} AS band_sig FROM sig")
    return "bands AS (\n" + "\nUNION ALL\n".join(parts) + "\n)"


_MINHASH_SIMS_CTES = f"""{SQL_SHINGLES},
{_minhash_sig_sql()},
{_bands_sql()},
bands_c AS (
    SELECT doc_id, band_id, band_sig FROM (
        SELECT doc_id, band_id, band_sig,
               COUNT(*) OVER (PARTITION BY band_id, band_sig) AS gs
        FROM bands
    ) WHERE gs <= {LSH_BAND_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands_c a JOIN bands_c b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sims AS (
    SELECT d1, d2,
           ROUND(({" + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(_MINHASH_N))})
                 / {float(_MINHASH_N)}, 6) AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = d1
    JOIN sig sb ON sb.doc_id = d2
)"""


#: Min estimated jaccard for a candidate pair to become a cluster edge.
CLUSTER_EDGE_MIN = 0.5


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: MinHash candidate pairs above
    CLUSTER_EDGE_MIN become edges; connected components (two-phase
    per-task union-find + contracted-graph fold, see
    functions.dedup.connected_components) assign each clustered doc
    its canonical group = min doc_id. The
    oracle replays the same graph via a recursive CTE. The labels table
    is session-materialized: every downstream keep/drop policy consumes
    the SAME clusters table instead of re-running CC (the persisted
    clusters table of a production curation job, see functions.shared)."""

    def build() -> DataFrame:
        pairs = _minhash_pairs_cached(spark, sf_dir).filter(
            F.col("est_jaccard") >= CLUSTER_EDGE_MIN
        )
        return D.connected_components(pairs).select(
            F.col("v").alias("doc_id"), "component"
        )

    return SH.materialized(spark, ("dedup_clusters", sf_dir, CLUSTER_EDGE_MIN), build)


def _semantic_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-materialized embedding-cosine threshold pairs (blocked
    exact kernel, cosine >= 0.45) — the semantic edge list both
    dedup_embedding and dedup_ensemble consume; pair-volume sized, so
    it is exactly the persisted candidate table a production semantic
    dedup writes."""

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return S.threshold_pairs_blocked(emb, threshold=0.45)

    return SH.materialized(spark, ("semantic_pairs", sf_dir, 0.45), build)


def _simhash_ctes() -> str:
    """CTE chain ending in ``sims(doc_id, simhash)`` — shared by the
    signature query and the banded-pairs query."""
    votes = ",\n           ".join(
        f"SUM(((h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(16)
    )
    bits = " + ".join(f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(16))
    return f"""toks AS (
    SELECT DISTINCT doc_id, unnest({TOKS_SQL}) AS tok FROM documents
),
hashed AS (
    SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 4) AS INTEGER) AS h FROM toks
),
voted AS (
    SELECT doc_id, {votes}
    FROM hashed GROUP BY doc_id
),
sims AS (
    SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM voted
)"""

#: SimHash banding: 2 bands x 8 bits. Pigeonhole: any pair with
#: hamming distance 0 or 1 shares at least one full band, so the band
#: equi-join is a guaranteed-recall candidate generator for ham <= 1
#: and a heuristic one up to SIMHASH_HAM_MAX. 256 values per band at
#: 16 signature bits — the same planes-vs-n caveat as LSH_PLANES: a
#: wider signature (64-bit, 4 bands) is the corpus-scale setting.
SIMHASH_BANDS = 2
SIMHASH_HAM_MAX = 3
#: Bounded-fan-out cap on band groups (dedup.cap_group_size rationale).
SIMHASH_BAND_CAP = 500


#: 5-gram shingle CTE chain (DuckDB) ending in sh5(doc_id, shingle) —
#: longer shingles than the k=3 dedup index: contamination checks use
#: long n-grams so chance collisions are negligible (standard eval-
#: decontamination practice).
SQL_SHINGLES5 = f"""
tok5 AS (
    SELECT doc_id,
           unnest({TOKS_SQL}) AS tok,
           generate_subscripts({TOKS_SQL}, 1) AS ord
    FROM documents
),
sh5_raw AS (
    SELECT doc_id,
           tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
               || ' ' || LEAD(tok, 3) OVER w || ' ' || LEAD(tok, 4) OVER w AS shingle
    FROM tok5 WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
),
sh5 AS (
    SELECT DISTINCT doc_id, shingle FROM sh5_raw WHERE shingle IS NOT NULL
)"""


#: Exact-substring dedup span length (tokens). Lee et al. 2022
#: ("Deduplicating Training Data Makes Language Models Better") use 50
#: tokens on web corpora; 8 is the test-scale pin for these short
#: synthetic docs — the plan is length-independent.
DUP_NGRAM_K = 8


#: 8-gram shingle CTE (DuckDB) ending in sh8(doc_id, shingle).
SQL_SHINGLES8 = f"""
tok8 AS (
    SELECT doc_id,
           unnest({TOKS_SQL}) AS tok,
           generate_subscripts({TOKS_SQL}, 1) AS ord
    FROM documents
),
sh8_raw AS (
    SELECT doc_id,
           tok || ' ' || {" || ' ' || ".join(f"LEAD(tok, {i}) OVER w" for i in range(1, 8))} AS shingle
    FROM tok8 WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
),
sh8 AS (
    SELECT DISTINCT doc_id, shingle FROM sh8_raw WHERE shingle IS NOT NULL
)"""


#: Docs kept per (lang, source) stratum by the deterministic sampler.
STRATUM_SAMPLE_K = 20


#: Misra-Gries k: report tokens with frequency > 1/k of all tokens.
HH_K = 50


#: Sample size for the weighted priority sample.
WEIGHTED_SAMPLE_K = 50


INVINDEX_POSTING_CAP = 8


CHUNK_LEN = 128
CHUNK_STRIDE = 64


#: Target language mixture in micro-shares (sums to 1_000_000) —
#: the DoReMi-style domain-mixing spec a training pipeline resamples to.
MIX_TARGET_X1M = {
    "en": 500_000,
    "de": 150_000,
    "es": 150_000,
    "fr": 100_000,
    "zh": 100_000,
}


_MIX_SPEC_SQL = ", ".join(f"('{k}', {v})" for k, v in MIX_TARGET_X1M.items())


SHUFFLE_SALT = "shuf1:"
SHUFFLE_DOCS_PER_FILE = 256


#: Max vectors sharing one LSH bucket before the bucket is dropped from
#: candidate generation — same bounded-fan-out guard as LSH_BAND_CAP
#: (a mass-duplicate embedding cluster hashes into ONE bucket and the
#: self-join goes quadratic on it). Sized not to bite at test SFs;
#: at corpus scale it backstops the planes-vs-n sizing rule documented
#: on functions.similarity.LSH_PLANES.
SIM_BUCKET_CAP = 1000


def _mm_byte(i: int) -> str:
    """DuckDB: i-th byte (0-based) of the sha256 hex digest of the fake
    asset content (= repeat(md5(text), 8) as utf-8)."""
    return f"CAST(('0x' || substr(h, {2 * i + 1}, 2)) AS INTEGER)"


#: KMV sketch size for the set-algebra query.
KMV_SETOPS_K = 64


#: Min bigram count / result size for the PMI collocation report.
PMI_MIN_COUNT = 5
PMI_TOP_K = 20


#: Absolute discount for the interpolated Kneser-Ney bigram model.
KN_DISCOUNT = 0.75


#: Candidate pool size for the SQ8 serving path (re-ranked exactly).
SQ8_CAND_K = 50


#: Head sizes for the vocabulary coverage curve.
VOCAB_COVERAGE_KS = (10, 100, 1000)


def _vocab_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term-frequency table ``(term, c)`` — vocabulary-sized,
    session-materialized so every vocabulary consumer (coverage curve,
    BPE merge counting) tokenizes the corpus exactly once."""

    def _build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        tok = docs.select(F.explode(X.tokens("text")).alias("term"))
        return tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))

    return SH.materialized(spark, ("vocab_tf", sf_dir), _build)


#: Ensemble-gate thresholds (integer micro-units; pinned so both
#: engines evaluate the identical literals).
ENSEMBLE_SURPRISAL_LO = 3_000_000
ENSEMBLE_SURPRISAL_HI = 8_000_000
ENSEMBLE_MIN_STOPWORD_X1M = 10_000
ENSEMBLE_MIN_TOKENS = 10


#: Fixed synchronous LPA iterations (unrolled identically in the
#: oracle SQL — a convergence loop would not be SQL-expressible).
LPA_ITERS = 3


def _label_centroids_cached(spark: SparkSession, sf_dir: str) -> dict[int, list[float]]:
    """Per-label mean centroid vectors, computed once per (session,
    sf_dir) — the "trained model" of the nearest-centroid classifier.
    DECIMAL-exact component sums make each component deterministic
    under any partitioning; the O(labels x dim) result is a bounded
    metadata collect (the same driver-side literal-matrix pattern as
    IVF's centroids)."""

    def build() -> dict[int, list[float]]:
        emb = load_table(spark, sf_dir, "embeddings")
        ex = emb.select(
            "label", F.posexplode(S.as_double_array("embedding")).alias("pos", "x")
        )
        cen_rows = (
            ex.groupBy("label", "pos")
            .agg(F.sum(F.col("x").cast("decimal(30,12)")).alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_label: dict[int, dict[int, float]] = {}
        for r in cen_rows:
            by_label.setdefault(r["label"], {})[r["pos"]] = float(r["s"]) / r["n"]
        return {
            lab: [by_label[lab][p] for p in range(len(by_label[lab]))]
            for lab in sorted(by_label)
        }

    return SH.scalar(spark, ("label_centroids", sf_dir), build)
