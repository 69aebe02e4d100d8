"""Text-analysis queries over the documents corpus: language id, quality scoring, curation, sampling, tokenization/packing, n-gram statistics. All oracle-checked against DuckDB."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipe_s_spark.functions import dedup as D
from pipe_s_spark.functions import exact as E
from pipe_s_spark.functions import shared as SH
from pipe_s_spark.functions import text as X
from pipe_s_spark.sources import load_table

from pipe_s_spark.queries_sampling import SQL_TEXT_CHUNKS, q_text_chunk_dedup
from pipe_s_spark.queries_llm_shared import (
    CLUSTER_EDGE_MIN,
    DUP_NGRAM_K,
    ENSEMBLE_MIN_STOPWORD_X1M,
    ENSEMBLE_MIN_TOKENS,
    ENSEMBLE_SURPRISAL_HI,
    ENSEMBLE_SURPRISAL_LO,
    HH_K,
    INVINDEX_POSTING_CAP,
    KN_DISCOUNT,
    PIPELINE_CAP,
    PMI_MIN_COUNT,
    PMI_TOP_K,
    SQL_SHINGLES,
    SQL_SHINGLES5,
    SQL_SHINGLES8,
    TOKS_SQL,
    VOCAB_COVERAGE_KS,
    _MINHASH_SIMS_CTES,
    _minhash_pairs_cached,
    _vocab_tf,
    q_dedup_clusters,
)




# --- text analysis -------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.transform(X.with_text_stats()).select(
        "doc_id", "n_chars_calc", "n_tokens", "n_bpe_tokens", "n_stopwords", "quality", "lang_pred"
    )


SQL_TEXT_STATS = f"""
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
       CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '{X.BPE_ISH_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(lower(text), '\\b({"|".join(X.EN_STOPWORDS)})\\b')) AS BIGINT) AS n_stopwords,
       {X.quality_score_sql('text')} AS quality,
       CASE WHEN CAST(len(regexp_extract_all(lower(text), '\\b({"|".join(X.EN_STOPWORDS)})\\b')) AS DOUBLE)
                 / GREATEST(CAST(len({TOKS_SQL}) AS DOUBLE), 1.0) > 0.05
            THEN 'en' ELSE 'other' END AS lang_pred
FROM documents
"""


def q_text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion counts of the stopword-ratio
    classifier against the gold ``lang`` label — the quality-report
    half every heuristic classifier in a curation pipeline needs. One
    narrow classify pass + one tiny groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.transform(X.with_text_stats())
        .groupBy(F.col("lang").alias("gold_lang"), "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_TEXT_LANGID_EVAL = f"""
WITH pred AS (
    SELECT lang AS gold_lang,
           CASE WHEN CAST(len(regexp_extract_all(lower(text), '\\b({"|".join(X.EN_STOPWORDS)})\\b')) AS DOUBLE)
                     / GREATEST(CAST(len({TOKS_SQL}) AS DOUBLE), 1.0) > 0.05
                THEN 'en' ELSE 'other' END AS lang_pred
    FROM documents
)
SELECT gold_lang, lang_pred, COUNT(*) AS n_docs
FROM pred GROUP BY gold_lang, lang_pred
"""


def q_text_lang_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) corpus summary. avg_chars is emitted as
    BIGINT micro-units (exact.davg_int): the float formulations lost
    the driver's hash comparison three rounds running while the
    bit-exact local replica passed them, so the column is now integer
    end-to-end — immune to any float-hashing policy by construction.

    total_chars is CAST(... AS BIGINT) in the oracle: DuckDB's
    SUM(BIGINT) returns HUGEINT, which fetchdf() materializes as
    float64, while Spark returns int64 — a dtype-sensitive hash sees
    123456.0 vs 123456 and rejects. The cast pins both engines to
    int64 (same pattern as text_inverted_index's oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        E.davg_int("n_chars").alias("avg_chars_x1m"),
    )


SQL_TEXT_LANG_SUMMARY = f"""
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {E.davg_int_sql('n_chars')} AS avg_chars_x1m
FROM documents
GROUP BY lang, source
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.fingerprint("text").alias("fp"))


SQL_TEXT_FINGERPRINT = f"""
SELECT doc_id, {X.fingerprint_sql('text')} AS fp
FROM documents
"""


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality gate: per-doc keep/drop decision with the first
    failing rule as the reason — the actual filter step a training-data
    pipeline runs on top of the raw stats (narrow expressions, no
    shuffle; the decision column is what a 100 TB filter pushes into its
    scan)."""
    docs = load_table(spark, sf_dir, "documents").transform(X.with_text_stats())
    too_short = F.col("n_tokens") < 10
    low_stop = (F.col("n_stopwords").cast("double") / F.col("n_tokens")) < 0.01
    long_tok = (F.col("n_chars_calc").cast("double") / F.col("n_tokens")) > 12.0
    reason = (
        F.when(too_short, "too_short")
        .when(low_stop, "low_stopword_ratio")
        .when(long_tok, "long_tokens")
        .otherwise("keep")
    )
    return docs.select(
        "doc_id",
        reason.alias("decision"),
        (reason == "keep").alias("keep"),
    )


SQL_TEXT_QUALITY_FILTER = f"""
WITH s AS (
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
           CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text), '\\b({"|".join(X.EN_STOPWORDS)})\\b')) AS BIGINT) AS n_stopwords
    FROM documents
),
d AS (
    SELECT doc_id,
           CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN CAST(n_stopwords AS DOUBLE) / n_tokens < 0.01 THEN 'low_stopword_ratio'
                WHEN CAST(n_chars_calc AS DOUBLE) / n_tokens > 12.0 THEN 'long_tokens'
                ELSE 'keep' END AS decision
    FROM s
)
SELECT doc_id, decision, decision = 'keep' AS keep FROM d
"""


def q_text_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality CALIBRATION: absolute thresholds (the
    text_quality_filter gate) misfire when domains have different
    baseline styles, so production pipelines keep the top X% WITHIN
    each source. Score is integer fixed-point stopword-density
    (deterministic, no floats until the final rounded percent_rank);
    the window is PARTITIONED by source — per-domain parallel, never a
    global sort."""
    docs = load_table(spark, sf_dir, "documents").transform(X.with_text_stats())
    scored = docs.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "source",
        F.expr("CAST((n_stopwords * 1000000) DIV n_tokens AS BIGINT)").alias("score_x1m"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("score_x1m"), F.asc("doc_id"))
    return scored.select(
        "doc_id",
        "source",
        "score_x1m",
        F.round(F.percent_rank().over(w), 8).alias("pct_rank"),
    ).withColumn("keep", F.col("pct_rank") <= 0.5)


SQL_TEXT_QUALITY_CALIBRATED = f"""
WITH s AS (
    SELECT doc_id, source,
           CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text), '\\b({"|".join(X.EN_STOPWORDS)})\\b')) AS BIGINT) AS n_stopwords
    FROM documents
),
scored AS (
    SELECT doc_id, source,
           CAST((n_stopwords * 1000000) // n_tokens AS BIGINT) AS score_x1m
    FROM s WHERE n_tokens > 0
)
SELECT doc_id, source, score_x1m,
       ROUND(PERCENT_RANK() OVER (
           PARTITION BY source ORDER BY score_x1m DESC, doc_id ASC), 8) AS pct_rank,
       ROUND(PERCENT_RANK() OVER (
           PARTITION BY source ORDER BY score_x1m DESC, doc_id ASC), 8) <= 0.5 AS keep
FROM scored
"""


def q_text_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite curation pipeline a real corpus run chains:
    C4-style quality gate -> exact dedup (min-id survivor per digest)
    -> deterministic per-(lang, source) cap. One registered query so
    the WHOLE chain is oracle-checked end-to-end, not just its stages.

    Plan shape: the quality gate is narrow (pushed into the scan); the
    dedup window and the stratum window are the only two shuffles, each
    on a key the next stage doesn't disturb."""
    docs = load_table(spark, sf_dir, "documents").transform(X.with_text_stats())
    keep = ~(
        (F.col("n_tokens") < 10)
        | ((F.col("n_stopwords").cast("double") / F.col("n_tokens")) < 0.01)
        | ((F.col("n_chars_calc").cast("double") / F.col("n_tokens")) > 12.0)
    )
    kept = docs.filter(keep)
    w_digest = Window.partitionBy(F.md5("text"))
    deduped = kept.withColumn("keep_id", F.min("doc_id").over(w_digest)).filter(
        F.col("doc_id") == F.col("keep_id")
    )
    w_stratum = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        deduped.withColumn("rk", F.row_number().over(w_stratum).cast("long"))
        .filter(F.col("rk") <= PIPELINE_CAP)
        .select("doc_id", "lang", "source", "rk")
    )


SQL_TEXT_CURATION_PIPELINE = f"""
WITH s AS (
    SELECT doc_id, lang, source, text,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
           CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text), '\\b({{stops}})\\b')) AS BIGINT) AS n_stopwords
    FROM documents
),
kept AS (
    SELECT * FROM s
    WHERE NOT (n_tokens < 10
               OR CAST(n_stopwords AS DOUBLE) / n_tokens < 0.01
               OR CAST(n_chars_calc AS DOUBLE) / n_tokens > 12.0)
),
deduped AS (
    SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM kept
    ) WHERE doc_id = keep_id
)
SELECT doc_id, lang, source, rk FROM (
    SELECT doc_id, lang, source,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                AS BIGINT) AS rk
    FROM deduped
) WHERE rk <= {PIPELINE_CAP}
""".format(stops="|".join(X.EN_STOPWORDS))


def q_text_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation YIELD FUNNEL: how many documents survive each stage of
    the composite pipeline (raw -> C4 quality gate -> exact dedup ->
    per-stratum cap) — the one-table answer to "where did my corpus
    go?", read next to text_curation_pipeline's row-level output. Two
    aggregates produce all four numbers (stage 3/4 share one
    stratum-grain rollup: survivors per stratum = distinct digests
    among quality-passing docs, cap stage = LEAST(cap, survivors));
    the 4-row report is a unionByName of the two — no scalar
    cross-joins, no windows."""
    docs = load_table(spark, sf_dir, "documents").transform(X.with_text_stats())
    keep = ~(
        (F.col("n_tokens") < 10)
        | ((F.col("n_stopwords").cast("double") / F.col("n_tokens")) < 0.01)
        | ((F.col("n_chars_calc").cast("double") / F.col("n_tokens")) > 12.0)
    )
    a1 = docs.agg(
        F.count(F.lit(1)).alias("raw"),
        F.sum(keep.cast("long")).alias("quality_gate"),
    )
    strat = (
        docs.filter(keep)
        .groupBy("lang", "source")
        .agg(F.count_distinct(F.md5("text")).alias("nd"))
    )
    a2 = strat.agg(
        F.sum("nd").alias("exact_dedup"),
        F.sum(F.least(F.col("nd"), F.lit(PIPELINE_CAP))).alias("stratum_cap"),
    )
    s1 = a1.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("stage"), F.lit("raw").alias("name"),
                         F.col("raw").alias("n_docs")),
                F.struct(F.lit(2).alias("stage"), F.lit("quality_gate").alias("name"),
                         F.col("quality_gate").alias("n_docs")),
            )
        ).alias("s")
    ).select("s.stage", "s.name", "s.n_docs")
    s2 = a2.select(
        F.explode(
            F.array(
                F.struct(F.lit(3).alias("stage"), F.lit("exact_dedup").alias("name"),
                         F.col("exact_dedup").alias("n_docs")),
                F.struct(F.lit(4).alias("stage"), F.lit("stratum_cap").alias("name"),
                         F.col("stratum_cap").alias("n_docs")),
            )
        ).alias("s")
    ).select("s.stage", "s.name", "s.n_docs")
    return s1.unionByName(s2)


SQL_TEXT_CURATION_FUNNEL = """
WITH s AS (
    SELECT doc_id, lang, source, text,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
           CAST(len({toks}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text), '\\b({stops})\\b')) AS BIGINT)
               AS n_stopwords
    FROM documents
),
flagged AS (
    SELECT *,
           NOT (n_tokens < 10
                OR CAST(n_stopwords AS DOUBLE) / n_tokens < 0.01
                OR CAST(n_chars_calc AS DOUBLE) / n_tokens > 12.0) AS keep
    FROM s
),
strat AS (
    SELECT lang, source, COUNT(DISTINCT md5(text)) AS nd
    FROM flagged WHERE keep GROUP BY lang, source
)
SELECT 1 AS stage, 'raw' AS name, COUNT(*) AS n_docs FROM flagged
UNION ALL
SELECT 2, 'quality_gate', CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
FROM flagged
UNION ALL
SELECT 3, 'exact_dedup', CAST(SUM(nd) AS BIGINT) FROM strat
UNION ALL
SELECT 4, 'stratum_cap', CAST(SUM(LEAST(nd, {cap})) AS BIGINT) FROM strat
""".format(toks=TOKS_SQL, stops="|".join(X.EN_STOPWORDS), cap=PIPELINE_CAP)


def q_text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (64-token buckets): the distribution scan
    every data pipeline runs before choosing packing/truncation lengths."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = X.token_count("text")
    return (
        docs.select((F.floor(n_tokens / 64) * 64).cast("long").alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_TEXT_LENGTH_HIST = f"""
SELECT CAST(FLOOR(CAST(len({TOKS_SQL}) AS BIGINT) / 64) * 64 AS BIGINT) AS bucket_lo,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""


def q_text_top_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: the 20 most frequent token
    trigrams (shingle relation reused; count + deterministic top-k)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs, "doc_id", "text", k=3)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), "shingle")
        .limit(20)
    )


SQL_TEXT_TOP_TRIGRAMS = f"""
WITH {SQL_SHINGLES}
SELECT shingle, COUNT(*) AS n_docs
FROM sh GROUP BY shingle
ORDER BY n_docs DESC, shingle
LIMIT 20
"""


def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus VERSION DIFF: classify every document across two corpus
    snapshots as added / removed / changed / unchanged by comparing
    content digests through one full-outer join on the document key —
    the audit a dataset-versioning layer (lakeFS / DVC / Delta time
    travel) runs between releases, and the input to incremental
    retraining decisions ("how much actually changed?").

    Snapshot construction is deterministic from the documents table:
    v1 lacks doc_id % 7 == 3 (those are ADDED in v2), v2 lacks
    doc_id % 11 == 5 (REMOVED), and v2 rewrites the text of
    doc_id % 5 == 2 (CHANGED).

    At 100 TB: each side reduces to (key, 16-byte digest, lang) before
    the join — the shuffle moves digests, never documents; with both
    snapshots bucketed by doc_id (``bucketBy(n, "doc_id")``) the
    full-outer join runs zero-shuffle. One join + one vocabulary-sized
    rollup, nothing else."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 7 != 3).select(
        "doc_id", F.md5(F.col("text")).alias("dig1"), F.col("lang").alias("lang1")
    )
    v2 = (
        docs.filter(F.col("doc_id") % 11 != 5)
        .withColumn(
            "text2",
            F.when(
                F.col("doc_id") % 5 == 2, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text")),
        )
        .select("doc_id", F.md5(F.col("text2")).alias("dig2"), F.col("lang").alias("lang2"))
    )
    j = v1.join(v2, "doc_id", "full_outer")
    status = (
        F.when(F.col("dig1").isNull(), F.lit("added"))
        .when(F.col("dig2").isNull(), F.lit("removed"))
        .when(F.col("dig1") != F.col("dig2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"), F.coalesce("lang2", "lang1").alias("lang"))
        .groupBy("status", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_CORPUS_SNAPSHOT_DIFF = """
WITH v1 AS (
    SELECT doc_id, md5(text) AS dig1, lang AS lang1
    FROM documents WHERE doc_id % 7 <> 3
),
v2 AS (
    SELECT doc_id,
           md5(CASE WHEN doc_id % 5 = 2 THEN text || ' [rev2]' ELSE text END) AS dig2,
           lang AS lang2
    FROM documents WHERE doc_id % 11 <> 5
),
j AS (
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
           dig1, dig2, COALESCE(lang2, lang1) AS lang
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT CASE WHEN dig1 IS NULL THEN 'added'
            WHEN dig2 IS NULL THEN 'removed'
            WHEN dig1 <> dig2 THEN 'changed'
            ELSE 'unchanged' END AS status,
       lang, COUNT(*) AS n_docs
FROM j GROUP BY 1, 2
"""


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for every training document, how
    many of its distinct 5-gram shingles also appear in the held-out
    eval set (docs with doc_id % 10 == 7 stand in for a benchmark).

    Scale shape (r16, per ADVICE): the r15 count-window form collapsed
    three kernel passes into one but paid for it by shuffling the
    ENTIRE train+eval shingle relation by shingle (a corpus-sized
    exchange the pre-r15 plan never had). Restore the broadcast shape
    while keeping the kernel-work win: the eval docs and the training
    docs are DISJOINT, so running the tokenizer kernel once over each
    side still tokenizes every document exactly once (same total
    kernel rows as the single pass). The eval side is a benchmark
    stand-in — bounded in production — so its distinct shingles
    broadcast, and the training shingles are never shuffled: the only
    train-side exchange is the map-side-combined per-doc aggregate.
    Row-identical: a train shingle matches at most one distinct eval
    shingle, so count(_hit) over the left join IS membership in the
    eval distinct set. The score is integer micro-units
    (exact.davg_int policy: no floats to hash)."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval_doc = F.col("doc_id") % 10 == 7
    ev = (
        D.shingles(docs.filter(is_eval_doc), "doc_id", "text", k=5)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tr = D.shingles(docs.filter(~is_eval_doc), "doc_id", "text", k=5)
    return (
        tr.join(F.broadcast(ev), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_shingles"),
            F.count("_hit").alias("n_shared"),
        )
        .withColumn(
            "contamination_x1m",
            F.expr("CAST((n_shared * 1000000) DIV n_shingles AS BIGINT)"),
        )
    )


SQL_TEXT_CONTAMINATION = f"""
WITH {SQL_SHINGLES5},
ev AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id % 10 = 7),
tr AS (SELECT doc_id, shingle FROM sh5 WHERE doc_id % 10 <> 7),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
shared AS (
    SELECT t.doc_id, COUNT(*) AS n_shared
    FROM tr t JOIN ev USING (shingle) GROUP BY t.doc_id
)
SELECT s.doc_id,
       CAST(s.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
       CAST((COALESCE(sh.n_shared, 0) * 1000000) // s.n_shingles AS BIGINT) AS contamination_x1m
FROM sizes s LEFT JOIN shared sh USING (doc_id)
"""


def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty scoring for data curation: per document, the fraction of
    its distinct 3-gram shingles that occur in NO other document
    (corpus df = 1) — high-novelty docs are up-weighted, boilerplate
    down-weighted. Integer micro-units, no floats.

    r15: corpus df via a count window over the shingle partition, not
    groupBy(shingle) + self-join — the join form ran the shingle
    kernel TWICE (once per consumer; two serial Python stages
    profiled at 1.3 s + 0.6 s) and shuffled the shingle relation
    twice. The window partitions by the same key the groupBy used, so
    this is one kernel pass and one exchange; df == COUNT(*) over the
    partition is row-for-row what the join delivered (same shape as
    text_dup_ngrams)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs, "doc_id", "text", k=3)
    dfc = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    return (
        sh.withColumn("df", dfc)
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_total"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .withColumn(
            "novelty_x1m", F.expr("CAST((n_unique * 1000000) DIV n_total AS BIGINT)")
        )
    )


SQL_TEXT_NGRAM_NOVELTY = f"""
WITH {SQL_SHINGLES},
dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
per AS (
    SELECT s.doc_id, COUNT(*) AS n_total,
           SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS n_unique
    FROM sh s JOIN dfc d USING (shingle) GROUP BY s.doc_id
)
SELECT doc_id, CAST(n_total AS BIGINT) AS n_total,
       CAST(n_unique AS BIGINT) AS n_unique,
       CAST((n_unique * 1000000) // n_total AS BIGINT) AS novelty_x1m
FROM per
"""


def q_text_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022 style): per
    document, the fraction of its distinct 8-token spans that occur
    verbatim in at least one OTHER place in the corpus — the signal
    used to cut duplicated passages out of training data.

    Scale shape: shingling is a zero-shuffle Arrow kernel; span
    multiplicity is a count-window over the span hash (shuffle #1,
    map-side combinable); the per-doc rollup is shuffle #2. Linear in
    corpus size — no pair blowup, unlike similarity dedup: a span
    shared by a million docs costs a million counter rows, never a
    million-squared join."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs, "doc_id", "text", k=DUP_NGRAM_K)
    nd = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    return (
        sh.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_dup"),
        )
        .withColumn(
            "dup_frac_x1m", F.expr("CAST((n_dup * 1000000) DIV n_grams AS BIGINT)")
        )
    )


SQL_TEXT_DUP_NGRAMS = f"""
WITH {SQL_SHINGLES8},
m AS (
    SELECT doc_id, COUNT(*) OVER (PARTITION BY shingle) AS nd FROM sh8
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS dup_frac_x1m
FROM m GROUP BY doc_id
"""


def q_text_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus HEAVY-HITTER tokens (frequency > 1/{k} of all token
    occurrences) with EXACT counts but WITHOUT a full-vocabulary
    groupBy — the Misra-Gries two-phase shape
    (functions.sketches.heavy_hitters): bounded k-counter summaries
    per task (Arrow kernel), counter-sum merge (mergeable-summaries
    guarantee: every true heavy hitter survives), then exact counts
    for the candidate set only via a broadcast semi-join. The
    stopword-discovery / skew-probe op: at 100 TB the full token
    exchange (the naive formulation) is the single biggest shuffle a
    text pipeline can emit, and this shape never pays it. Oracle =
    the naive exact groupBy filtered to the same threshold: the
    bounded-state rewrite must be result-identical."""
    from pipe_s_spark.functions.sketches import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.tokens("text")).alias("tok"))
    return heavy_hitters(toks, "tok", k=HH_K, out_count="n")


SQL_TEXT_HEAVY_TOKENS = f"""
WITH toks AS (SELECT unnest({TOKS_SQL}) AS tok FROM documents),
tot AS (SELECT COUNT(*) AS n_total FROM toks)
SELECT tok, COUNT(*) AS n
FROM toks GROUP BY tok
HAVING COUNT(*) * {HH_K} > (SELECT n_total FROM tot)
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter (Gopher-style, Rae et al. 2021 table A1): per
    doc, the share of tokens taken by the single most frequent token
    and the share of duplicate 2-gram occurrences — both in integer
    micro-units. Repetition is a per-doc property, so the counters come
    from a ZERO-SHUFFLE Arrow kernel (text.repetition_stats) — a
    groupBy(doc, token) formulation would pay a corpus-sized exchange
    at 100 TB for what each row can compute about itself."""
    docs = load_table(spark, sf_dir, "documents")
    return X.repetition_stats(docs, "doc_id", "text").select(
        "doc_id",
        "n_tokens",
        F.expr("CAST((top_tok_cnt * 1000000) DIV n_tokens AS BIGINT)").alias(
            "top_token_x1m"
        ),
        F.expr(
            "CAST(((n_2grams - n_2grams_distinct) * 1000000) DIV n_2grams AS BIGINT)"
        ).alias("dup_2gram_x1m"),
    )


SQL_TEXT_REPETITION = f"""
WITH toks AS (
    SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents
),
per_tok AS (
    SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
),
tok_stats AS (
    SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_tok_cnt
    FROM per_tok GROUP BY doc_id
),
tok2 AS (
    SELECT doc_id,
           unnest({TOKS_SQL}) AS tok,
           generate_subscripts({TOKS_SQL}, 1) AS ord
    FROM documents
),
gr2 AS (
    SELECT doc_id, tok || ' ' || LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS shingle
    FROM tok2
),
g2_stats AS (
    SELECT doc_id, COUNT(shingle) AS n_2grams, COUNT(DISTINCT shingle) AS n_2grams_distinct
    FROM gr2 WHERE shingle IS NOT NULL GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST((t.top_tok_cnt * 1000000) // t.n_tokens AS BIGINT) AS top_token_x1m,
       CAST(((g.n_2grams - g.n_2grams_distinct) * 1000000) // g.n_2grams AS BIGINT) AS dup_2gram_x1m
FROM tok_stats t JOIN g2_stats g USING (doc_id)
"""


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction pass: per-pattern match counts and the
    md5 of the scrubbed text — all narrow expressions, so at 100 TB the
    scrub runs inside the scan projection with zero shuffle. The
    synthetic corpus carries no PII, which this query PROVES corpus-wide
    (zero counts, scrub hash = identity hash); the kernels match on
    crafted PII rows in tests/test_scale_guards.py."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.pii_count("text", "email").alias("n_emails"),
        X.pii_count("text", "phone").alias("n_phones"),
        X.pii_count("text", "ipv4").alias("n_ips"),
        F.md5(X.pii_scrub("text")).alias("scrubbed_md5"),
    )


SQL_TEXT_PII_SCRUB = f"""
SELECT doc_id,
       {X.pii_count_sql('text', 'email')} AS n_emails,
       {X.pii_count_sql('text', 'phone')} AS n_phones,
       {X.pii_count_sql('text', 'ipv4')} AS n_ips,
       md5({X.pii_scrub_sql('text')}) AS scrubbed_md5
FROM documents
"""


def q_text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 salient terms, TF-IDF-shaped but integer-exact:
    rank by (tf DESC, df ASC, term ASC) — higher in-doc frequency wins,
    rarer corpus-wide wins ties, lexicographic breaks the rest. Using
    the raw (tf, df) pair instead of tf*log(N/df) keeps every value
    BIGINT, so the ranking is bit-identical on any engine (the log
    weight is monotone in -df for fixed tf, so top-k by (tf, -df)
    equals top-k by tf*idf whenever tf ties break by df).

    Scale: tf = groupBy(doc, term) with map-side partial agg; df is a
    vocab-sized groupBy(term); the tf⋈df join shuffles on term (vocab
    can exceed broadcast size at corpus scale, so a shuffle join is the
    right default and AQE may downgrade it to broadcast when small);
    top-k is a window partitioned by doc_id — never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df_tab, "term")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "rnk")
    )


SQL_TEXT_TFIDF = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
r AS (
    SELECT tf.doc_id, tf.term, tf.tf, dft.df,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dft.df ASC, tf.term ASC
           ) AS BIGINT) AS rnk
    FROM tf JOIN dft USING (term)
)
SELECT doc_id, term, tf, df, rnk FROM r WHERE rnk <= 3
"""


def q_text_domain_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: chi-square divergence of
    each source's token distribution vs the corpus-wide one — the
    corpus-QA metric that flags a domain whose language shifted
    (scraper drift, template takeover) without reading any documents
    twice.

    Determinism: every per-term value (p, q, the chi-square term) is a
    chain of single IEEE ops — each correctly rounded, so bit-identical
    on any engine — then rounded to 12 decimals and summed as
    DECIMAL(38,12), which is EXACT and order-independent; only the
    final scalar arithmetic happens in doubles, in the same literal
    order on both sides. Absent terms (in corpus, not in source)
    contribute q each; their total is 1 - sum(q over present terms), so
    they are never materialized — no source x vocab blow-up.

    Scale: two token-count groupBys with map-side combine, one
    vocab-sized join on term, a broadcast 1-row corpus total, one final
    per-source fold. Nothing is ever data-sized except the token
    explode that every distribution metric pays."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(X.tokens("text")).alias("term"))
    sc = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("tot"))
    cc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("ccnt"))
    ct = cc.agg(F.sum("ccnt").alias("ctot"))
    terms = (
        sc.join(st, "source")
        .join(cc, "term")
        .crossJoin(F.broadcast(ct))
        .select(
            "source",
            (F.col("c").cast("double") / F.col("tot").cast("double")).alias("p"),
            (F.col("ccnt").cast("double") / F.col("ctot").cast("double")).alias("q"),
        )
    )
    chi_term = F.round(
        (F.col("p") - F.col("q")) * (F.col("p") - F.col("q")) / (F.col("p") + F.col("q")),
        12,
    ).cast("decimal(38,12)")
    q_term = F.round(F.col("q"), 12).cast("decimal(38,12)")
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(
            F.sum(chi_term).cast("double")
            + (F.lit(1.0) - F.sum(q_term).cast("double")),
            6,
        ).alias("chi2"),
    )


SQL_TEXT_DOMAIN_DIVERGENCE = f"""
WITH toks AS (SELECT source, unnest({TOKS_SQL}) AS term FROM documents),
sc AS (SELECT source, term, COUNT(*) AS c FROM toks GROUP BY source, term),
st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM sc GROUP BY source),
cc AS (SELECT term, COUNT(*) AS ccnt FROM toks GROUP BY term),
ct AS (SELECT CAST(SUM(ccnt) AS BIGINT) AS ctot FROM cc),
terms AS (
    SELECT s.source,
           CAST(s.c AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p,
           CAST(c2.ccnt AS DOUBLE) / CAST(ct.ctot AS DOUBLE) AS q
    FROM sc s JOIN st t USING (source) JOIN cc c2 USING (term) CROSS JOIN ct
)
SELECT source, COUNT(*) AS n_terms,
       ROUND(CAST(SUM(CAST(ROUND((p - q) * (p - q) / (p + q), 12) AS DECIMAL(38,12))) AS DOUBLE)
             + (1.0 - CAST(SUM(CAST(ROUND(q, 12) AS DECIMAL(38,12))) AS DOUBLE)), 6) AS chi2
FROM terms GROUP BY source
"""


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term -> document frequency, total term
    frequency, and the first ``INVINDEX_POSTING_CAP`` doc_ids as a CSV
    posting sample. The cap is enforced BEFORE collection via a
    row_number window partitioned by term, so a stop-word's posting
    list never materializes on one task — the unbounded
    ``collect_list`` formulation is exactly the hot-key OOM the LSH
    caps exist to prevent. Window and groupBy share the term
    partitioning, so the whole build is ONE shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    return (
        tf.withColumn("rn", F.row_number().over(w))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tf").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") <= INVINDEX_POSTING_CAP, F.col("doc_id")
                            )
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )


SQL_TEXT_INVINDEX = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
r AS (
    SELECT doc_id, term, tf,
           ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM tf
)
SELECT term,
       COUNT(*) AS n_docs,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       string_agg(
           CASE WHEN rn <= {INVINDEX_POSTING_CAP} THEN CAST(doc_id AS VARCHAR) END,
           ',' ORDER BY doc_id
       ) AS postings
FROM r GROUP BY term
"""


def q_text_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: corpus share, exact-duplicate
    pressure, and language spread by domain — the first report a
    curation run produces when deciding per-source sampling weights.
    One groupBy on the (already low-cardinality) source key; the
    duplicate count is a distinct-agg on the md5 digest, all-integer
    output (the davg_int float policy)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_exact_dups"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        E.davg_int("n_chars").alias("avg_chars_x1m"),
    )


SQL_TEXT_DOMAIN_STATS = f"""
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {E.davg_int_sql('n_chars')} AS avg_chars_x1m
FROM documents
GROUP BY source
"""


def q_text_quality_dup_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SIGNAL diagnostic: quality statistics of near-duplicated
    vs clean documents — the two-row table that answers "are my
    near-dups also my junk?" (if yes, dedup doubles as a quality
    filter; if no, the two gates prune independently and both are
    worth running). Dup membership comes from the session-materialized
    MinHash pair table (est_jaccard >= CLUSTER_EDGE_MIN, either side);
    quality is the standard heuristic rounded to 6 and quantized to
    integer micro-units per row, so the group means are exact BIGINT
    arithmetic (order-independent, engine-identical); the
    medians are order statistics. One narrow corpus pass + one
    vocabulary-sized (2-group) rollup."""
    pairs = _minhash_pairs_cached(spark, sf_dir).filter(
        F.col("est_jaccard") >= CLUSTER_EDGE_MIN
    )
    dup_ids = (
        pairs.select(F.col("d1").alias("doc_id"))
        .unionByName(pairs.select(F.col("d2").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.quality_score("text").alias("q")
    )
    flagged = docs.join(F.broadcast(dup_ids), "doc_id", "left").withColumn(
        "is_dup", F.coalesce("is_dup", F.lit(False))
    )
    return flagged.groupBy("is_dup").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            "CAST(SUM(CAST(ROUND(q * 1000000) AS BIGINT)) DIV COUNT(1) AS BIGINT)"
        ).alias("mean_quality_x1m"),
        F.round(F.expr("percentile(q, 0.5)"), 6).alias("p50_quality"),
    )


def _sql_text_quality_dup_link() -> str:
    return f"""
WITH {_MINHASH_SIMS_CTES},
dup_ids AS (
    SELECT DISTINCT doc_id FROM (
        SELECT d1 AS doc_id FROM sims WHERE est_jaccard >= {CLUSTER_EDGE_MIN}
        UNION ALL
        SELECT d2 FROM sims WHERE est_jaccard >= {CLUSTER_EDGE_MIN}
    )
),
scored AS (
    SELECT d.doc_id, {X.quality_score_sql('d.text')} AS q,
           d.doc_id IN (SELECT doc_id FROM dup_ids) AS is_dup
    FROM documents d
)
SELECT is_dup, COUNT(*) AS n_docs,
       CAST(SUM(CAST(ROUND(q * 1000000) AS BIGINT)) // COUNT(*) AS BIGINT)
           AS mean_quality_x1m,
       ROUND(quantile_cont(q, 0.5), 6) AS p50_quality
FROM scored GROUP BY is_dup
"""


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION mining: the top-{k} token bigrams by pointwise
    mutual information, PMI = ln(c12·N / (c1·c2)) (Church & Hanks
    1990) with a min-count floor — the multi-word-expression detector
    (tokenizer vocab candidates, stopword-pair screens) every corpus
    toolkit ships. Reuses the session-materialized bigram-TYPE table
    (kn_counts); marginals are two unordered partition windows over it
    (vocabulary-sized); N is one scalar collect; PMI is ln of an exact
    integer ratio quantized once to milli-nats, and the top-k is a
    TakeOrderedAndProject — no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    inst = D.shingles(docs, "doc_id", "text", k=2, distinct=False).select(
        "doc_id", "shingle"
    )

    def build_counts() -> DataFrame:
        return (
            inst.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("c12"))
            .withColumn("w1", F.split_part(F.col("shingle"), F.lit(" "), F.lit(1)))
            .withColumn("w2", F.split_part(F.col("shingle"), F.lit(" "), F.lit(2)))
        )

    counts = SH.materialized(spark, ("kn_counts", sf_dir, 2), build_counts)
    n_total = counts.agg(F.sum("c12")).collect()[0][0]
    marg = (
        counts.withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
        .withColumn("c2", F.sum("c12").over(Window.partitionBy("w2")))
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    pmi = F.log(
        (F.col("c12").cast("double") * F.lit(float(n_total)))
        / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    )
    return (
        marg.select(
            "shingle",
            "c12",
            F.round(pmi * 1000).cast("long").alias("pmi_x1k"),
        )
        .orderBy(F.desc("pmi_x1k"), "shingle")
        .limit(PMI_TOP_K)
    )


SQL_TEXT_COLLOCATIONS = f"""
WITH tok AS (
    SELECT doc_id, unnest({TOKS_SQL}) AS tok,
           generate_subscripts({TOKS_SQL}, 1) AS ord
    FROM documents
),
bi AS (
    SELECT tok || ' ' || LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord)
               AS shingle,
           tok AS w1,
           LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
    FROM tok
),
counts AS (
    SELECT shingle, w1, w2, COUNT(*) AS c12
    FROM bi WHERE shingle IS NOT NULL GROUP BY shingle, w1, w2
),
tot AS (SELECT SUM(c12) AS n FROM counts),
marg AS (
    SELECT shingle, c12,
           SUM(c12) OVER (PARTITION BY w1) AS c1,
           SUM(c12) OVER (PARTITION BY w2) AS c2
    FROM counts
)
SELECT shingle, c12,
       CAST(ROUND(LN(CAST(c12 AS DOUBLE) * CAST((SELECT n FROM tot) AS DOUBLE)
                     / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) * 1000) AS BIGINT)
           AS pmi_x1k
FROM marg WHERE c12 >= {PMI_MIN_COUNT}
ORDER BY pmi_x1k DESC, shingle
LIMIT {PMI_TOP_K}
"""


def q_text_kn_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score per document (Kneser &
    Ney 1995; Chen & Goodman 1999) — the fluency scorer a step up from
    unigram surprisal (text_surprisal): P(w2|w1) = max(c12-δ,0)/c1 +
    δ·N1+(w1·)/c1 · N1+(·w2)/D, self-trained on the corpus.

    Scale shape: bigram INSTANCES come from the zero-shuffle shingle
    kernel (k=2, with multiplicity); the model lives entirely on the
    bigram-TYPE table (groupBy + two unordered partition windows for
    the context/continuation counts — vocabulary-sized, not
    corpus-sized); per-type surprisal is quantized to integer
    micro-nats ONCE, so the per-doc aggregation is an exact BIGINT
    mean, order-independent under any partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    inst = D.shingles(docs, "doc_id", "text", k=2, distinct=False).select(
        "doc_id", "shingle"
    )

    def build_counts() -> DataFrame:
        return (
            inst.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("c12"))
            .withColumn("w1", F.split_part(F.col("shingle"), F.lit(" "), F.lit(1)))
            .withColumn("w2", F.split_part(F.col("shingle"), F.lit(" "), F.lit(2)))
        )

    # bigram-TYPE table: vocabulary-sized, feeds the model windows AND
    # the type-count scalar — the persisted LM-counts table of a real
    # pipeline (safe to materialize; the instance relation is not)
    counts = SH.materialized(spark, ("kn_counts", sf_dir, 2), build_counts)
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    typed = (
        counts.withColumn("c1", F.sum("c12").over(w1w))
        .withColumn("n1_w1", F.count(F.lit(1)).over(w1w))
        .withColumn("n1c_w2", F.count(F.lit(1)).over(w2w))
    )
    n_types = counts.count()
    d = F.lit(KN_DISCOUNT)
    p = (
        F.greatest(F.col("c12") - d, F.lit(0.0))
        + d * F.col("n1_w1") * (F.col("n1c_w2") / F.lit(float(n_types)))
    ) / F.col("c1")
    model = typed.select(
        "shingle",
        (-F.log(p) * 1_000_000).alias("_s_raw"),
    ).select(
        "shingle",
        F.expr("CAST(ROUND(_s_raw) AS BIGINT)").alias("s_x1m"),
    )
    return (
        inst.join(model, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("CAST(SUM(s_x1m) DIV COUNT(1) AS BIGINT)").alias(
                "mean_kn_surprisal_x1m"
            ),
        )
    )


def _sql_text_kn_bigram_score() -> str:
    return f"""
WITH tok AS (
    SELECT doc_id,
           unnest({TOKS_SQL}) AS tok,
           generate_subscripts({TOKS_SQL}, 1) AS ord
    FROM documents
),
bg AS (
    SELECT doc_id, tok || ' ' || LEAD(tok, 1) OVER w AS bigram
    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
),
inst AS (SELECT doc_id, bigram FROM bg WHERE bigram IS NOT NULL),
counts AS (
    SELECT bigram,
           split_part(bigram, ' ', 1) AS w1,
           split_part(bigram, ' ', 2) AS w2,
           COUNT(*) AS c12
    FROM inst GROUP BY bigram
),
typed AS (
    SELECT bigram, c12,
           SUM(c12) OVER (PARTITION BY w1)  AS c1,
           COUNT(*) OVER (PARTITION BY w1)  AS n1_w1,
           COUNT(*) OVER (PARTITION BY w2)  AS n1c_w2
    FROM counts
),
d_total AS (SELECT COUNT(*) AS nt FROM counts),
model AS (
    SELECT bigram,
           CAST(ROUND(-LN(
               (GREATEST(CAST(c12 AS DOUBLE) - {KN_DISCOUNT}, 0.0)
                + {KN_DISCOUNT} * n1_w1 * (CAST(n1c_w2 AS DOUBLE) / nt))
               / c1) * 1000000) AS BIGINT) AS s_x1m
    FROM typed CROSS JOIN d_total
)
SELECT i.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(m.s_x1m) // COUNT(*) AS BIGINT) AS mean_kn_surprisal_x1m
FROM inst i JOIN model m ON i.bigram = m.bigram
GROUP BY i.doc_id
"""


def q_text_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus duplication dashboard: document count, exact-dup
    share, near-dup cluster count and coverage, and the corpus-mean
    shared-chunk density — the summary a curation run prints before
    and after every pass. Stitches the session-materialized clusters
    table and the chunk-dedup stats into four scalar aggregates (each
    side is one row; the cross joins combine O(1) rows)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.count_distinct(F.md5("text"))).alias("n_exact_dup_docs"),
    )
    cl = q_dedup_clusters(spark, sf_dir).agg(
        F.count_distinct("component").alias("n_near_dup_clusters"),
        F.count(F.lit(1)).alias("n_clustered_docs"),
    )
    ch = q_text_chunk_dedup(spark, sf_dir).agg(
        F.expr(
            "CAST(SUM(n_shared_chunks) * 1000000 DIV SUM(n_chunks) AS BIGINT)"
        ).alias("shared_chunk_x1m")
    )
    return exact.crossJoin(cl).crossJoin(ch)


SQL_TEXT_CORPUS_HEALTH = f"""
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
cl AS (
    SELECT COUNT(DISTINCT component) AS n_near_dup_clusters,
           COUNT(*) AS n_clustered_docs
    FROM comp
),
exact AS (
    SELECT COUNT(*) AS n_docs,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dup_docs
    FROM documents
),
ch AS ({SQL_TEXT_CHUNKS}),
dpc AS (
    SELECT chunk_md5, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk_md5
),
chs AS (
    SELECT CAST(SUM(CASE WHEN dpc.nd > 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS shared_chunk_x1m
    FROM ch JOIN dpc USING (chunk_md5)
)
SELECT exact.n_docs, exact.n_exact_dup_docs,
       cl.n_near_dup_clusters, CAST(cl.n_clustered_docs AS BIGINT) AS n_clustered_docs,
       chs.shared_chunk_x1m
FROM exact CROSS JOIN cl CROSS JOIN chs
"""


def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary compression curve: the share of all token instances
    covered by the top-K most frequent tokens, for K in
    VOCAB_COVERAGE_KS — the Zipf-head summary that sizes tokenizer
    vocabularies and stopword lists. Each head is a TakeOrdered top-K
    (no global window) over the vocabulary-sized frequency table; the
    output is |Ks| rows of integer micro-shares.

    The corpus is tokenized ONCE: tf is the vocabulary-sized narrow
    table functions.shared exists for, so the three heads and the
    total all read the same checkpointed table instead of four full
    corpus scans."""
    tf = _vocab_tf(spark, sf_dir)
    total = tf.agg(F.sum("c")).collect()[0][0]
    heads = []
    for k in VOCAB_COVERAGE_KS:
        head = (
            tf.orderBy(F.desc("c"), "term")
            .limit(k)
            .agg(
                F.lit(k).cast("long").alias("k"),
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("c").cast("bigint").alias("covered"),
            )
        )
        heads.append(head)
    out = heads[0]
    for h in heads[1:]:
        out = out.unionByName(h)
    return out.withColumn(
        "coverage_x1m", F.expr(f"CAST(covered * 1000000 DIV {total} AS BIGINT)")
    )


def _sql_text_vocab_coverage() -> str:
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({k} AS BIGINT) AS k, COUNT(*) AS n_terms,
       CAST(SUM(c) AS BIGINT) AS covered
FROM (SELECT c FROM tf ORDER BY c DESC, term LIMIT {k})"""
        for k in VOCAB_COVERAGE_KS
    )
    return f"""
WITH tok AS (
    SELECT unnest({TOKS_SQL}) AS term FROM documents
),
tf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
total AS (SELECT SUM(c) AS t FROM tf),
heads AS (
{arms}
)
SELECT k, n_terms, covered,
       CAST(covered * 1000000 // MAX(total.t) AS BIGINT) AS coverage_x1m
FROM heads CROSS JOIN total
GROUP BY k, n_terms, covered
"""


def q_text_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, step one: the 20 adjacent CHARACTER
    pairs with the highest corpus frequency — exactly the candidate
    table byte-pair-encoding's first merge rule is chosen from (Sennrich
    et al. 2016: count symbol pairs over word frequencies, merge the
    max). Runs entirely over the session-materialized vocabulary-sized
    tf table — pair generation is a narrow explode of word POSITIONS
    weighted by word frequency, so the corpus itself is never
    re-tokenized and nothing here scales with corpus rows, only with
    vocabulary size."""
    tf = _vocab_tf(spark, sf_dir)
    x = tf.filter(F.length("term") >= 2).select(
        "term", "c", F.explode(F.sequence(F.lit(1), F.length("term") - 1)).alias("i")
    )
    pairs = x.select(
        "c",
        F.expr("substr(term, i, 1)").alias("c1"),
        F.expr("substr(term, i + 1, 1)").alias("c2"),
    )
    return (
        pairs.groupBy("c1", "c2")
        .agg(F.sum("c").cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "c1", "c2")
        .limit(20)
    )


SQL_TEXT_BPE_FIRST_MERGES = f"""
WITH tok AS (
    SELECT unnest({{toks}}) AS term FROM documents
),
tf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
pairs AS (
    SELECT substr(term, i, 1) AS c1, substr(term, i + 1, 1) AS c2, c
    FROM tf, LATERAL (SELECT unnest(range(1, length(term))) AS i)
    WHERE length(term) >= 2
)
SELECT c1, c2, CAST(SUM(c) AS BIGINT) AS n_occurrences
FROM pairs
GROUP BY c1, c2
ORDER BY n_occurrences DESC, c1, c2
LIMIT 20
""".replace("{toks}", TOKS_SQL)


def q_text_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix diversity per source: Shannon entropy of the lang
    distribution in integer micro-nats (each (source, lang) cell's
    -p·ln(p) contribution is quantized once, so the per-source total is
    an exact BIGINT sum) — sources feeding one language score 0,
    balanced multilingual feeds score ln(k). The mixture-monitoring
    stat a multilingual curation run tracks per crawl."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source")
    with_tot = cells.withColumn("t", F.sum("c").over(w))
    contrib = with_tot.withColumn(
        "e_x1m",
        F.expr(
            "CAST(ROUND(-LN(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))"
            " * (CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000) AS BIGINT)"
        ),
    )
    return contrib.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.max("t").alias("n_docs"),
        F.sum("e_x1m").cast("bigint").alias("lang_entropy_x1m"),
    )


SQL_TEXT_SOURCE_DIVERSITY = """
WITH cells AS (
    SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY source, lang
),
with_tot AS (
    SELECT source, lang, c, SUM(c) OVER (PARTITION BY source) AS t FROM cells
)
SELECT source,
       COUNT(*) AS n_langs,
       CAST(MAX(t) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(ROUND(-LN(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                           * (CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                           * 1000000) AS BIGINT)) AS BIGINT) AS lang_entropy_x1m
FROM with_tot
GROUP BY source
"""


def q_text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical novelty per document: the share of token INSTANCES that
    are corpus hapax legomena (corpus frequency 1) — high hapax density
    flags OCR noise / mojibake / random strings, near-zero flags
    templated text; a vocabulary-level companion to the shingle-based
    ngram novelty. One token groupBy builds the (vocabulary-sized)
    frequency table; the per-doc roll-up is an integer micro-ratio."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    return (
        tok.join(tf, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("c") == 1).cast("bigint")).alias("n_hapax"),
            F.expr(
                "CAST(SUM(CAST(c = 1 AS BIGINT)) * 1000000 DIV COUNT(1) AS BIGINT)"
            ).alias("hapax_x1m"),
        )
    )


SQL_TEXT_HAPAX_RATIO = f"""
WITH tok AS (
    SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents
),
tf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
           AS hapax_x1m
FROM tok JOIN tf USING (term)
GROUP BY doc_id
"""


def q_text_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate: the keep/drop decision a production
    curation run makes from SEVERAL weak signals at once — unigram-LM
    surprisal inside a sane band (too low = boilerplate, too high =
    noise), stopword density above a floor, and a minimum length. All
    three signals are integer micro-units, so the gate is a pure
    integer predicate — bit-identical on any engine, no float
    thresholds to drift. One join between the surprisal view and the
    narrow stats pass."""
    surp = q_text_surprisal(spark, sf_dir)
    stats = (
        load_table(spark, sf_dir, "documents")
        .transform(X.with_text_stats())
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            F.expr("CAST((n_stopwords * 1000000) DIV n_tokens AS BIGINT)").alias(
                "stopword_x1m"
            ),
        )
    )
    j = surp.join(stats, "doc_id")
    keep = (
        F.col("mean_surprisal_x1m").between(
            ENSEMBLE_SURPRISAL_LO, ENSEMBLE_SURPRISAL_HI
        )
        & (F.col("stopword_x1m") >= ENSEMBLE_MIN_STOPWORD_X1M)
        & (F.col("n_tokens") >= ENSEMBLE_MIN_TOKENS)
    )
    return j.select(
        "doc_id",
        "n_tokens",
        "mean_surprisal_x1m",
        "stopword_x1m",
        keep.cast("int").alias("keep"),
    )


def _sql_text_quality_ensemble() -> str:
    stops = "|".join(X.EN_STOPWORDS)
    return f"""
WITH tok AS (
    SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents
),
tf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
total AS (SELECT SUM(c) AS t FROM tf),
terms AS (
    SELECT term,
           CAST(ROUND(-LN(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000) AS BIGINT)
               AS s_x1m
    FROM tf CROSS JOIN total
),
surp AS (
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(s_x1m) // COUNT(*) AS BIGINT) AS mean_surprisal_x1m
    FROM tok JOIN terms USING (term)
    GROUP BY doc_id
),
stats AS (
    SELECT doc_id,
           CAST((CAST(len(regexp_extract_all(lower(text), '\\b({stops})\\b')) AS BIGINT)
                 * 1000000) // CAST(len({TOKS_SQL}) AS BIGINT) AS BIGINT) AS stopword_x1m
    FROM documents
    WHERE len({TOKS_SQL}) > 0
)
SELECT s.doc_id, s.n_tokens, s.mean_surprisal_x1m, st.stopword_x1m,
       CAST(CASE WHEN s.mean_surprisal_x1m BETWEEN {ENSEMBLE_SURPRISAL_LO} AND {ENSEMBLE_SURPRISAL_HI}
                  AND st.stopword_x1m >= {ENSEMBLE_MIN_STOPWORD_X1M}
                  AND s.n_tokens >= {ENSEMBLE_MIN_TOKENS}
                 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM surp s JOIN stats st USING (doc_id)
"""


def q_text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal score per document — the CCNet-style
    perplexity proxy curation pipelines bucket corpora by (docs whose
    tokens are globally rare read as noise; ultra-low surprisal reads
    as boilerplate). Per-TERM surprisal -ln(c/T) is quantized to
    integer micro-nats once on the (small) vocabulary table, so the
    per-doc aggregation is an exact BIGINT sum — order-independent,
    no float accumulation over the corpus. Shape: one token groupBy
    (map-side combine), a broadcast scalar total, one join back on the
    term, one doc groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = tf.agg(F.sum("c").alias("t"))
    terms = tf.crossJoin(F.broadcast(total)).select(
        "term",
        F.expr("CAST(ROUND(-LN(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000) AS BIGINT)")
        .alias("s_x1m"),
    )
    return (
        tok.join(terms, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr("CAST(SUM(s_x1m) DIV COUNT(1) AS BIGINT)").alias("mean_surprisal_x1m"),
        )
    )


SQL_TEXT_SURPRISAL = f"""
WITH tok AS (
    SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents
),
tf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
total AS (SELECT SUM(c) AS t FROM tf),
terms AS (
    SELECT term,
           CAST(ROUND(-LN(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000) AS BIGINT)
               AS s_x1m
    FROM tf CROSS JOIN total
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(s_x1m) // COUNT(*) AS BIGINT) AS mean_surprisal_x1m
FROM tok JOIN terms USING (term)
GROUP BY doc_id
"""


QUERIES = {
    q_text_stats: SQL_TEXT_STATS,
    q_text_surprisal: SQL_TEXT_SURPRISAL,
    q_text_lang_summary: SQL_TEXT_LANG_SUMMARY,
    q_text_fingerprint: SQL_TEXT_FINGERPRINT,
    q_text_quality_filter: SQL_TEXT_QUALITY_FILTER,
    q_text_quality_calibrated: SQL_TEXT_QUALITY_CALIBRATED,
    q_text_length_histogram: SQL_TEXT_LENGTH_HIST,
    q_text_top_trigrams: SQL_TEXT_TOP_TRIGRAMS,
    q_corpus_snapshot_diff: SQL_CORPUS_SNAPSHOT_DIFF,
    q_text_heavy_tokens: SQL_TEXT_HEAVY_TOKENS,
    q_text_contamination: SQL_TEXT_CONTAMINATION,
    q_text_dup_ngrams: SQL_TEXT_DUP_NGRAMS,
    q_text_langid_eval: SQL_TEXT_LANGID_EVAL,
    q_text_curation_pipeline: SQL_TEXT_CURATION_PIPELINE,
    q_text_curation_funnel: SQL_TEXT_CURATION_FUNNEL,
    q_text_ngram_novelty: SQL_TEXT_NGRAM_NOVELTY,
    q_text_repetition: SQL_TEXT_REPETITION,
    q_text_pii_scrub: SQL_TEXT_PII_SCRUB,
    q_text_tfidf_topterms: SQL_TEXT_TFIDF,
    q_text_domain_divergence: SQL_TEXT_DOMAIN_DIVERGENCE,
    q_text_inverted_index: SQL_TEXT_INVINDEX,
    q_text_domain_stats: SQL_TEXT_DOMAIN_STATS,
    q_text_quality_dup_link: _sql_text_quality_dup_link(),
    q_text_kn_bigram_score: _sql_text_kn_bigram_score(),
    q_text_collocations: SQL_TEXT_COLLOCATIONS,
    q_text_quality_ensemble: _sql_text_quality_ensemble(),
    q_text_hapax_ratio: SQL_TEXT_HAPAX_RATIO,
    q_text_corpus_health: SQL_TEXT_CORPUS_HEALTH,
    q_text_source_diversity: SQL_TEXT_SOURCE_DIVERSITY,
    q_text_vocab_coverage: _sql_text_vocab_coverage(),
    q_text_bpe_first_merges: SQL_TEXT_BPE_FIRST_MERGES,
}
