"""Dataset-assembly queries: train/val/test split assignment, sequence packing, stratified / weighted / mixture sampling, global shuffle, and context-window chunking — the steps that turn a curated corpus into training-ready shards. All oracle-checked against DuckDB."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipe_s_spark.functions import text as X
from pipe_s_spark.sources import load_table

from pipe_s_spark.queries_llm_shared import (
    CHUNK_LEN,
    CHUNK_STRIDE,
    MIX_TARGET_X1M,
    PACK_SHARDS,
    SHUFFLE_DOCS_PER_FILE,
    SHUFFLE_SALT,
    STRATUM_SAMPLE_K,
    TOKS_SQL,
    _MIX_SPEC_SQL,
    _doc_shard,
)


def q_text_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: hash the doc id into
    100 buckets (md5-based, engine-independent, stable across runs and
    cluster sizes — the property random() splits lack), 96/2/2."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    split = (
        F.when(bucket < 96, "train").when(bucket < 98, "val").otherwise("test")
    )
    return docs.select("doc_id", bucket.alias("bucket").cast("int"), split.alias("split"))


SQL_TEXT_SPLIT = """
SELECT doc_id,
       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS INTEGER) AS bucket,
       CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 96 THEN 'train'
            WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 98 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_text_pack_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to fixed-budget packs of 2048
    tokens by exclusive running token count — the layout step before
    writing training shards.

    Shard-local formulation (the 100 TB path): docs hash into
    PACK_SHARDS md5 shards; the running-count window is PARTITIONED by
    shard (parallel, no global sort — a global ORDER BY window would
    serialize the corpus through one reducer); per-shard pack counts
    (<= PACK_SHARDS rows) are prefix-summed on the driver to offset
    each shard's local pack ids into a disjoint global range. The
    narrow projection is localCheckpoint'ed so the corpus is scanned
    once, not once per the count-collect and once for the result."""
    docs = load_table(spark, sf_dir, "documents")
    n = X.token_count("text")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        docs.select("doc_id", n.alias("n_tokens"), _doc_shard().alias("shard"))
        .withColumn(
            "local_pack",
            F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / 2048).cast("long"),
        )
        .localCheckpoint(eager=True)
    )
    counts = local.groupBy("shard").agg((F.max("local_pack") + 1).alias("n_packs")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["shard"]):
        offsets[r["shard"]] = acc
        acc += r["n_packs"]
    off = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col("shard")
    )
    return local.select(
        "doc_id", "n_tokens", (F.col("local_pack") + off).cast("long").alias("pack_id")
    )


SQL_TEXT_PACK = f"""
WITH base AS (
    SELECT doc_id,
           CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % {PACK_SHARDS} AS shard
    FROM documents
),
w AS (
    SELECT doc_id, n_tokens, shard,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS local_pack
    FROM base
),
np AS (SELECT shard, MAX(local_pack) + 1 AS n_packs FROM w GROUP BY shard),
offs AS (
    SELECT shard, CAST(COALESCE(SUM(n_packs) OVER (
        ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
    FROM np
)
SELECT w.doc_id, w.n_tokens, CAST(w.local_pack + offs.off AS BIGINT) AS pack_id
FROM w JOIN offs USING (shard)
"""


def q_text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep the STRATUM_SAMPLE_K
    docs per (lang, source) stratum with the smallest md5(doc_id) —
    stable across runs, engines and cluster sizes (the property
    rand()-based sampling lacks), via a PARTITIONED rank window."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", "source")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= STRATUM_SAMPLE_K)
    )


SQL_TEXT_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, source, CAST(rk AS INTEGER) AS rk FROM (
    SELECT doc_id, lang, source,
           ROW_NUMBER() OVER (PARTITION BY lang, source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM documents
) WHERE rk <= {STRATUM_SAMPLE_K}
"""


def q_text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for training: sliding token windows of
    ``CHUNK_LEN`` with stride ``CHUNK_STRIDE``, emitting per chunk its
    position and the md5 of its joined tokens (the key you'd dedup or
    shard chunks by downstream). Pure narrow map — sequence +
    posexplode + slice inside the scan projection, ZERO shuffle, linear
    in tokens: the only formulation that survives 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", X.tokens("text").alias("toks"))
        .withColumn("n_tokens", F.size("toks").cast("bigint"))
        .filter(F.col("n_tokens") > 0)
    )
    ch = base.select(
        "doc_id",
        "n_tokens",
        "toks",
        F.posexplode(
            F.sequence(F.lit(0), F.col("n_tokens") - 1, F.lit(CHUNK_STRIDE))
        ).alias("chunk_idx", "start_tok"),
    )
    return ch.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_LEN), F.col("n_tokens") - F.col("start_tok"))
        .cast("bigint")
        .alias("chunk_len"),
        F.md5(
            F.concat_ws(
                " ", F.slice("toks", F.col("start_tok") + 1, F.lit(CHUNK_LEN))
            )
        ).alias("chunk_md5"),
    )


SQL_TEXT_CHUNKS = f"""
WITH base AS (
    SELECT doc_id, {TOKS_SQL} AS toks,
           CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens
    FROM documents
),
starts AS (
    SELECT doc_id, n_tokens, toks,
           unnest(generate_series(0, n_tokens - 1, {CHUNK_STRIDE})) AS start_tok
    FROM base WHERE n_tokens > 0
)
SELECT doc_id,
       CAST(start_tok // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(LEAST({CHUNK_LEN}, n_tokens - start_tok) AS BIGINT) AS chunk_len,
       md5(array_to_string(
           toks[CAST(start_tok + 1 AS INT) : CAST(start_tok + {CHUNK_LEN} AS INT)],
           ' ')) AS chunk_md5
FROM starts
"""


def q_text_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: downsample each language to the
    largest corpus that respects ``MIX_TARGET_X1M`` exactly. Per-lang
    keep-rates come from integer micro-unit arithmetic (feasible total
    T = min over langs of count*1e6 DIV target), and the keep decision
    is md5(doc_id)-uniform < rate — deterministic across runs, engines
    and cluster sizes, unlike rand()-based sampling.

    Scale: ONE tiny groupBy(lang) agg (cardinality = languages, O(100)
    for any real corpus — the bounded driver collect is metadata, not
    data), then a pure narrow filter over the scan. Langs outside the
    spec map to a null rate and drop."""
    docs = load_table(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    feasible = min(
        (counts.get(lang, 0) * 1_000_000) // t for lang, t in MIX_TARGET_X1M.items()
    )
    rates = {
        lang: (((feasible * t) // 1_000_000) * 1_000_000) // counts[lang]
        if counts.get(lang)
        else 0
        for lang, t in MIX_TARGET_X1M.items()
    }
    rate = F.element_at(
        F.create_map(*[F.lit(x) for kv in rates.items() for x in kv]), F.col("lang")
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % 1_000_000
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("u_x1m", u)
        .filter(F.col("u_x1m") < rate)
    )

SQL_TEXT_MIX_SAMPLE = f"""
WITH spec(lang, t_x1m) AS (VALUES {_MIX_SPEC_SQL}),
cnts AS (
    SELECT s.lang, s.t_x1m, COALESCE(c.cnt, 0) AS cnt
    FROM spec s LEFT JOIN (
        SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ) c USING (lang)
),
t AS (SELECT MIN(cnt * 1000000 // t_x1m) AS feasible FROM cnts),
rates AS (
    SELECT lang,
           CASE WHEN cnt = 0 THEN 0
                ELSE ((feasible * t_x1m // 1000000) * 1000000) // cnt
           END AS rate_x1m
    FROM cnts, t
)
SELECT d.doc_id, d.lang, d.u_x1m
FROM (
    SELECT doc_id, lang,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 1000000 AS u_x1m
    FROM documents
) d
JOIN rates r USING (lang)
WHERE d.u_x1m < r.rate_x1m
"""


def q_text_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle for training order: every
    doc gets a unique position in the md5(salt || doc_id) permutation,
    plus the training-file id it lands in. Semantically a global
    ORDER BY — executed as the scalable two-phase form: RANGE-shard on
    the key's first hex nibble (md5 is uniform, so shards balance),
    rank inside each shard with a PARTITIONED window, then add the
    driver-side prefix-sum of the 16 shard counts. No global window
    ever exists in the plan (tests/test_plan_quality.py would reject
    one); this is exactly the range-partitioned sort Spark's orderBy
    performs physically, made explicit and engine-reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(SHUFFLE_SALT), F.col("doc_id").cast("string")))
    base = docs.select("doc_id", key.alias("k")).withColumn(
        "shard", F.conv(F.substring("k", 1, 1), 16, 10).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    local = base.withColumn("rk", F.row_number().over(w)).localCheckpoint(eager=True)
    counts = {
        r["shard"]: r["n"]
        for r in local.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for s in range(16):
        offsets[s] = acc
        acc += counts.get(s, 0)
    off = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col("shard")
    )
    return (
        local.select("doc_id", (off + F.col("rk") - 1).cast("long").alias("pos"))
        .withColumn(
            "file_id", F.expr(f"pos div {SHUFFLE_DOCS_PER_FILE}").cast("long")
        )
    )


SQL_TEXT_GLOBAL_SHUFFLE = f"""
WITH p AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1 AS BIGINT) AS pos
    FROM documents
)
SELECT doc_id, pos, pos // {SHUFFLE_DOCS_PER_FILE} AS file_id FROM p
"""


def q_text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sampling (the curation step that
    subsamples a corpus with probability proportional to a per-doc
    weight — here length-biased via n_chars+1): priority = md5-uniform
    h / weight, keep the global smallest-50. h uses 13 hex digits (52
    bits) so it is EXACTLY representable as a double and the single
    division is correctly rounded to the identical bits in both
    engines — rank order is engine-independent by construction.
    Scale shape: narrow expression + TakeOrderedAndProject (per-
    partition top-k then driver merge of k*partitions rows — no global
    sort materialization)."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 13),
        16,
        10,
    ).cast("long")
    pri = h / (F.col("n_chars") + F.lit(1))
    # priority is emitted UNROUNDED: the single int/int division is
    # correctly rounded to the same bits in both engines, whereas
    # ROUND(x, 4) at 1e12 magnitude straddles the double grid (~1e-4
    # spacing there) and the engines' rounding algorithms disagree
    return (
        docs.select("doc_id", "n_chars", pri.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(50)
    )


SQL_TEXT_WEIGHTED_SAMPLE = """
WITH pri AS (
    SELECT doc_id, n_chars,
           CAST(CAST('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                AS DOUBLE) / (n_chars + 1) AS p
    FROM documents
)
SELECT doc_id, n_chars, p AS priority
FROM pri ORDER BY p, doc_id LIMIT 50
"""


def q_text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (near-line-level) dedup stats: for every document, how
    many of its context-window chunks also occur verbatim in OTHER
    documents — the C4/RefinedWeb-style sub-document duplication signal
    that doc-level dedup misses (boilerplate headers, repeated
    license blocks). One groupBy on chunk_md5 (uniform key, map-side
    combine) + a join back on the same key; the dup share is integer
    micro-units so the output is all-BIGINT."""
    ch = q_text_chunk_windows(spark, sf_dir).select("doc_id", "chunk_md5")
    docs_per_chunk = ch.groupBy("chunk_md5").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    return (
        ch.join(docs_per_chunk, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("nd") > 1).cast("bigint")).alias("n_shared_chunks"),
        )
        .withColumn(
            "shared_x1m",
            F.expr("CAST(n_shared_chunks * 1000000 DIV n_chunks AS BIGINT)"),
        )
    )


SQL_TEXT_CHUNK_DEDUP = f"""
WITH ch AS ({SQL_TEXT_CHUNKS}),
dpc AS (
    SELECT chunk_md5, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk_md5
)
SELECT ch.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN dpc.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
       CAST(SUM(CASE WHEN dpc.nd > 1 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS shared_x1m
FROM ch JOIN dpc USING (chunk_md5)
GROUP BY ch.doc_id
"""


def q_text_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture weights: per source,
    w(alpha) = n^alpha / sum(n^alpha) for alpha in {1, 0.5, 0.25} —
    the standard smoothing family for corpus sampling (alpha=1 is
    proportional, lower alpha up-weights small domains; the same
    exponent family multilingual-corpus samplers use). Determinism per
    the exact.py float policy: alpha=1 is pure integer DIV; the sqrt
    arms go through DECIMAL(30,12) partial sums (order-independent)
    with one final IEEE division, so both engines agree bit-exactly.
    One groupBy over a domain-count table of O(sources) rows."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    n = F.col("n_docs").cast("double")
    arms = counts.select(
        "source",
        "n_docs",
        F.sqrt(n).cast("decimal(30,12)").alias("w50"),
        F.sqrt(F.sqrt(n)).cast("decimal(30,12)").alias("w25"),
    )
    tot = arms.agg(
        F.sum("n_docs").alias("t1"),
        F.sum("w50").alias("t50"),
        F.sum("w25").alias("t25"),
    )
    return (
        arms.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("CAST(n_docs * 1000000 DIV t1 AS BIGINT)").alias("w_prop_x1m"),
            F.round(
                F.col("w50").cast("double") / F.col("t50").cast("double") * 1e6, 0
            ).cast("bigint").alias("w_sqrt_x1m"),
            F.round(
                F.col("w25").cast("double") / F.col("t25").cast("double") * 1e6, 0
            ).cast("bigint").alias("w_qrt_x1m"),
        )
    )


SQL_TEXT_MIX_WEIGHTS = """
WITH counts AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
arms AS (
    SELECT source, n_docs,
           CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(30,12)) AS w50,
           CAST(sqrt(sqrt(CAST(n_docs AS DOUBLE))) AS DECIMAL(30,12)) AS w25
    FROM counts
),
tot AS (SELECT SUM(n_docs) AS t1, SUM(w50) AS t50, SUM(w25) AS t25 FROM arms)
SELECT source, n_docs,
       CAST(n_docs * 1000000 // t1 AS BIGINT) AS w_prop_x1m,
       CAST(ROUND(CAST(w50 AS DOUBLE) / CAST(t50 AS DOUBLE) * 1e6, 0) AS BIGINT)
           AS w_sqrt_x1m,
       CAST(ROUND(CAST(w25 AS DOUBLE) / CAST(t25 AS DOUBLE) * 1e6, 0) AS BIGINT)
           AS w_qrt_x1m
FROM arms CROSS JOIN tot
"""


QUERIES = {
    q_text_split_assign: SQL_TEXT_SPLIT,
    q_text_pack_assign: SQL_TEXT_PACK,
    q_text_weighted_sample: SQL_TEXT_WEIGHTED_SAMPLE,
    q_text_stratified_sample: SQL_TEXT_STRATIFIED_SAMPLE,
    q_text_chunk_windows: SQL_TEXT_CHUNKS,
    q_text_mix_sample: SQL_TEXT_MIX_SAMPLE,
    q_text_global_shuffle: SQL_TEXT_GLOBAL_SHUFFLE,
    q_text_chunk_dedup: SQL_TEXT_CHUNK_DEDUP,
    q_text_mix_weights: SQL_TEXT_MIX_WEIGHTS,
}
