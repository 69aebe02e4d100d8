"""Declarative JSON pipeline runner.

Parity: the reference's whole front-end is a JSON config naming an
Input, a Processor chain, and an Output, instantiated by a constructor
registry (/root/reference/pkg/builder/componentbuilder.go:47-62,170-234)
and run by the Task (pkg/task/task.go:119-165). Here the registry maps
type names to DataFrame-transform factories; "building the pipeline"
composes a lazy logical plan, so the human-ordered processor chain is
re-optimized by Catalyst (filter pushdown etc.) rather than executed
literally in config order — the optimizer the reference never had.

Spec shape (mirrors examples/configsamples/*.json):

{
  "Input":      {"Type": "parquet", "Config": {"sfDir": "...", "table": "events"}},
  "Processors": [{"Type": "changelog-from-events"},
                 {"Type": "dml-filter", "Config": {"tableRegex": "^sbtest[12]$"}},
                 {"Type": "map-names", "Config": {"dbMap": {"app": "dw"}}}],
  "Output":     {"Type": "parquet", "Config": {"path": "/tmp/out"}}
}

Unknown types raise — same behavior as componentbuilder_test.go:10-50.

Outputs come from three tables, which ``--list`` prints: the batch
formats, the stream formats, and the epoch sinks (merge, delta,
dedup-index, ivf-index). An epoch sink parses its Config once for
either input kind: a batch input applies one epoch, a stream input
hands the same parsed sink to the one streaming epoch loop
(streaming.epoch_log.run_stream). A Config key the stream path cannot
honour raises instead of being dropped.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipe_s_spark.model import changelog_from_events
from pipe_s_spark.operators import (
    catch_table_name,
    column_value,
    compact_changelog,
    filter_dml,
    map_actions,
    map_names,
    marshal_json,
    unmarshal_json,
    value_map,
)
from pipe_s_spark.sources import load_table

Transform = Callable[[DataFrame], DataFrame]
Factory = Callable[[Mapping[str, Any]], Transform]


class PipelineSpecError(ValueError):
    pass


_PROCESSORS: dict[str, Factory] = {}


def _register(table: dict[str, Any], name: str) -> Callable[[Any], Any]:
    def deco(f):
        table[name] = f
        return f

    return deco


def register_processor(name: str) -> Callable[[Factory], Factory]:
    """Decorator-registry — parity with RegisterComponent
    (componentbuilder.go:42-44); user code can add custom processors."""
    return _register(_PROCESSORS, name)


@register_processor("dml-filter")
def _p_filter(cfg: Mapping[str, Any]) -> Transform:
    return filter_dml(
        table_regex=cfg.get("tableRegex"),
        ops=cfg.get("ops"),
        table_col=cfg.get("tableCol", "table_name"),
        op_col=cfg.get("opCol", "op"),
        db_col=cfg.get("dbCol"),
        db_regex=cfg.get("dbRegex"),
        full_name_regex=cfg.get("fullNameRegex"),
    )


@register_processor("changelog-from-events")
def _p_changelog(cfg: Mapping[str, Any]) -> Transform:
    return changelog_from_events


@register_processor("map-names")
def _p_map_names(cfg: Mapping[str, Any]) -> Transform:
    return map_names(
        db_map=cfg.get("dbMap"),
        table_map=cfg.get("tableMap"),
        column_map=cfg.get("columnMap"),
    )


@register_processor("map-actions")
def _p_map_actions(cfg: Mapping[str, Any]) -> Transform:
    return map_actions(cfg["actionMap"])


@register_processor("catch-table-name")
def _p_catch(cfg: Mapping[str, Any]) -> Transform:
    return catch_table_name(cfg["pattern"], out_col=cfg.get("outCol", "logical_table"))


@register_processor("column-value")
def _p_colval(cfg: Mapping[str, Any]) -> Transform:
    return column_value(cfg["column"], cfg.get("outCol", "partition_key"))


@register_processor("value-map")
def _p_valmap(cfg: Mapping[str, Any]) -> Transform:
    return value_map(cfg["mapping"], cfg["inCol"], cfg["outCol"], cfg.get("default"))


@register_processor("json-marshal")
def _p_marshal(cfg: Mapping[str, Any]) -> Transform:
    return marshal_json(cfg.get("columns"), cfg.get("outCol", "value"))


@register_processor("json-unmarshal")
def _p_unmarshal(cfg: Mapping[str, Any]) -> Transform:
    return unmarshal_json(cfg["schema"], cfg.get("inCol", "value"))


@register_processor("sql")
def _p_sql(cfg: Mapping[str, Any]) -> Transform:
    """Arbitrary Spark SQL over the piped DataFrame, referenced as
    ``__input__`` — the escape hatch that lets a JSON pipeline express
    any transform the library hasn't wrapped (Catalyst still plans
    it, so pushdown/pruning apply as usual)."""

    def t(df: DataFrame) -> DataFrame:
        view = cfg.get("view", "__input__")
        df.createOrReplaceTempView(view)
        return df.sparkSession.sql(cfg["query"])

    return t


@register_processor("apply-schema")
def _p_apply_schema(cfg: Mapping[str, Any]) -> Transform:
    """Typed-payload conversion as a pipeline stage (the declarative
    form of MysqlDMLToDBChangeConverter's schema zip,
    `dml_to_dbchange.go:65-74`): parse a JSON payload column with an
    inline DDL-string schema, optionally flattening the struct into
    top-level columns."""
    from pipe_s_spark.operators.converter import apply_schema

    # from_json accepts DDL strings directly; no session needed here
    return apply_schema(
        cfg["schema"],
        json_col=cfg.get("jsonCol", "new_row"),
        out_col=cfg.get("outCol"),
        flatten=cfg.get("flatten", False),
    )


@register_processor("expect")
def _p_expect(cfg: Mapping[str, Any]) -> Transform:
    """Data-expectations gate as a pipeline stage (see
    operators.expectations). ``checks`` is the JSON check list;
    ``mode`` picks the routing semantics: ``tag`` appends the
    ``_violated`` array, ``drop`` keeps only clean rows (Delta Live
    Tables' "expect or drop"), ``quarantine`` keeps only VIOLATING
    rows with the failed-check list as a sorted string — compose
    ``drop`` and ``quarantine`` branches under a ``fork`` output for
    full dead-letter routing in one pass."""

    def t(df: DataFrame) -> DataFrame:
        from pipe_s_spark.operators.expectations import suite_from_spec

        suite = suite_from_spec(
            cfg["checks"], table=cfg.get("table", "t"), spark=df.sparkSession
        )
        tagged = suite.tag(df)
        mode = cfg.get("mode", "tag")
        if mode == "tag":
            return tagged
        if mode == "drop":
            return tagged.filter(F.size("_violated") == 0).drop("_violated")
        if mode == "quarantine":
            return tagged.filter(F.size("_violated") > 0).withColumn(
                "_violated", F.array_join(F.array_sort("_violated"), ",")
            )
        raise PipelineSpecError(f"unknown expect mode: {mode!r}")

    return t


@register_processor("compact")
def _p_compact(cfg: Mapping[str, Any]) -> Transform:
    def t(df: DataFrame) -> DataFrame:
        return compact_changelog(
            df,
            key_cols=cfg.get("keyCols", ("db", "table_name", "pk")),
            seq_col=cfg.get("seqCol", "seq"),
            op_col=cfg.get("opCol", "op"),
            payload_cols=cfg.get("payloadCols"),
        )

    return t


def _build_input(spark: SparkSession, spec: Mapping[str, Any]) -> DataFrame:
    typ = spec.get("Type")
    cfg = spec.get("Config", {})
    if typ == "parquet":
        if "sfDir" in cfg and "table" in cfg:
            return load_table(spark, cfg["sfDir"], cfg["table"])
        return spark.read.parquet(cfg["path"])
    if typ == "json":
        schema = cfg.get("schema")
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.json(cfg["path"])
    if typ == "csv":
        schema = cfg.get("schema")
        reader = spark.read.schema(schema) if schema else spark.read.option(
            "inferSchema", True
        )
        return reader.option("header", cfg.get("header", True)).csv(cfg["path"])
    if typ == "orc":
        return spark.read.orc(cfg["path"])
    if typ == "json-stream":
        return (
            spark.readStream.schema(cfg["schema"])
            .option("maxFilesPerTrigger", cfg.get("maxFilesPerTrigger", 1))
            .json(cfg["path"])
        )
    if typ == "sql":
        # raw Spark SQL over the testdata catalog: every table is
        # registered as a temp view, then Catalyst plans the statement —
        # the thinnest possible front-end for ad-hoc pipelines
        from pipe_s_spark.sources import load_tables

        for name, df in load_tables(spark, cfg["sfDir"]).items():
            df.createOrReplaceTempView(name)
        return spark.sql(cfg["query"])
    if typ == "query":
        # any registered query as a pipeline source — the JSON front-end
        # spans the full analytics/curation surface, not just CDC
        from pipe_s_spark.registry import all_queries

        qs = all_queries()
        name = cfg.get("name")
        if name not in qs:
            raise PipelineSpecError(
                f"unknown query name: {name!r} (see QUERIES.md for the catalog)"
            )
        return qs[name](spark, cfg["sfDir"])
    raise PipelineSpecError(f"unknown input type: {typ!r}")


def build_pipeline(spark: SparkSession, spec: Mapping[str, Any]) -> DataFrame:
    """Compose Input + Processors into one lazy DataFrame plan."""
    df = _build_input(spark, spec.get("Input", {}))
    return _apply_processors(df, spec.get("Processors", []))


def _apply_processors(df: DataFrame, procs) -> DataFrame:
    for p in procs or []:
        typ = p.get("Type")
        if typ not in _PROCESSORS:
            raise PipelineSpecError(f"unknown processor type: {typ!r}")
        df = df.transform(_PROCESSORS[typ](p.get("Config", {})))
    return df


def _ivf_centroids(
    spark: SparkSession, cfg: Mapping[str, Any], df: DataFrame | None = None
) -> dict[int, list[int]]:
    """Centroids for the ivf-index outputs: inline `centroids`
    ({cell: [int64 micro-unit components]}), else trained with
    fixed-iteration k-means on `trainPath` (the offline-training /
    continuous-ingest split every production IVF uses), else — batch
    bootstrap only — on the bootstrap corpus itself."""
    from pipe_s_spark.functions.similarity import kmeans_train_int

    if "centroids" in cfg:
        return {int(c): [int(x) for x in v] for c, v in cfg["centroids"].items()}
    iters = int(cfg.get("trainIters", 2))
    vec_col = cfg.get("vecCol", "embedding")
    if "trainPath" in cfg:
        return kmeans_train_int(
            spark.read.parquet(cfg["trainPath"]), vec_col=vec_col, iters=iters
        )
    if df is not None and not df.isStreaming:
        return kmeans_train_int(df, vec_col=vec_col, iters=iters)
    raise PipelineSpecError(
        "ivf-index needs `centroids`, `trainPath`, or a batch bootstrap input"
    )


def _ivf_pq_books(
    spark: SparkSession, cfg: Mapping[str, Any], df: DataFrame | None = None
) -> dict[tuple[int, int], list[int]] | None:
    """PQ codebook for the COMPRESSED ivf-index mode, config-gated on
    `pq: true`: inline `pqBooks` ({sub: {code: [int64 components]}}),
    else trained on `trainPath` (same offline split as the
    centroids), else — batch bootstrap only — on the bootstrap corpus.
    `pqM`/`pqK` pin the geometry (default: module constants)."""
    if not cfg.get("pq"):
        return None
    from pipe_s_spark.functions import similarity as S

    m = int(cfg.get("pqM", S.PQ_M))
    k = int(cfg.get("pqK", S.PQ_K))
    if "pqBooks" in cfg:
        books = {
            (int(s), int(c)): [int(x) for x in w]
            for s, codes in cfg["pqBooks"].items()
            for c, w in codes.items()
        }
        # geometry validation — ONLY against values the config PINS:
        # the ADC LUT is laid out as m contiguous k-slot blocks, so a
        # sub >= pinned pqM or code >= pinned pqK would silently
        # scatter LUT entries into a NEIGHBORING subspace's slots
        # (wrong scores) before the last subspace finally IndexErrors.
        # When pqM/pqK are absent, downstream (apply_ivf_batch)
        # derives the geometry from the books themselves — any
        # consistent codebook is valid then, so no range check.
        if "pqM" in cfg:
            bad_sub = sorted({s for s, _ in books if not 0 <= s < m})
            if bad_sub:
                raise PipelineSpecError(
                    f"pqBooks geometry disagrees with pqM={m}: "
                    f"subspaces out of range {bad_sub}"
                )
        if "pqK" in cfg:
            bad_code = sorted({c for _, c in books if not 0 <= c < k})
            if bad_code:
                raise PipelineSpecError(
                    f"pqBooks geometry disagrees with pqK={k}: "
                    f"codes out of range {bad_code}"
                )
        widths = {len(w) for w in books.values()}
        if len(widths) > 1:
            raise PipelineSpecError(
                f"pqBooks codewords have inconsistent widths {sorted(widths)}"
            )
        return books
    iters = int(cfg.get("trainIters", 2))
    vec_col = cfg.get("vecCol", "embedding")
    if "trainPath" in cfg:
        return S.pq_train_int(
            spark.read.parquet(cfg["trainPath"]), vec_col=vec_col, m=m, k=k, iters=iters
        )
    if df is not None and not df.isStreaming:
        return S.pq_train_int(df, vec_col=vec_col, m=m, k=k, iters=iters)
    raise PipelineSpecError(
        "ivf-index with pq needs `pqBooks`, `trainPath`, or a batch bootstrap input"
    )


#: the batch outputs that write the whole frame in one go
_FORMATS: dict[str, Callable[[DataFrame, Mapping[str, Any]], None]] = {}
#: the format sinks a stream input may end in: DataStreamWriter builders
_STREAM_FORMATS: dict[str, Callable[[DataFrame, Mapping[str, Any]], Any]] = {
    "parquet": lambda df, cfg: df.writeStream.format("parquet").option("path", cfg["path"]),
    "console": lambda df, cfg: df.writeStream.format("console"),
    "noop": lambda df, cfg: df.writeStream.format("noop"),
}
#: the epoch sinks, fed by either input kind: parse(df, cfg) reads the
#: Config once and returns (apply, start). A batch input calls
#: ``apply()`` once, at ``epochId``; a stream input calls
#: ``start(checkpoint, available_now, await_seconds)``, which hands the
#: same parsed sink to the streaming driver (streaming.epoch_log.
#: run_stream, directly or through a sink's run_*_stream).
_EPOCH_SINKS: dict[str, Callable[[DataFrame, Mapping[str, Any]], tuple]] = {}
#: a Config key an epoch sink cannot honour on a stream input, and what
#: to do instead: a stream spec that sets it is refused, not ignored
_STREAM_REFUSES = {
    "delta": ("foldInto", "fold with a batch 'delta' spec"),
    "dedup-index": ("continuous", "the index sinks drain availableNow"),
    "ivf-index": ("continuous", "the index sinks drain availableNow"),
}


@_register(_FORMATS, "parquet")
def _o_parquet(df: DataFrame, cfg: Mapping[str, Any]) -> None:
    zorder = cfg.get("zorderBy")
    if not zorder:
        df.write.mode(cfg.get("mode", "overwrite")).parquet(cfg["path"])
        return
    # clustered layout: ["xExpr", "yExpr"] -> z-order sorted files with
    # disjoint key ranges (sources.layout)
    from pipe_s_spark.sources.layout import write_zorder_clustered

    if len(zorder) != 2:
        raise PipelineSpecError("zorderBy takes exactly two column exprs")
    write_zorder_clustered(
        df,
        cfg["path"],
        zorder[0],
        zorder[1],
        num_files=int(cfg.get("numFiles", 16)),
        mode=cfg.get("mode", "overwrite"),
    )


@_register(_FORMATS, "check")
def _o_check(df: DataFrame, cfg: Mapping[str, Any]) -> None:
    # parity: MysqlCheckOutput (checkoutput.go:293-445) — diff the piped
    # source against a parquet target by key; the report (key cols +
    # diff_type) lands at resultPath (the reference's ResultFilePath).
    # An empty report == consistent.
    from pipe_s_spark.operators.checker import check_consistency

    tgt = df.sparkSession.read.parquet(cfg["targetPath"])
    report = check_consistency(
        df, tgt, key_cols=cfg["keys"], compare_cols=cfg.get("compareCols")
    )
    report.coalesce(1).write.mode(cfg.get("mode", "overwrite")).parquet(
        cfg["resultPath"]
    )


def _coalesced(df: DataFrame, cfg: Mapping[str, Any]) -> DataFrame:
    n = cfg.get("numFiles")
    return df.coalesce(int(n)) if n else df


@_register(_FORMATS, "orc")
def _o_orc(df: DataFrame, cfg: Mapping[str, Any]) -> None:
    df.write.mode(cfg.get("mode", "overwrite")).orc(cfg["path"])


@_register(_FORMATS, "csv")
def _o_csv(df: DataFrame, cfg: Mapping[str, Any]) -> None:
    _coalesced(df, cfg).write.mode(cfg.get("mode", "overwrite")).option(
        "header", cfg.get("header", True)
    ).csv(cfg["path"])


@_register(_FORMATS, "jsonl")
def _o_jsonl(df: DataFrame, cfg: Mapping[str, Any]) -> None:
    # training-data export: newline-delimited JSON, the interchange
    # format most dataset tooling ingests; one file per partition
    # (numFiles coalesces to a bounded file count)
    _coalesced(df, cfg).write.mode(cfg.get("mode", "overwrite")).json(cfg["path"])


@_register(_FORMATS, "noop")
def _o_noop(df: DataFrame, cfg: Mapping[str, Any]) -> None:
    df.write.format("noop").mode("overwrite").save()  # parity: DummyOutput


@_register(_FORMATS, "console")
def _o_console(df: DataFrame, cfg: Mapping[str, Any]) -> None:
    df.show(int(cfg.get("numRows", 20)), truncate=False)  # parity: LogOutput


@_register(_FORMATS, "debug")
def _o_debug(df: DataFrame, cfg: Mapping[str, Any]) -> None:
    # parity: DebugOutput (debug/output.go:18-25) — print only the rows
    # matching a predicate (the reference hardcodes one id; a filter
    # expression is the declarative generalization)
    df.filter(cfg.get("where", "true")).show(
        int(cfg.get("numRows", 20)), truncate=False
    )


def _keys(cfg: Mapping[str, Any]) -> dict[str, Any]:
    """The key/payload parse shared by merge, delta and delta's
    ``foldInto`` base."""
    return {
        "key_cols": cfg.get("keyCols", ("table_name", "pk")),
        "payload_cols": cfg.get("payloadCols", ("k", "value")),
    }


def _merge_target(cfg: Mapping[str, Any], keys: dict[str, Any]):
    from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

    return MergeApplyTarget(
        cfg["path"],
        num_buckets=int(cfg.get("numBuckets", 16)),
        lww=cfg.get("lww", False),
        **keys,
    )


def _target_sink(df: DataFrame, cfg: Mapping[str, Any], tgt, skipped: str):
    """(apply, start) of a CDC target whose epoch is one ``apply_batch``
    call. ``skipped`` (formatted with ``epoch`` and ``path``) is printed
    when a batch epoch returns False: a re-run of the same spec with NEW
    input must never leave a silently stale target. ``tgt.apply_batch``
    is looked up when the stream starts."""
    from pipe_s_spark.streaming.epoch_log import run_stream

    def apply() -> int:
        epoch = int(cfg.get("epochId", 1))
        if not tgt.apply_batch(df, epoch_id=epoch):
            print(skipped.format(epoch=epoch, path=cfg["path"]), flush=True)
        return epoch

    def start(checkpoint: str, available_now: bool, wait: int) -> None:
        run_stream(df, tgt.apply_batch, checkpoint, available_now=available_now,
                   await_seconds=wait)

    return apply, start


@_register(_EPOCH_SINKS, "merge")
def _s_merge(df: DataFrame, cfg: Mapping[str, Any]) -> tuple:
    # parity: MysqlStreamOutput/MysqlBatchOutput upsert-apply — the piped
    # changelog is compacted to net effect and MERGED into a fenced
    # bucketed parquet target (streaming.merge_apply): every micro-batch
    # of a stream (the db_stream_sync.json semantics, binlog -> filter ->
    # convert -> upsert), or a batch input once as epoch `epochId`
    # (default 1), so re-running the same spec is a fence no-op.
    return _target_sink(
        df,
        cfg,
        _merge_target(cfg, _keys(cfg)),
        "[merge] epoch {epoch} already applied at {path} — skipping (fence). "
        "Pass a higher 'epochId' in the spec to apply fresh input.",
    )


@_register(_EPOCH_SINKS, "delta")
def _s_delta(df: DataFrame, cfg: Mapping[str, Any]) -> tuple:
    # LSM-shaped variant of 'merge' (streaming.delta_apply): the epoch's
    # net effects APPEND as their own batch partition — O(batch)
    # steady-state writes instead of touched-bucket rewrites — and reads
    # resolve last-writer-wins. A batch spec's optional 'foldInto'
    # compacts all unfolded deltas into a bucketed merge target
    # afterwards (one bulk apply, watermark advanced, folded partitions
    # truncated).
    from pipe_s_spark.streaming.delta_apply import DeltaAppendTarget

    keys = _keys(cfg)
    dt = DeltaAppendTarget(cfg["path"], **keys)
    apply, start = _target_sink(
        df,
        cfg,
        dt,
        "[delta] epoch {epoch} at or below the fold watermark at {path} — "
        "skipping (its effects live in the base). Pass a higher 'epochId' "
        "to apply fresh input.",
    )
    fold = cfg.get("foldInto")
    if not fold:
        return apply, start

    def apply_and_fold() -> None:
        epoch = apply()
        dt.fold_into(_merge_target(fold, keys), epoch_id=int(fold.get("epochId", epoch)))

    return apply_and_fold, start


@_register(_EPOCH_SINKS, "dedup-index")
def _s_dedup_index(df: DataFrame, cfg: Mapping[str, Any]) -> tuple:
    # continuous MinHash-LSH index maintenance (streaming.dedup_index —
    # replay-idempotent, band-capped by default, self-compacting on the
    # default cadence): a batch input bootstraps the index as epoch
    # `epochId` (default 0); a stream started afterwards on the same
    # paths continues from later epochs against it.
    from pipe_s_spark.functions.dedup import LSH_BAND_CAP
    from pipe_s_spark.streaming import dedup_index
    from pipe_s_spark.streaming.epoch_log import DEFAULT_COMPACT_EVERY

    kw = dict(
        index_path=cfg["indexPath"],
        pairs_path=cfg["pairsPath"],
        id_col=cfg.get("idCol", "doc_id"),
        text_col=cfg.get("textCol", "text"),
        k=int(cfg.get("shingleK", 3)),
        num_hashes=int(cfg.get("numHashes", 16)),
        bands=int(cfg.get("bands", 4)),
        band_cap=cfg.get("bandCap", LSH_BAND_CAP),
    )

    def apply() -> None:
        dedup_index.apply_index_batch(df, int(cfg.get("epochId", 0)), **kw)

    def start(checkpoint: str, available_now: bool, wait: int) -> None:
        dedup_index.run_dedup_index_stream(
            df,
            checkpoint=checkpoint,
            # absent key -> the sink's default-on cadence; an explicit
            # JSON null remains the opt-out
            compact_every=cfg.get("compactEvery", DEFAULT_COMPACT_EVERY),
            await_seconds=wait,
            **kw,
        )

    return apply, start


@_register(_EPOCH_SINKS, "ivf-index")
def _s_ivf_index(df: DataFrame, cfg: Mapping[str, Any]) -> tuple:
    # continuous ANN/IVF index maintenance (streaming.ivf_index —
    # replay-idempotent, cell-capped by default, self-compacting on the
    # default cadence): a batch input bootstraps the index as epoch
    # `epochId` (default 0); a stream continues from later epochs.
    # Centroids are given inline, trained offline from `trainPath`, or
    # (batch only) trained on the bootstrap corpus.
    from pipe_s_spark.streaming import ivf_index
    from pipe_s_spark.streaming.epoch_log import DEFAULT_COMPACT_EVERY

    spark = df.sparkSession
    centroids = _ivf_centroids(spark, cfg, df)
    kw = dict(
        index_path=cfg["indexPath"],
        topk_path=cfg["topkPath"],
        id_col=cfg.get("idCol", "vec_id"),
        vec_col=cfg.get("vecCol", "embedding"),
        nprobe=int(cfg.get("nprobe", 2)),
        k=int(cfg.get("k", 5)),
        cell_cap=cfg.get("cellCap", ivf_index.IVF_CELL_CAP),
        pq_books=_ivf_pq_books(spark, cfg, df),
        pq_m=int(cfg["pqM"]) if "pqM" in cfg else None,
        pq_k=int(cfg["pqK"]) if "pqK" in cfg else None,
    )

    def apply() -> None:
        ivf_index.apply_ivf_batch(df, int(cfg.get("epochId", 0)), centroids, **kw)

    def start(checkpoint: str, available_now: bool, wait: int) -> None:
        ivf_index.run_ivf_index_stream(
            df,
            centroids,
            checkpoint=checkpoint,
            # absent key -> default-on cadence; JSON null opts out
            compact_every=cfg.get("compactEvery", DEFAULT_COMPACT_EVERY),
            await_seconds=wait,
            **kw,
        )

    return apply, start


def _write_epoch_sink(df: DataFrame, typ: str, cfg: Mapping[str, Any]) -> None:
    """One epoch sink, from either input kind: a batch input applies
    once; a stream input (the reference's continuous-sync mode) needs
    ``checkpoint`` and runs the streaming driver (see _stream_options)."""
    if not df.isStreaming:
        _EPOCH_SINKS[typ](df, cfg)[0]()
        return
    opts = _stream_options(typ, cfg)
    key, instead = _STREAM_REFUSES.get(typ, (None, None))
    if key and cfg.get(key):
        raise PipelineSpecError(
            f"a streaming {typ!r} output cannot honour {key!r} ({instead}); "
            "remove it from the spec"
        )
    _EPOCH_SINKS[typ](df, cfg)[1](*opts)


def _stream_options(typ: str, cfg: Mapping[str, Any]) -> tuple[str, bool, int]:
    """(checkpoint, available_now, await_seconds) of a streaming output:
    ``checkpoint`` is required; the trigger is availableNow
    (drain-and-stop) unless ``continuous`` is true; ``awaitSeconds``
    (default 300) bounds the wait."""
    ckpt = cfg.get("checkpoint")
    if not ckpt:
        raise PipelineSpecError(f"streaming {typ!r} output needs 'checkpoint'")
    return ckpt, not cfg.get("continuous", False), int(cfg.get("awaitSeconds", 300))


def _write_output(df: DataFrame, out: Mapping[str, Any]) -> DataFrame | None:
    typ = out.get("Type")
    cfg = out.get("Config", {})
    if typ == "return":
        return df
    if typ == "fork":
        return _fork(df, out.get("Outputs", []))
    if typ in _EPOCH_SINKS:
        return _write_epoch_sink(df, typ, cfg)
    if not df.isStreaming:
        if typ not in _FORMATS:
            raise PipelineSpecError(f"unknown output type: {typ!r}")
        return _FORMATS[typ](df, cfg)
    if typ not in _STREAM_FORMATS:
        raise PipelineSpecError(f"streaming output type not supported: {typ!r}")
    ckpt, available_now, wait = _stream_options(typ, cfg)
    writer = _STREAM_FORMATS[typ](df, cfg).option("checkpointLocation", ckpt)
    if available_now:
        writer = writer.trigger(availableNow=True)
    writer.start().awaitTermination(wait)
    return None


def _fork(df: DataFrame, branches) -> DataFrame | None:
    """parity: ForkPipeline (examples/configsamples/fork_pipeline.json)
    — one source fanned into N nested sub-pipelines, each with its own
    Processors chain and Output. A batch prefix is cached so each branch
    reads the source once, not N times (the reference hands the same
    message to every fork branch; persisting the prefix is the DataFrame
    equivalent); each streaming branch's output runs with its own
    checkpoint."""
    if not branches:
        raise PipelineSpecError("fork output needs a non-empty 'Outputs' list")
    cache = len(branches) > 1 and not df.isStreaming
    if cache:
        df.persist()
    try:
        results = [
            _write_output(
                _apply_processors(df, b.get("Processors")),
                b.get("Output", {"Type": "return"}),
            )
            for b in branches
        ]
    finally:
        if cache:
            df.unpersist()
    returned = [r for r in results if r is not None]
    if len(returned) > 1:
        # silently handing back just one branch's frame would make the
        # others vanish without a trace — make the spec fix it (write
        # N-1 branches to sinks, or run two pipelines)
        raise PipelineSpecError(
            f"fork has {len(returned)} 'return' branches; at most one "
            "branch may return a DataFrame"
        )
    return returned[0] if returned else None


def run_pipeline(spark: SparkSession, spec: Mapping[str, Any]) -> DataFrame | None:
    """Build and execute: terminal Output writes/inspects the frame.
    Returns the DataFrame for 'return' outputs, else None."""
    df = build_pipeline(spark, spec)
    return _write_output(df, spec.get("Output", {"Type": "return"}))


def main(argv: list[str] | None = None) -> int:
    """CLI entrypoint — parity with the reference's Task binary
    (task.go:119-165): ``python -m pipe_s_spark.plans.runner
    config.json [config2.json ...]``. Each config runs to completion;
    'return' outputs print a preview."""
    import argparse
    import json

    p = argparse.ArgumentParser(description="Run JSON-configured pipelines")
    p.add_argument("configs", nargs="*", help="pipeline spec JSON files")
    p.add_argument("--master", default=None, help="Spark master override")
    p.add_argument(
        "--list",
        action="store_true",
        help="list registered processors / input and output types and exit",
    )
    args = p.parse_args(argv)
    if args.list:
        print("processors:", ", ".join(sorted(_PROCESSORS)))
        print("inputs: parquet, json, csv, orc, json-stream, sql, query")
        print("outputs:", ", ".join(sorted({"return", "fork", *_FORMATS, *_EPOCH_SINKS})))
        print(
            "streaming outputs:",
            ", ".join(sorted({"fork", *_STREAM_FORMATS, *_EPOCH_SINKS})),
        )
        return 0
    if not args.configs:
        p.error("no configs given (or use --list)")

    from pipe_s_spark.session import get_spark

    spark = get_spark(app_name="pipe_s_spark_runner", master=args.master)
    try:
        for path in args.configs:
            with open(path) as f:
                spec = json.load(f)
            if "Task" in spec:
                # a reference-engine config file — translate it
                # (plans.compat), announcing every endpoint stand-in
                from pipe_s_spark.plans.compat import translate_reference_config

                spec, notes = translate_reference_config(spec)
                for n in notes:
                    print(f"[compat] {n}")
            out = run_pipeline(spark, spec)
            if out is not None:
                out.show(20, truncate=False)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
