"""The one epoch-partition log under every append sink (the dedup and
IVF indexes and their side tables, the delta CDC target): a directory
of ``batch_id=N`` hive partitions, one per micro-batch epoch. Only
this module knows that layout.

``append`` writes one epoch by dynamic partition overwrite, so a
replay rewrites its own partition and no other; ``install`` is its
driver-side twin for a pyarrow table. ``read`` takes the widest type
per column from one footer per partition, so an epoch that widened a
column never makes the log unreadable. ``compact_index_partitions``
and ``truncate`` are each one journaled ``commit.commit`` under the
log's lock. ``run_stream`` is the library's one ``foreachBatch``
epoch loop: every streaming sink starts through it, with its logs
folded on the ``due`` cadence.

An epoch that writes several logs from one batch runs its writes
through ``checkpointed`` (the batch materialized once, its blocks
freed on exit) and ``concurrently`` (each write in its own thread,
every failure raised). Only this module starts threads or takes local
checkpoints for a sink.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipe_s_spark.streaming import commit

#: DEFAULT-ON compaction cadence of every index sink (else one partition
#: per epoch, forever): at 64 folds cost <2% of epochs and the partition
#: count stays below ~2x the cadence; ``compact_every=None`` opts out.
DEFAULT_COMPACT_EVERY = 64

_KEY = "batch_id"
_PREFIX = "batch_id="
#: the footer key under which Spark stores the schema it wrote
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"
#: the type families a parquet reader widens within, narrowest first
_FAMILIES = (
    (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()),
    (T.FloatType(), T.DoubleType()),
)


def due(epoch: int, every: int | None) -> bool:
    """True on every ``every``-th epoch after epoch 0 (None opts out).
    Safe inside foreachBatch with ``watermark = epoch``: epochs run in
    order, so every earlier epoch is committed and never replays, and
    this epoch's own partition lies above the fold."""
    return bool(every) and epoch > 0 and epoch % every == 0


def epochs(path: str) -> list[int]:
    """The log's epoch ids, ascending; [] for a missing log. Any other
    listing error propagates, so an epoch retries instead of reading
    "no earlier epochs"."""
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return []
    ids = (e[len(_PREFIX):] for e in entries if e.startswith(_PREFIX))
    return sorted(int(i) for i in ids if i.isdigit())


def partitions(path: str, before: int | None = None) -> list[str]:
    """The directories of the epochs below ``before`` (all without it),
    for driver-side readers."""
    return [
        os.path.join(path, f"{_PREFIX}{e}")
        for e in epochs(path)
        if before is None or e < before
    ]


def read(
    spark: SparkSession, path: str, before: int | None = None
) -> DataFrame | None:
    """The rows of the epochs below ``before`` (all without it), with
    their ``batch_id``, or None when no such epoch holds a file. The
    schema is the widest type per column over one footer per partition
    (one write each), all nullable as a file-source read makes it; a
    change nothing widens raises ValueError. Spark lists the root once
    and prunes by ``batch_id`` (a path per partition costs a listing
    job past 32)."""
    cols: dict[str, T.DataType] = {}
    for part in partitions(path, before):
        for f in _footer(part).fields:
            t = _nullable(f.dataType)
            cols[f.name] = _wider(f.name, cols.get(f.name, t), t)
    if not cols:
        return None
    schema = T.StructType([T.StructField(n, t) for n, t in cols.items()])
    df = spark.read.schema(schema.add(_KEY, T.LongType())).parquet(path)
    return df if before is None else df.filter(F.col(_KEY) < before)


def _footer(part: str) -> T.StructType:
    """The schema of one data file in ``part`` (empty for an empty
    partition): Spark's own record of it when Spark wrote the file,
    else the arrow schema."""
    import pyarrow.parquet as papq  # lazy: only the sinks load pyarrow
    from pyspark.sql.pandas.types import from_arrow_schema

    files = sorted(f for f in os.listdir(part) if not f.startswith(("_", ".")))
    if not files:
        return T.StructType()
    schema = papq.read_schema(os.path.join(part, files[0]))
    spark_json = (schema.metadata or {}).get(_SPARK_SCHEMA)
    if spark_json:
        return T.StructType.fromJson(json.loads(spark_json))
    return from_arrow_schema(schema)


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every nested field, element and value nullable: what a
    writer recorded there (``F.split`` arrays are non-null) is no type."""
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType)) for f in t.fields])
    return t


def _wider(name: str, a: T.DataType, b: T.DataType) -> T.DataType:
    if a == b:
        return a
    for family in _FAMILIES:
        if a in family and b in family:
            return max(a, b, key=family.index)
    raise ValueError(
        f"epoch log column {name!r} changed type across epochs "
        f"({a.simpleString()} vs {b.simpleString()}) and neither widens to "
        "the other; write later epochs with a compatible type or start a new path"
    )


def append(path: str, df: DataFrame, epoch: int) -> None:
    """Write ``df`` as the whole partition of ``epoch``. Idempotent: a
    replay replaces that partition and no other."""
    (
        df.withColumn(_KEY, F.lit(epoch).cast("long"))
        .write.mode("overwrite")
        .partitionBy(_KEY)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def install(path: str, epoch: int, table) -> None:
    """Driver-side ``append`` of a pyarrow ``table`` (a few rows a Spark
    write would spend a job on): staged under the log's lock in the
    ``commit.locked_stage``, then swapped in by one journaled commit."""
    import pyarrow.parquet as papq

    name = f"{_PREFIX}{epoch}"
    with commit.lock(path):
        stage = commit.locked_stage(path)
        os.makedirs(os.path.join(stage, name))
        papq.write_table(table, os.path.join(stage, name, "part-00000.parquet"))
        commit.commit(path, stage, install=[name])


def compact_index_partitions(
    spark: SparkSession, path: str, watermark: int, dedupe: bool = True
) -> int:
    """Fold every ``batch_id < watermark`` partition into the single
    partition ``batch_id = watermark - 1`` and return how many were
    folded away. ``dedupe=False`` keeps rows that legitimately repeat
    (append ledgers); ``dedupe`` also shrinks crash-leftover duplicates.

    Structured Streaming replays only the LAST uncommitted epoch, so
    with ``watermark`` <= the current epoch id a replay of epoch N >=
    watermark still reads exactly the rows below N it read before the
    fold, and its own overwrite touches only partition N. The fold is
    one journaled commit under the log's lock: a kill leaves the old
    layout or the folded one."""
    target = watermark - 1
    stage = f"{path}.compact-stage"
    with commit.lock(path):
        old = [e for e in epochs(path) if e < target]
        if not old:
            return 0
        folded = read(spark, path, before=watermark)
        if folded is not None:
            folded = folded.drop(_KEY)
            append(stage, folded.distinct() if dedupe else folded, target)
        # an all-empty fold installs an empty partition
        commit.commit(
            path,
            stage,
            install=[f"{_PREFIX}{target}"],
            remove=[f"{_PREFIX}{e}" for e in old],
        )
        return len(old)


def truncate(path: str, through: int) -> None:
    """Drop every epoch ``<= through`` in one journaled commit under
    the log's lock: space reclamation for a caller whose readers
    already ignore those epochs."""
    with commit.lock(path):
        gone = [f"{_PREFIX}{e}" for e in epochs(path) if e <= through]
        if gone:
            commit.commit(path, f"{path}.compact-stage", remove=gone)


@contextmanager
def checkpointed(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` materialized once by an eager local checkpoint, for an
    epoch whose concurrent actions all read it. Each action then plans
    from a truncated lineage instead of re-planning the whole batch
    plan and racing the others' block-level cache locks: measured
    ~10-15% of a whole IVF epoch against ``persist()``, whose eager
    form recovered none of it. The blocks are freed on exit rather
    than at the next driver GC (``unpersist`` misses them: a local
    checkpoint's blocks are its data). Freeing is best-effort; on a
    reflection mismatch the ContextCleaner reclaims them once the
    frame is garbage-collected."""
    local = df.localCheckpoint(eager=True)
    try:
        yield local
    finally:
        try:
            local._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except (AttributeError, Py4JError):  # the ContextCleaner fallback
            pass


def concurrently(*actions: Callable[[], object]) -> None:
    """Run an epoch's zero-argument ``actions`` at once, each in an
    ``InheritableThread`` so the caller's job group and description
    reach every job, and raise every failure. The epoch's long pole
    then hides the others' per-job fixed cost. Safe under replay when
    each action rewrites only its own epoch's partition: a failed
    epoch re-runs whole, in any order."""
    errs: list[BaseException] = []

    def run(action: Callable[[], object]) -> None:
        try:
            action()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errs.append(e)

    threads = [InheritableThread(target=run, args=(a,)) for a in actions]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        _raise_all(errs)


def _raise_all(errs: list[BaseException]) -> None:
    """Re-raise concurrent epoch-action failures without dropping any:
    one re-raises as itself, several as one ``BaseExceptionGroup``
    carrying every traceback. Python 3.10 (the ``requires-python``
    floor) lacks that builtin, so there the first failure is raised
    with the others' tracebacks attached as ``__notes__``."""
    if len(errs) == 1:
        raise errs[0]
    if sys.version_info >= (3, 11):
        raise BaseExceptionGroup(f"{len(errs)} concurrent epoch actions failed", errs)
    import traceback

    first = errs[0]
    first.__notes__ = getattr(first, "__notes__", []) + [
        f"+{len(errs) - 1} other concurrent epoch failure(s):\n"
        + "\n".join(
            "".join(traceback.format_exception(type(e), e, e.__traceback__))
            for e in errs[1:]
        )
    ]
    raise first


def run_stream(
    stream: DataFrame,
    body: Callable[[DataFrame, int], object],
    checkpoint: str,
    logs: Sequence[tuple[str, bool]] = (),
    compact_every: int | None = None,
    available_now: bool = True,
    await_seconds: int | None = None,
):
    """Start ``stream`` as an epoch loop and return its query. The
    directory of each ``(path, dedupe)`` in ``logs`` exists once it
    starts. Each micro-batch runs ``body(batch, epoch)``, then, when
    ``due(epoch, compact_every)``, folds each log below the epoch
    (``compact_index_partitions``). ``available_now`` drains
    the backlog and stops, else the query runs until stopped;
    ``await_seconds`` bounds an optional wait. The output mode is
    update, which Spark runs as append for these non-aggregating
    streams."""
    for path, _dedupe in logs:
        os.makedirs(path, exist_ok=True)

    def epoch(batch: DataFrame, epoch_id: int) -> None:
        body(batch, epoch_id)
        if due(epoch_id, compact_every):
            for path, dedupe in logs:
                compact_index_partitions(
                    batch.sparkSession, path, watermark=epoch_id, dedupe=dedupe
                )

    writer = (
        stream.writeStream.foreachBatch(epoch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if await_seconds is not None:
        q.awaitTermination(await_seconds)
    return q
