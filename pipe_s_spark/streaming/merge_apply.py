"""Streaming CDC apply: changelog stream -> compacted upsert into a
target table, resumable from checkpoints.

This is the Spark restatement of the reference's whole runtime
(/root/reference/pkg/task/task.go + pkg/pipeline/simple/disruptor.go +
pkg/output/mysql/batch/*):

- source offsets + restart         -> Structured Streaming checkpoint
  (binloginput.go SetState/GetState)   (offset log, automatic)
- ring-buffer micro-batching,      -> micro-batch trigger
  flush every 3000 rows / 100 ms       (trigger availableNow/processingTime)
- per-PK hash routing for ordered  -> compaction collapses order inside
  apply (batchoutput.go:164-190)      the batch; cross-batch order from
                                      sequential epochs
- changelog compaction + multi-row -> MergeApplyTarget inside foreachBatch:
  upsert (batchmessage.go)            the operators.compaction rule runs in
                                      the merge's one per-key aggregate
- at-least-once + idempotent SQL   -> exactly-once *effects*: epoch
  (utils/mysql.go:197-218)            replays re-run the merge, which is
                                      idempotent (upsert semantics)

The target here is a parquet directory swapped atomically per epoch
(no Delta in this environment); on a cluster the same foreachBatch body
targets Delta MERGE or JDBC upsert unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# compact_changelog stays importable here: the benchmark's tracer
# wraps merge_apply.compact_changelog by name
from pipe_s_spark.operators.compaction import compact_changelog  # noqa: F401
from pipe_s_spark.operators.compaction import net_effect_aggs, net_op
from pipe_s_spark.streaming import commit


#: the merge target's epoch fence and layout contract (dot-prefixed:
#: invisible to Spark's partition discovery)
_FENCE = "._last_epoch"
_LAYOUT = "._layout"

#: Flat changelog schema for JSON file streams (model.changelog_from_events
#: shape). Heterogeneous streams would carry JSON payloads instead.
FLAT_CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("db", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("pk", T.LongType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)


def stream_changelog_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType = FLAT_CHANGELOG_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source change stream (the self-contained stand-in for a
    Kafka/Debezium topic; swap format('kafka') + from_json in prod)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def _cluster_by_bucket(
    df: DataFrame, key_cols: Sequence[str], num_buckets: int, size_of: DataFrame
) -> DataFrame:
    """Repartition ``df`` (carrying its ``bucket`` column) so every task
    holds whole (bucket, ``__salt``) slices; callers drop ``__salt``.
    The ``partitionBy("bucket")`` writer then emits one file per bucket
    and salt, not one per bucket each task happens to see (n_tasks x
    num_buckets small files that the next epoch scans and rewrites; an
    x10 bulk A/B measured 8-16 s and 2274 files vs 2-3.2 s and 130).
    Below bulk size there is one salt and the session's partition
    count. A bulk ``size_of`` sizes the shuffle from its estimated bytes
    and spreads each bucket over ``n // num_buckets`` salts; the salt is
    xxhash64-based so it is independent of the murmur3 bucket
    (``hash(keys) % s`` is a function of ``hash(keys) % N`` whenever s
    divides N). All rows of a key share a slice, so per-key work after
    this exchange needs no second shuffle."""
    from pipe_s_spark.sizing import bulk_partitions, session_shuffle_partitions

    par = session_shuffle_partitions(df.sparkSession)
    n = bulk_partitions(size_of)
    bulk = n is not None and n > par
    if not bulk:
        n = par
    salts = max(1, n // num_buckets) if bulk else 1
    return df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(salts))
    ).repartition(n, F.col("bucket"), F.col("__salt"))


class MergeApplyTarget:
    """Key-hash-bucketed parquet upsert target: the Delta-MERGE-shaped
    alternative when no transactional table format is available.

    Layout: ``<path>/bucket=K/`` with ``K = pmod(hash(key_cols), N)``.
    Per epoch only buckets containing touched keys are read, merged and
    swapped — untouched bucket directories are not rewritten (at 100 TB
    a micro-batch touches a small key set, so the rewrite is
    O(touched-buckets), not O(table)). An epoch is 3 Spark jobs: one
    shuffle-free pass over the raw batch finds the touched buckets
    (``touched_buckets``), then one clustered write merges the raw
    events into those buckets' stored rows, compaction included
    (``_merge``). Every epoch writes one file per touched bucket (per
    salt when bulk, ``_cluster_by_bucket``), and reads reuse the schema
    this instance last committed instead of inferring it from a parquet
    footer each epoch. On a cluster the same foreachBatch body targets
    Delta MERGE or JDBC upsert unchanged.

    One logical stream (checkpoint) owns a target: epoch ids must be
    monotonic across restarts, which Structured Streaming guarantees
    per checkpoint — the epoch fence relies on it.

    Commit protocol (the poor man's transaction log):

    - the expensive merge WRITE goes to a ``.stage-<epoch>-<id>``
      sibling, one per attempt, outside any lock;
    - [fence check -> layout check -> ``commit.commit``] runs under the
      target's ``commit.lock``, so a zombie writer — e.g. a
      foreachBatch callback orphaned by a killed query thread —
      re-reads the fence atomically with the swap and aborts instead of
      clobbering state a newer incarnation already advanced past (the
      role a transactional format's writer-epoch check plays);
    - the swap installs every touched bucket and writes the fence in
      one journaled commit, which recovery rolls forward after a kill,
      so readers see the whole epoch or none of it. Replayed epochs
      (<= fence) are skipped outright: idempotence by fencing, matching
      the reference's idempotent-SQL story (utils/mysql.go:197-218).

    Known limit without a transactional format: a reader holding a
    lazy plan over files that a concurrent swap trashes can fail and
    needs a retry; Delta/Iceberg versioned files are the real fix on a
    cluster (the foreachBatch body is sink-agnostic for that swap).

    Ordering: with ``lww=False`` (default) epochs are applied blindly
    (batch-last-state wins), which requires the source to deliver
    per-key-ordered data across epochs — true for binlog segments and
    for Kafka with key-hash partitioning (the reference's own
    assumption, batchoutput.go:164-190). With ``lww=True`` the target
    stores the last applied sequence number and a tombstone flag per
    key and merges by highest-seq-wins, making application
    ORDER-INDEPENDENT: a micro-batch of older events replayed or
    delivered late can never clobber newer state, and deletes are
    remembered so a late pre-delete update cannot resurrect the row
    (tombstones are retained; production would TTL-compact them the
    way Kafka compacted topics / Cassandra do).
    """

    #: internal LWW columns stored alongside payloads
    _SEQ = "__seq"
    _TOMB = "__tomb"

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str] = ("table_name", "pk"),
        payload_cols: Sequence[str] = ("k", "value"),
        seq_col: str = "seq",
        op_col: str = "op",
        num_buckets: int = 16,
        lww: bool = False,
    ):
        self.path = path
        self.key_cols = list(key_cols)
        self.payload_cols = list(payload_cols)
        self.seq_col = seq_col
        self.op_col = op_col
        self.num_buckets = num_buckets
        self.lww = lww
        #: column-name -> DataType for the empty-target schema; seeded
        #: from FLAT_CHANGELOG_SCHEMA and widened with the incoming
        #: batch's actual types on every apply, so CUSTOM / COMPOSITE
        #: key and payload columns (the reference allows any PK <= 5
        #: cols, batchoutput.go:23) resolve before the first merge
        self._col_types: dict[str, T.DataType] = {
            f.name: f.dataType for f in FLAT_CHANGELOG_SCHEMA.fields
        }
        #: (fence epoch, stored data schema) this instance last committed
        #: or inferred. Valid only while the fence still holds that
        #: epoch: another writer's commit may have widened the types.
        self._schema: tuple[int, T.StructType] | None = None

    def _bucket(self):
        return F.pmod(F.hash(*[F.col(c) for c in self.key_cols]), F.lit(self.num_buckets))

    def _check_layout_locked(self) -> None:
        """Enforce the target's immutable layout contract (caller holds
        the lock). Bucket routing is ``pmod(hash(key_cols), num_buckets)``
        — if a later incarnation opens the same directory with a
        different bucket count, key order, or LWW mode, every merge
        reads the WRONG subset of buckets: a key that hashed to bucket
        3 under N=16 lands in bucket 7 under N=32 while its old row
        survives untouched in 3 — silent duplicates, the exact failure
        class the epoch fence exists to kill. The first writer records
        the layout in ``._layout`` (dot-prefixed: invisible to Spark's
        partition discovery, like the fence); every later open
        verifies it and refuses a mismatch loudly. Pre-r13 targets
        without the file adopt the opening instance's layout (the
        status quo behavior, now recorded going forward)."""
        meta = {
            "num_buckets": self.num_buckets,
            "key_cols": self.key_cols,
            "lww": self.lww,
        }
        p = os.path.join(self.path, _LAYOUT)
        try:
            with open(p) as f:
                disk = json.load(f)
        except FileNotFoundError:
            commit.write_atomic(p, json.dumps(meta))
            return
        if disk != meta:
            raise ValueError(
                f"merge target {self.path} was created with layout {disk}; "
                f"this instance was configured with {meta}. Bucket routing "
                "is derived from (key_cols, num_buckets) and stored rows "
                "from lww — changing any of them on an existing target "
                "silently duplicates or hides rows. Open the target with "
                "its original layout, or write to a new path."
            )

    def _read_fence(self) -> int:
        try:
            with open(os.path.join(self.path, _FENCE)) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def read_current(
        self,
        spark: SparkSession,
        buckets: Sequence[int] | None = None,
        internal: bool = False,
    ) -> DataFrame:
        """Current target state. ``internal=True`` (LWW mode only)
        exposes the stored seq/tombstone columns and tombstone rows —
        the merge's view; the public view hides both."""
        # the lock runs recovery first, so a crashed rebucket's
        # roll-forward has rewritten ._layout before the check reads it
        with commit.lock(self.path):
            self._check_layout_locked()
            fence = self._read_fence()
        cols = self.key_cols + self.payload_cols
        if self.lww and internal:
            cols = cols + [self._SEQ, self._TOMB]
        files = glob.glob(os.path.join(self.path, "bucket=*", "*.parquet"))
        if not files:
            # the LWW-internal seq/tomb columns are target-managed, not
            # batch columns — they get fixed types below, never lookup
            user_cols = [c for c in cols if c not in (self._SEQ, self._TOMB)]
            missing = [c for c in user_cols if c not in self._col_types]
            if missing:
                raise ValueError(
                    f"no type known for column(s) {missing}: pass the first "
                    "batch through apply_batch (which records its schema) or "
                    "use columns from the canonical changelog schema"
                )
            fields = [T.StructField(c, self._col_types[c]) for c in user_cols]
            if self.lww and internal:
                fields += [
                    T.StructField(self._SEQ, T.LongType()),
                    T.StructField(self._TOMB, T.BooleanType()),
                ]
            return spark.createDataFrame([], T.StructType(fields))
        if self._schema is None or self._schema[0] != fence:
            # infer once, from the newest file: each merge unions stored
            # rows with the batch, so it carries the widest types (Spark
            # infers from the first file by path, maybe an older, narrower one)
            newest = max(files, key=os.path.getmtime)
            self._schema = (fence, spark.read.parquet(newest).schema)
        df = (
            spark.read.schema(self._schema[1])
            .option("basePath", self.path)
            .parquet(self.path)
        )
        if buckets is not None:
            # partition pruning: only the touched bucket dirs are scanned
            df = df.filter(F.col("bucket").isin(list(buckets)))
        if self.lww and not internal:
            df = df.filter(~F.col(self._TOMB))
        return df.select(*cols)

    def touched_buckets(self, batch: DataFrame) -> list[int]:
        """The buckets ``batch``'s keys route to, from one shuffle-free
        job: a ``noop`` write observing ``collect_set(bucket)``, bounded
        driver-side metadata (<= num_buckets)."""
        obs = Observation()
        batch.select(self._bucket().alias("b")).observe(
            obs, F.collect_set("b").alias("b")
        ).write.format("noop").mode("overwrite").save()
        return sorted(obs.get["b"])

    def _merge(self, base: DataFrame, events: DataFrame, size_of: DataFrame) -> DataFrame:
        """Stored rows of the touched buckets unioned with the batch's
        raw events, clustered by bucket, then ONE aggregate per key
        inside each write task: the clustering is the epoch's only
        shuffle, and the compaction rule (``net_effect_aggs``) runs in
        that aggregate next to the stored row. A key with no events, or
        whose events annihilate, keeps its stored row. Otherwise blind
        mode applies the net effect (a delete removes the key); LWW
        keeps the larger seq (ties -> incoming, so an exact replay is
        idempotent) and stores a delete as a tombstone."""
        keys, pays, op, seq = self.key_cols, self.payload_cols, self.op_col, self.seq_col
        stored = pays + ([self._SEQ, self._TOMB] if self.lww else [])
        # stored rows carry __cur = 1 and NULL op/seq; events the reverse,
        # so each side's aggregates skip the other side's rows
        union = base.select(*keys, *stored, F.lit(1).alias("__cur")).unionByName(
            events.select(*keys, *pays, op, seq), allowMissingColumns=True
        )
        clustered = _cluster_by_bucket(
            union.withColumn("bucket", self._bucket()), keys, self.num_buckets, size_of
        )
        g = clustered.groupBy("bucket", "__salt", *keys).agg(
            *net_effect_aggs(F.col(op), F.col(seq), pays),
            *[F.max_by(c, "__cur").alias(f"__cur{c}") for c in stored],
            (F.count(F.lit(1)) > F.count("__cur")).alias("__has_ev"),
            (F.count("__cur") > 0).alias("__has_cur"),
        )
        net = net_op()
        inc = F.col("__has_ev") & net.isNotNull()
        if self.lww:
            cur_seq = F.col(f"__cur{self._SEQ}")
            inc = inc & F.coalesce(F.col("last_seq") >= cur_seq, cur_seq.isNull())
        out = {c: F.col(c) for c in pays}
        out.update({self._SEQ: F.col("last_seq"), self._TOMB: net == "delete"})
        keep = F.when(inc, F.lit(self.lww) | (net != "delete")).otherwise(F.col("__has_cur"))
        return g.filter(keep).select(
            *keys,
            *[F.when(inc, out[c]).otherwise(F.col(f"__cur{c}")).alias(c) for c in stored],
            "bucket",
        )

    def apply_batch(self, batch: DataFrame, epoch_id: int) -> bool:
        # Epoch fence (zombie-writer protection): the fence records the
        # last fully-applied epoch. A replayed epoch (crash after swap,
        # before the stream commit) is a no-op — idempotence by skip —
        # and a zombie writer from a dead query (e.g. a stop() that
        # killed the JVM thread mid-callback) cannot clobber state a
        # newer incarnation has already advanced past. Same role as a
        # transactional table format's writer-epoch check.
        # Returns True when the epoch was applied (or was empty), False
        # when the fence skipped/aborted it — batch callers (runner
        # 'merge' output) surface the skip to the user instead of
        # silently no-opping on re-run with fresh input.
        with commit.lock(self.path):
            self._check_layout_locked()
        if epoch_id <= self._read_fence():
            return False
        spark = batch.sparkSession
        for f in batch.schema.fields:
            self._col_types[f.name] = f.dataType
        if "net_op" in batch.columns and self.op_col not in batch.columns:
            # already compacted upstream (a pipeline 'compact' stage or
            # a caller reusing one compaction across sinks): each net
            # effect is one event, whose net effect is itself
            net = [F.col("net_op").alias(self.op_col), F.col("last_seq").alias(self.seq_col)]
            batch = batch.select(*self.key_cols, *self.payload_cols, *net)
        touched = self.touched_buckets(batch)
        if not touched:
            return True
        # sized from THIS batch's estimated bytes, so streaming
        # micro-batches never engage bulk sizing
        merged = self._merge(
            self.read_current(spark, buckets=touched, internal=True), batch, size_of=batch
        )
        schema = merged.drop("bucket").schema
        # stage dir is unique PER ATTEMPT, not per epoch: a zombie
        # writer and a live replay of the same epoch would otherwise
        # overwrite one stage dir concurrently and the lock winner
        # could swap in the mixed/partial result (observed as lost
        # rows in the kill-restart integrity test)
        stage = f"{self.path}.stage-{epoch_id}-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").partitionBy("bucket").parquet(stage)
        with commit.lock(self.path):
            if epoch_id <= self._read_fence():
                # a newer incarnation advanced while we computed
                # (or a concurrent replay of this epoch won): abort
                shutil.rmtree(stage, ignore_errors=True)
                return False
            # a concurrent offline rebucket may have committed while
            # this epoch computed: its new ._layout makes this
            # writer's bucket numbering wrong — refuse loudly here,
            # atomically with the swap, instead of renaming staged
            # old-numbered buckets into a new-numbered table
            self._check_layout_locked()
            # a fully deleted bucket installs as an empty directory
            commit.commit(
                self.path,
                stage,
                install=[f"bucket={k}" for k in touched],
                files={_FENCE: str(epoch_id)},
            )
            self._schema = (epoch_id, schema)
        return True


def rebucket_target(spark: SparkSession, path: str, new_num_buckets: int) -> None:
    """Offline rebucket/migration for an existing merge target (r13
    verdict #5): ``._layout`` correctly freezes ``num_buckets`` forever
    — bucket routing is ``pmod(hash(key_cols), N)``, so changing N on
    live data silently duplicates/hides rows — but that left a target
    created with too few buckets unable to EVER rebalance. This tool
    rewrites the whole table under ``new_num_buckets`` atomically,
    under the same lock every writer's swap takes:

    1. read everything (internal LWW columns verbatim) and stage the
       re-bucketed copy to a sibling dir — data-proportionally sized,
       before any mutation (a kill here leaves only the orphan stage);
    2. one journaled ``commit.commit``: old buckets out, staged buckets
       in, the new ``._layout`` written. The stage is complete before
       the journal, so a kill anywhere after it rolls FORWARD.

    Concurrent writers are safe, not coordinated: the tool holds the
    lock for the whole rewrite (offline by design — at 100 TB run it
    in a maintenance window), and a writer that was mid-compute when
    the rebucket committed re-checks ``._layout`` inside its swap lock
    and refuses loudly. The epoch fence is untouched — the stream
    resumes at the same epoch numbering.
    """
    if not os.path.exists(os.path.join(path, _LAYOUT)):
        raise ValueError(
            f"{path} has no ._layout — not an initialized merge target "
            "(rebucket rewrites an existing table; create new targets "
            "with the right num_buckets instead)"
        )
    if int(new_num_buckets) < 1:
        raise ValueError(f"new_num_buckets must be >= 1, got {new_num_buckets}")
    with commit.lock(path):
        with open(os.path.join(path, _LAYOUT)) as f:
            disk = json.load(f)
        if disk["num_buckets"] == int(new_num_buckets):
            return
        live_buckets = [e for e in os.listdir(path) if e.startswith("bucket=")]
        stage = f"{path}.rebucket-stage-{uuid.uuid4().hex[:8]}"
        if live_buckets:
            # reduce parallelism is data-proportional: a 100 TB
            # rebucket must not funnel through core-count reducers
            df = (
                spark.read.option("basePath", path)
                .parquet(*[os.path.join(path, b) for b in live_buckets])
                .drop("bucket")
            )
            df = df.withColumn(
                "bucket",
                F.pmod(
                    F.hash(*[F.col(c) for c in disk["key_cols"]]),
                    F.lit(int(new_num_buckets)),
                ),
            )
            df = _cluster_by_bucket(df, disk["key_cols"], int(new_num_buckets), size_of=df)
            df.drop("__salt").write.mode("overwrite").partitionBy("bucket").parquet(stage)
        staged = [e for e in os.listdir(stage) if e.startswith("bucket=")] if live_buckets else []
        commit.commit(
            path,
            stage,
            install=staged,
            remove=live_buckets,
            files={_LAYOUT: json.dumps(dict(disk, num_buckets=int(new_num_buckets)))},
        )


def run_merge_apply_stream(
    changes: DataFrame,
    target: MergeApplyTarget,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the apply query. With ``available_now`` the query drains
    the backlog and stops (bounded job, like the reference's scan mode,
    scaninput.go done-flag); otherwise it runs continuously."""
    writer = (
        changes.writeStream.foreachBatch(target.apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
