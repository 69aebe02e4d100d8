"""Amplify sf0.1 into a data-dominated scaling leg (~10x fact tables,
20x documents/embeddings -> >=6M lineitem rows, 100K docs) so the
scaling study measures DATA-driven cost growth instead of fixed
overhead (every r7 alpha was < 1: at 17 MB nothing stresses).

Amplification preserves the workload's STRUCTURE instead of cloning it
pathologically:

- fact/dim keys are offset per replica (rep * 10^8), so FK joins stay
  valid within a replica, join fan-outs stay realistic, and key
  cardinality grows with the data (a naive copy would grow per-key
  group sizes instead — a different, skew-shaped workload);
- document TEXT gets a per-replica token suffix (rep > 0), making
  replica shingle-spaces disjoint: the intra-replica duplicate
  structure repeats at N x scale, exactly "the same corpus, N x
  bigger" — cloning text verbatim would instead manufacture a
  45x-per-group near-dup explosion and measure pathology, not scale
  (that stress case is covered separately by the band-cap tests);
- embeddings are cyclically rotated per replica (norm-preserving,
  decorrelating), so ANN bucket/cell occupancy grows ~uniformly;
- dimensions that queries broadcast (nation, region) stay single-copy.

Writes to $SPARK_GRAFT_X10_DIR (default /tmp/pipe_s_sfx10). Idempotent:
skips tables whose output already exists unless --force.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
OUT = os.environ.get("SPARK_GRAFT_X10_DIR", "/tmp/pipe_s_sfx10")

#: per-replica key offset — far above any sf0.1 key
KEY_OFF = 100_000_000

#: replication factors (documents/embeddings are smaller at sf0.1, so
#: they get 20x to clear the >=100K-doc bar)
FACT_REPS = 10
DOC_REPS = 20

#: long key columns to offset per replica, per table
KEYED = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

COPY_ONLY = ["nation", "region"]


def _replicate(df: DataFrame, reps: int, key_cols: list[str]) -> DataFrame:
    rep = F.broadcast(
        df.sparkSession.range(reps).select(F.col("id").alias("__rep"))
    )
    out = df.crossJoin(rep)
    for k in key_cols:
        out = out.withColumn(k, F.col(k) + F.col("__rep") * F.lit(KEY_OFF))
    return out


def amplify(spark: SparkSession, force: bool = False) -> None:
    os.makedirs(OUT, exist_ok=True)
    for t in COPY_ONLY:
        dst = f"{OUT}/{t}.parquet"
        if force or not os.path.exists(dst):
            shutil.copy(f"{SRC}/{t}.parquet", dst)

    for t, keys in KEYED.items():
        dst = f"{OUT}/{t}.parquet"
        if os.path.exists(dst) and not force:
            continue
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        reps = DOC_REPS if t in ("documents", "embeddings") else FACT_REPS
        out = _replicate(df, reps, keys)
        if t == "documents":
            # disjoint shingle spaces per replica: suffix every token
            # (rep 0 keeps the original corpus verbatim)
            salted = F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.concat(w, F.lit("_r"), F.col("__rep").cast("string")),
                ),
                " ",
            )
            out = out.withColumn(
                "text", F.when(F.col("__rep") == 0, F.col("text")).otherwise(salted)
            ).withColumn("n_chars", F.length("text").cast("long"))
        if t == "embeddings":
            # cyclic rotation by rep positions (mod dim): norm-preserving
            dim = 64
            shift = (F.col("__rep") % dim).cast("int")
            out = out.withColumn(
                "embedding",
                F.when(shift == 0, F.col("embedding")).otherwise(
                    F.concat(
                        F.slice(F.col("embedding"), shift + 1, F.lit(dim) - shift),
                        F.slice(F.col("embedding"), 1, shift),
                    )
                ),
            )
        if t == "events":
            # seq-bearing derivations use event_id; keep ts as-is so
            # event-time windows gain density, not span
            pass
        (
            out.drop("__rep")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(dst)
        )
        n = spark.read.parquet(dst).count()
        print(f"{t}: {n} rows -> {dst}", flush=True)


def main() -> None:
    from pipe_s_spark.session import get_spark

    spark = get_spark(app_name="make_sfx10")
    spark.sparkContext.setLogLevel("ERROR")
    amplify(spark, force="--force" in sys.argv)
    spark.stop()


if __name__ == "__main__":
    main()
