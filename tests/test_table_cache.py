"""load_table's session-scoped DataFrame-HANDLE cache (r16).

The cache must (a) return the same immutable handle for repeated loads
of an unchanged file in one session — skipping the per-call parquet
schema-inference job, (b) take a fresh read when the underlying file
changes (fixture rewrites, regenerated testdata), and (c) never change
what a query computes — the handle is an unresolved plan; every action
still scans the parquet input.
"""

from __future__ import annotations

import os
import shutil

from pipe_s_spark.sources import load_table
from pipe_s_spark.sources import readers as R

from tests.conftest import SF_SMOKE


def test_same_handle_and_rows(spark):
    R._TABLE_CACHE.clear()
    a = load_table(spark, SF_SMOKE, "nation")
    b = load_table(spark, SF_SMOKE, "nation")
    assert a is b, "unchanged file in one session must reuse the handle"
    assert a.count() == b.count() > 0


def test_rewritten_file_takes_fresh_read(spark, tmp_path):
    src = os.path.join(SF_SMOKE, "nation.parquet")
    dst_dir = str(tmp_path)
    dst = os.path.join(dst_dir, "nation.parquet")
    shutil.copy(src, dst)
    a = load_table(spark, dst_dir, "nation")
    n_a = a.count()
    # rewrite the file with a strict subset of rows (schema unchanged,
    # mtime/size differ) — a stale handle would still read 25 rows
    sub = a.limit(3).toPandas()
    os.remove(dst)
    spark.createDataFrame(sub).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(dst_dir, "_tmp_nation")
    )
    part = next(
        f
        for f in os.listdir(os.path.join(dst_dir, "_tmp_nation"))
        if f.endswith(".parquet")
    )
    shutil.copy(os.path.join(dst_dir, "_tmp_nation", part), dst)
    b = load_table(spark, dst_dir, "nation")
    assert b is not a
    assert b.count() == 3 != n_a


def test_events_ts_normalization_survives_cache(spark):
    R._TABLE_CACHE.clear()
    a = load_table(spark, SF_SMOKE, "events")
    b = load_table(spark, SF_SMOKE, "events")
    assert a is b
    assert dict(a.dtypes)["ts"].startswith("timestamp")
