"""Offline rebucket CLI for merge targets (r13 verdict #5).

A merge target's ``._layout`` freezes its bucket count forever — the
correct default, since bucket routing is ``pmod(hash(key_cols), N)``
and a silent change would duplicate/hide rows. When a target was
created with too few buckets for its eventual size, run THIS in a
maintenance window to migrate it:

    python tools/rebucket.py <target_path> <new_num_buckets>

The rewrite holds the target's writer lock for its whole duration,
commits in one journaled swap (a kill before the journal leaves the old
table, a kill after it rolls forward — see
pipe_s_spark.streaming.merge_apply.rebucket_target), sizes its own
reduce parallelism from the table's bytes, and leaves the epoch fence
untouched so the owning stream resumes where it left off. Concurrent
writers that were mid-compute refuse loudly at their swap instead of
corrupting the new layout.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) != 3:
        sys.stderr.write(__doc__ + "\n")
        raise SystemExit(2)
    path, new_n = sys.argv[1], int(sys.argv[2])

    from pipe_s_spark.session import get_spark
    from pipe_s_spark.streaming import commit
    from pipe_s_spark.streaming.merge_apply import rebucket_target

    spark = get_spark(app_name="rebucket")
    spark.sparkContext.setLogLevel("ERROR")
    rebucket_target(spark, path, new_n)
    layout = commit.read_json(os.path.join(path, "._layout"))
    print(json.dumps({"rebucketed": path, "layout": layout}))


if __name__ == "__main__":
    main()
