"""Print the formatted physical plan of any registered query — the
plan-iteration loop (`df.explain("formatted")`) as a one-liner.

Usage: python tools/explain_query.py <query_name> [sf_dir] [mode]
  mode: formatted (default) | extended | cost | codegen
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    mode = sys.argv[3] if len(sys.argv) > 3 else "formatted"

    import __spark_entry__ as e
    from pipe_s_spark.session import get_spark

    qs = e.queries()
    if name not in qs:
        import difflib

        close = difflib.get_close_matches(name, qs, n=5)
        print(f"unknown query {name!r}; close: {close}")
        return 1
    spark = get_spark(app_name="explain_query")
    spark.sparkContext.setLogLevel("ERROR")
    qs[name](spark, sf_dir).explain(mode)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
