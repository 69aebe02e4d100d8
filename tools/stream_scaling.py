"""Streaming-leg scaling: run tools/stream_bench.py at x1 (2M
changelog rows, sf0.1 corpus) and x10 (20M rows, the amplified x10
corpus of tools/make_sfx10.py) and record per-leg alphas to
STREAM_SCALING.json — the same data-growth evidence the query families
have in SCALING.md (tools/bench_scaling.py renders the section from
this artifact). The three CDC legs (resolve / compact / merge) scale
with the changelog rows; the three index-ingest legs (ivf_ingest,
ivfpq_ingest, dedup_index_ingest) scale with the corpus (20x
documents/embeddings), and are recorded only when the x10 corpus
exists.

alpha = log10(t_x10 / t_x1): ~1 linear in data size, < 1 overhead
headroom, > 1 superlinear (the red flag).

Each scale runs in its OWN subprocess/SparkSession so the x10 run
doesn't time the x1 run's accumulated JVM/page-cache state.

Usage: python tools/stream_scaling.py [x1_rows] [x10_rows]
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(rows: int, corpus: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_STREAMBENCH_ROWS=str(rows))
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "stream_bench.py"), corpus],
        capture_output=True,
        text=True,
        env=env,
    )
    if proc.returncode != 0:
        # check=True would swallow the leg's stderr, making a crashed
        # leg undiagnosable from the raised CalledProcessError alone
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"stream_bench.py({rows} rows, {corpus}) exited {proc.returncode}")
    last = [ln for ln in proc.stdout.splitlines() if ln.strip().startswith("{")][-1]
    return json.loads(last)


def _alpha(t1: float, t10: float, factor: float) -> float | None:
    """log-ratio growth exponent; None when either 2-decimal-rounded
    leg time is 0 (the ratio is meaningless, not infinite work) or
    when both scales ran the same row count (factor 1: no growth to
    measure against)."""
    if t1 <= 0 or t10 <= 0 or factor == 1:
        return None
    return round(math.log(t10 / t1) / math.log(factor), 3)


def _scaled(x1: dict, x10: dict, leg: str) -> dict:
    a, b = x1["legs"][leg], x10["legs"][leg]
    factor = b["rows"] / max(1, a["rows"])
    return {
        "x1_sec": a["sec"],
        "x10_sec": b["sec"],
        "x1_rows": a["rows"],
        "x10_rows": b["rows"],
        "factor": round(factor, 2),
        "x1_rows_per_sec": a["rows_per_sec"],
        "x10_rows_per_sec": b["rows_per_sec"],
        "alpha_x10": _alpha(a["sec"], b["sec"], factor),
    }


def main() -> None:
    x1_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    x10_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 10 * x1_rows
    # the index legs' x1 corpus is the one make_sfx10 amplifies into x10
    from make_sfx10 import OUT as x10_dir
    from make_sfx10 import SRC as x1_dir

    have_x10 = os.path.isdir(x10_dir)
    if not have_x10:
        sys.stderr.write(
            f"[stream_scaling] {x10_dir} missing — index ingest legs not "
            "recorded (python tools/make_sfx10.py)\n"
        )
    x1 = _run(x1_rows, x1_dir)
    x10 = _run(x10_rows, x10_dir if have_x10 else x1_dir)
    out = {
        "x1_rows": x1["rows"],
        "x10_rows": x10["rows"],
        "factor": round(x10["rows"] / max(1, x1["rows"]), 2),
        "legs": {leg: _scaled(x1, x10, leg) for leg in ("resolve", "compact", "merge")},
    }
    if have_x10:
        out["index_legs"] = {
            leg: _scaled(x1, x10, leg)
            for leg in ("ivf_ingest", "ivfpq_ingest", "dedup_index_ingest")
        }

    with open(os.path.join(ROOT, "STREAM_SCALING.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps({"metric": "stream_scaling", **out}))


if __name__ == "__main__":
    main()
