"""The committed full-surface correctness artifact must track the live
query registry: the r7 verdict's core ask was converting claimed-green
into AUDITABLE-green for the whole surface, which only holds if the
artifact is regenerated whenever the surface changes. Adding a query
without re-running `python tools/local_correctness.py` fails here —
deliberate friction."""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACT = os.path.join(ROOT, "CORRECTNESS_LOCAL.json")


def test_correctness_artifact_matches_registry():
    with open(ARTIFACT) as f:
        data = json.load(f)
    meta = data.pop("_meta")
    from pipe_s_spark.registry import all_queries

    registry = set(all_queries())
    artifact = set(data)
    missing = registry - artifact
    stale = artifact - registry
    assert not missing, (
        f"queries with no artifact row (re-run tools/local_correctness.py): {sorted(missing)}"
    )
    assert not stale, f"artifact rows for unregistered queries: {sorted(stale)}"
    assert meta["bad"] == 0, f"committed artifact records failures: {meta}"
    assert meta["queries"] == len(registry)


def test_correctness_artifact_rows_are_green():
    with open(ARTIFACT) as f:
        data = json.load(f)
    data.pop("_meta")
    bad = {
        name
        for name, row in data.items()
        if not (row["rows_match"] and row["schema_match"] and row["hash_match"])
    }
    assert not bad, f"non-green artifact rows: {sorted(bad)}"
