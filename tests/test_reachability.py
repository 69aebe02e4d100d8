"""Every public library def is reached from outside the test suite.

A top-level public function or class in ``pipe_s_spark/`` counts as
reached when its name appears as a ``Name``, an ``Attribute`` or an
import alias in another part of the library (outside the def's own
body, and not in an ``__init__`` re-export), in ``tools/*.py``,
``bench.py``, ``__spark_entry__.py`` or ``perfbench/``, or as a
word in a string of an ``examples/*.json`` config. Whatever is left
is reached by tests alone, and must be on ``ALLOWED`` with a reason.
The scan is by bare name, so a def that shares its name with
something reached passes; it never flags live code.
"""

from __future__ import annotations

import ast
import collections
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
LIB = ROOT / "pipe_s_spark"

_KAFKA_IN = "reference KafkaInput (SURVEY §2.1)"
_KAFKA_OUT = "reference KafkaOutput (SURVEY §2.3)"
_FAILOVER = "reference master failover and dnstracker.go (SURVEY §2.1)"
_DDL = "reference DDL handling and per-table fan-out (SURVEY §1.3)"
_METRICS = "reference TaskMetrics (SURVEY §2.4)"
_ENTRY_A = "library form of entry point A (SURVEY §3.1)"

ALLOWED = {
    "sources/kafka.py::read_kafka_changelog": _KAFKA_IN,
    "sinks/kafka.py::kafka_sink_frame": _KAFKA_OUT,
    "sinks/kafka.py::write_kafka_stream": _KAFKA_OUT,
    "sinks/jdbc_upsert.py::jdbc_upsert_writer": "reference MysqlBatchOutput (SURVEY §2.3)",
    "sources/failover.py::EndpointChangeTracker": _FAILOVER,
    "sources/failover.py::FailoverSource": _FAILOVER,
    "sources/failover.py::start_stream_with_failover": _FAILOVER,
    "sources/failover.py::supervise_stream_with_failover": _FAILOVER,
    "operators/converter.py::apply_ddl_events": _DDL,
    "operators/converter.py::fan_out_tables": _DDL,
    "metrics.py::attach_metrics": _METRICS,
    "streaming/merge_apply.py::run_merge_apply_stream": _ENTRY_A,
    "streaming/merge_apply.py::stream_changelog_json": _ENTRY_A,
    "functions/similarity.py::lsh_candidates_multi": (
        "reference that the kNN graph's grouped fast path must match "
        "(test_grouped_knn_candidates_match_all_pairs_flow)"
    ),
}


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    """Every ``Name``, ``Attribute`` and import alias under ``node``."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
    return out


def _unreached() -> set[str]:
    reached: set[str] = set()
    for f in [
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "tools").glob("*.py")),
        *sorted((ROOT / "perfbench").rglob("*.py")),
    ]:
        reached |= _names(ast.parse(f.read_text()))
    for f in sorted((ROOT / "examples").glob("*.json")):
        # outside its strings a JSON file holds only numbers, true,
        # false and null, so every word of the text is a string's word
        reached |= set(re.findall(r"[A-Za-z_]\w*", f.read_text()))
    # the names each top-level statement of the library uses, counted
    # over statements so a def's own body can be left out of its count
    defs: list[tuple[str, ast.AST, set[str]]] = []
    uses: collections.Counter[str] = collections.Counter()
    for f in sorted(LIB.rglob("*.py")):
        if f.name == "__init__.py":
            continue
        path = f.relative_to(LIB).as_posix()
        for node in ast.parse(f.read_text()).body:
            names = _names(node)
            uses.update(names)
            if isinstance(node, _DEFS) and not node.name.startswith("_"):
                defs.append((path, node, names))
    return {
        f"{path}::{d.name}"
        for path, d, own in defs
        if d.name not in reached and uses[d.name] == (d.name in own)
    }


def test_only_allowed_defs_are_reached_by_tests_alone():
    unreached = _unreached()
    assert not unreached - ALLOWED.keys(), (
        "public defs only tests reach; delete them or add a reason to ALLOWED: "
        f"{sorted(unreached - ALLOWED.keys())}"
    )
    assert not ALLOWED.keys() - unreached, (
        f"ALLOWED entries that are now reached or gone: {sorted(ALLOWED.keys() - unreached)}"
    )
