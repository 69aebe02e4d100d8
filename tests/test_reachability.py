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

The same walk checks two smaller things: every name a library module
imports at top level is used there (``REEXPORTS`` lists the exceptions),
and every ``q_*`` query def sits in exactly one ``QUERIES`` table, so
the registry loses none to a clash of names.
"""

from __future__ import annotations

import ast
import collections
import importlib
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

#: top-level imports a module keeps for other code to reach through it
REEXPORTS = {
    "streaming/merge_apply.py::compact_changelog": (
        "perfbench/worker.py wraps merge_apply.compact_changelog by name"
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


def _unused_imports() -> set[str]:
    out: set[str] = set()
    for f in sorted(LIB.rglob("*.py")):
        if f.name == "__init__.py":
            continue
        tree = ast.parse(f.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    name = a.asname or a.name.split(".")[0]
                    if name not in used:
                        out.add(f"{f.relative_to(LIB).as_posix()}::{name}")
    return out


def test_every_top_level_import_is_used():
    unused = _unused_imports()
    assert unused == REEXPORTS.keys(), (
        f"unused imports: {sorted(unused - REEXPORTS.keys())}; "
        f"REEXPORTS entries now used or gone: {sorted(REEXPORTS.keys() - unused)}"
    )


def test_every_query_def_is_registered_once():
    from pipe_s_spark.registry import all_queries

    files = sorted(LIB.glob("queries_*.py"))
    modules = [importlib.import_module(f"pipe_s_spark.{f.stem}") for f in files]
    tables = [m.QUERIES for m in modules if hasattr(m, "QUERIES")]
    registered = collections.Counter(
        f"{fn.__module__}.{fn.__name__}" for table in tables for fn in table
    )
    defined = {
        f"pipe_s_spark.{f.stem}.{node.name}"
        for f in files
        for node in ast.parse(f.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_")
    }
    assert set(registered) == defined, (
        f"unregistered: {sorted(defined - set(registered))}; "
        f"registered but defined elsewhere: {sorted(set(registered) - defined)}"
    )
    assert max(registered.values()) == 1, [k for k, v in registered.items() if v > 1]
    assert len(all_queries()) == sum(map(len, tables)) == 215
