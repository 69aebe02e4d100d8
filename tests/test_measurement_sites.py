"""Each shared measurement step is written once, in ``bench.py``.

The host probes, the Python-worker warm-up and the per-query median
timer used to be copy-pasted across ``bench.py`` and ``tools/``; every
tool now imports them from ``bench``. ``perfbench/`` keeps its own
probes and is not scanned.
"""

from __future__ import annotations

import ast
import os
import pathlib
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import comparable_prior

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _probe_rows(n: int):
    """``.range(n)``: the row count of one of the two host probes."""
    return lambda node: (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "range"
        and bool(node.args)
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == n
    )


def _worker_warm_up(node) -> bool:
    """``.mapInPandas(lambda ...)``: the identity pass that forks the
    Python workers."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mapInPandas"
        and bool(node.args)
        and isinstance(node.args[0], ast.Lambda)
    )


def _median_after_warmup(node) -> bool:
    """``median(x[1:])``: one discarded run, then the median of the rest."""
    if not (isinstance(node, ast.Call) and node.args):
        return False
    name = getattr(node.func, "attr", getattr(node.func, "id", None))
    arg = node.args[0]
    return (
        name == "median"
        and isinstance(arg, ast.Subscript)
        and isinstance(arg.slice, ast.Slice)
        and isinstance(arg.slice.lower, ast.Constant)
        and arg.slice.lower.value == 1
        and arg.slice.upper is None
    )


STEPS = {
    "compute probe": _probe_rows(50_000_000),
    "shuffle probe": _probe_rows(8_000_000),
    "worker warm-up": _worker_warm_up,
    "query timer": _median_after_warmup,
}


def test_each_measurement_step_lives_in_bench_only():
    files = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]
    trees = {f.relative_to(ROOT).as_posix(): ast.parse(f.read_text()) for f in files}
    for step, match in STEPS.items():
        sites = [
            f"{name}:{node.lineno}"
            for name, tree in trees.items()
            for node in ast.walk(tree)
            if match(node)
        ]
        assert [s.split(":")[0] for s in sites] == ["bench.py"], (step, sites)


def test_triage_compares_only_same_scale_and_core_count():
    prior = {"sf": 0.1, "cores": 4, "queries": {"q": 1.0}}
    assert comparable_prior(prior, 0.1, 4)
    assert not comparable_prior(prior, 0.1, 32)
    assert not comparable_prior(prior, 0.01, 4)
    # every artifact committed before ``cores`` was recorded was taken
    # at 32 cores, so a prior without it never qualifies
    assert not comparable_prior({"sf": 0.1}, 0.1, 4)
    assert not comparable_prior({"sf": 0.1}, 0.1, 32)
