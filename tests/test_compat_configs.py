"""plans.compat: reference-engine Task JSON configs must translate and
RUN through the runner, with each endpoint substitution explicitly
noted, never silent.

Two config sets feed the translate-and-run test: the hand-written
fixtures in ``tests/fixtures/compat/`` (in the reference Task JSON
format, together covering every component type ``plans/compat.py``
translates), and, when a reference checkout is present, its own
shipped samples (`examples/configsamples/*.json` plus the
integration-test configs)."""

from __future__ import annotations

import ast
import glob
import inspect
import json
import os

import pytest

from pipe_s_spark.plans import compat, run_pipeline
from pipe_s_spark.plans.compat import CompatError, translate_reference_config

REF_SAMPLES = sorted(
    glob.glob("/root/reference/examples/configsamples/*.json")
    + glob.glob("/root/reference/integration_test/*/*.json")
)
FIXTURES = sorted(
    glob.glob(os.path.join(os.path.dirname(__file__), "fixtures", "compat", "*.json"))
)


@pytest.mark.skipif(
    not REF_SAMPLES,
    reason="no reference checkout: its samples are not shipped with this repo; "
    "tests/fixtures/compat covers every translation branch instead",
)
def test_all_reference_samples_present():
    # 8 shipped examples + 5 integration-test configs
    assert len(REF_SAMPLES) == 13


def _branch_types() -> set[str]:
    """Every component ``Type`` that plans/compat.py has a branch for:
    the string constants its input/processor/output dispatch and its
    pipeline-type check compare against."""
    found = set()
    for node in ast.walk(ast.parse(inspect.getsource(compat))):
        if not isinstance(node, ast.Compare):
            continue
        left = node.left
        dispatch = isinstance(left, ast.Name) and left.id in ("in_type", "t", "out_type")
        get_type = (
            isinstance(left, ast.Call)
            and isinstance(left.func, ast.Attribute)
            and left.func.attr == "get"
            and [getattr(a, "value", None) for a in left.args] == ["Type"]
        )
        if not (dispatch or get_type):
            continue
        for c in node.comparators:
            for k in c.elts if isinstance(c, ast.Tuple) else [c]:
                if isinstance(k, ast.Constant) and isinstance(k.value, str):
                    found.add(k.value)
    return found


def _config_types(node) -> set[str]:
    if isinstance(node, list):
        return set().union(*map(_config_types, node))
    if not isinstance(node, dict):
        return set()
    own = {node["Type"]} if isinstance(node.get("Type"), str) else set()
    return own.union(*map(_config_types, node.values()))


def test_every_translation_branch_has_a_fixture():
    branches = _branch_types()
    # the parse must see the dispatch at all: 4 inputs, 10 processors,
    # 8 outputs and the pipeline type at the time of writing
    assert len(branches) >= 23, sorted(branches)
    covered = set().union(*(_config_types(json.load(open(p))) for p in FIXTURES))
    missing = sorted(branches - covered)
    assert not missing, f"compat branches with no config in tests/fixtures/compat: {missing}"


@pytest.mark.parametrize(
    "path",
    FIXTURES + REF_SAMPLES,
    ids=[p.rsplit("/", 2)[-2] + "/" + os.path.basename(p) for p in FIXTURES + REF_SAMPLES],
)
def test_reference_config_translates_and_runs(spark, path, tmp_path):
    ref = json.load(open(path))
    spec, notes = translate_reference_config(ref, out_dir=str(tmp_path))
    assert all(isinstance(n, str) and n for n in notes)
    # network inputs always get the documented stand-in note
    assert any("stand-in" in n for n in notes)
    run_pipeline(spark, spec)
    # sink-producing configs must actually land rows
    out = spec["Output"]
    if out["Type"] in ("parquet",):
        assert spark.read.parquet(out["Config"]["path"]).count() > 0
    if out["Type"] == "merge":
        from pipe_s_spark.streaming.merge_apply import MergeApplyTarget

        tgt = MergeApplyTarget(out["Config"]["path"])
        assert tgt.read_current(spark).count() > 0
    if out["Type"] == "jsonl":
        assert spark.read.json(out["Config"]["path"]).count() > 0


def test_filter_semantics_match_reference_full_name(spark):
    """FullTableNamePattern matches db.table (mysqldml.go:50-63): a
    pattern anchored on the db name must keep rows whose table alone
    would not match."""
    ref = {
        "Task": {
            "ID": "t",
            "Pipeline": {
                "Input": {"Type": "MysqlBinlogInput"},
                "Processors": [
                    {"Type": "MysqlDMLFilter", "FullTableNamePattern": "^pipes_test_db\\.sbtest[12]$"}
                ],
                "Output": {"Type": "DummyOutput"},
            },
        }
    }
    spec, _ = translate_reference_config(ref)
    spec["Output"] = {"Type": "return"}
    df = run_pipeline(spark, spec)
    tables = {r["table_name"] for r in df.select("table_name").distinct().collect()}
    assert tables == {"sbtest1", "sbtest2"}


def test_unknown_component_is_loud():
    with pytest.raises(CompatError):
        translate_reference_config(
            {"Task": {"Pipeline": {"Input": {"Type": "NotAThing"}}}}
        )
