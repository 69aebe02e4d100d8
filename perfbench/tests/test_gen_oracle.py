"""Generator determinism and op-sequence validity, and the output checks
failing on a corrupted output."""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, oracle


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _cdc(seed: int, d) -> list[str]:
    return gen.cdc_stream(seed, str(d), n_keys=400, n_epochs=5, epoch_rows=120)


def test_cdc_is_deterministic_per_seed(tmp_path):
    a = _digest(_cdc(7, tmp_path / "a"))
    assert a == _digest(_cdc(7, tmp_path / "b"))
    assert a != _digest(_cdc(8, tmp_path / "c"))


def test_tables_are_deterministic_per_seed(tmp_path):
    ta = gen.tables(5, str(tmp_path / "ta"), 0.0001)
    tb = gen.tables(5, str(tmp_path / "tb"), 0.0001)
    assert ta == tb
    for name in ta:
        assert pq.read_table(tmp_path / "ta" / f"{name}.parquet").equals(
            pq.read_table(tmp_path / "tb" / f"{name}.parquet"))


def _events(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.extend(json.loads(line) for line in f)
    return out


def test_cdc_op_sequences_are_valid(tmp_path):
    """Inserts pick absent keys; updates and deletes pick live keys."""
    events = [e for e in _events(_cdc(11, tmp_path)) if e["table_name"] in gen.CDC_TABLES]
    assert [e["seq"] for e in events] == sorted(e["seq"] for e in events)
    live: set = set()
    ops = set()
    for e in events:
        key = (e["table_name"], e["pk"])
        ops.add(e["op"])
        if e["op"] == "insert":
            assert key not in live, e
            live.add(key)
        else:
            assert key in live, e
            if e["op"] == "delete":
                live.remove(key)
    assert ops == {"insert", "update", "delete"}


def test_cdc_epochs_touch_the_whole_key_space(tmp_path):
    paths = _cdc(2, tmp_path)
    tables = {e["table_name"] for e in _events(paths[1:2])}
    assert set(gen.CDC_TABLES) <= tables and gen.CDC_NOISE_TABLE in tables


def _expected_state(paths: list[str]) -> dict:
    state = {}
    for e in sorted(_events(paths), key=lambda e: e["seq"]):
        if e["table_name"] not in gen.CDC_TABLES:
            continue
        key = (e["table_name"], e["pk"])
        if e["op"] == "delete":
            state.pop(key, None)
        else:
            state[key] = (e["k"], e["value"])
    return state


def _write_target(d, state: dict) -> None:
    rows = sorted(state.items())
    os.makedirs(d / "bucket=0")
    pq.write_table(pa.table({
        "table_name": [k[0] for k, _ in rows],
        "pk": pa.array([k[1] for k, _ in rows], pa.int64()),
        "k": pa.array([v[0] for _, v in rows], pa.int32()),
        "value": [v[1] for _, v in rows],
    }), d / "bucket=0" / "part-0.parquet")
    # staging and trash files are not part of the target
    os.makedirs(d / ".trash-3" / "bucket=0")
    pq.write_table(pa.table({"table_name": ["x"], "pk": [1], "k": [1], "value": [1.0]}),
                   d / ".trash-3" / "bucket=0" / "part-0.parquet")


def test_cdc_check_accepts_the_right_target(tmp_path):
    paths = _cdc(13, tmp_path / "src")
    _write_target(tmp_path / "tgt", _expected_state(paths))
    res = oracle.check_cdc(paths, str(tmp_path / "tgt"))
    assert res["ok"] and res["rows"] == res["expected_rows"] > 0


def test_cdc_check_fails_on_one_corrupted_row(tmp_path):
    paths = _cdc(13, tmp_path / "src")
    state = _expected_state(paths)
    key = sorted(state)[len(state) // 2]
    k, value = state[key]
    state[key] = (k, value + 0.01)
    _write_target(tmp_path / "tgt", state)
    res = oracle.check_cdc(paths, str(tmp_path / "tgt"))
    assert not res["ok"] and res["rows"] == res["expected_rows"]


def test_cdc_check_fails_on_a_missing_row(tmp_path):
    paths = _cdc(13, tmp_path / "src")
    state = _expected_state(paths)
    del state[sorted(state)[0]]
    _write_target(tmp_path / "tgt", state)
    assert not oracle.check_cdc(paths, str(tmp_path / "tgt"))["ok"]
