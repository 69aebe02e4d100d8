"""Kill every user of ``streaming.commit`` at every commit point.

A kill is ``commit.fault`` raising at the named point. Nothing on the
commit path catches the raise or cleans up after it (only the lock is
released), so the files stay exactly where a killed process leaves
them. After the kill a fresh handle must see the parent state when the
kill came before the journal and the committed state at or after it —
a mix fails. Re-running the same operation with the same epoch must
then match a plain-Python oracle, and no ``._journal``, ``._trash``
or stage inside a root may survive the next lock entry.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from pipe_s_spark.streaming import commit, epoch_log
from pipe_s_spark.streaming.epoch_log import compact_index_partitions
from pipe_s_spark.streaming.delta_apply import DeltaAppendTarget
from pipe_s_spark.streaming.merge_apply import (
    FLAT_CHANGELOG_SCHEMA,
    MergeApplyTarget,
    rebucket_target,
)

# (seq, table_name, op, pk, k, value) changelog events
BASE = [(i, "t1", "insert", i, 1, float(i)) for i in range(20)]
UPSERTS = (
    [(100 + i, "t1", "update", i, 2, 100.0 + i) for i in range(0, 20, 3)]
    + [(200, "t1", "delete", 5, 1, 0.0)]
    + [(300 + i, "t2", "insert", 1000 + i, 3, 0.5 * i) for i in range(40)]
)
# the merge case: epoch 0 fills one of 8 buckets, epoch 1 creates the
# other seven from nothing (a kill mid-swap must not leave them live)
ONE_ROW = [(0, "t0", "insert", 0, 1, 0.0)]
LEDGER = [(i % 4, f"v{i % 3}", b) for b in range(4) for i in range(6)]

#: points before the journal of the commit a user's state depends on
PRE_JOURNAL = {"staged"}
PRIMITIVE = ("staged", "journaled", "mid-park", "mid-install", "files-written", "cleaned")
USERS = ("merge", "rebucket", "compaction", "fold", "append", "truncate")
CASES = [(u, p) for u in USERS for p in PRIMITIVE] + [("fold", "fold-committed")]


class Killed(RuntimeError):
    pass


def _mk(spark, events):
    rows = [
        {"id": f"e{s}", "seq": s, "db": "d", "table_name": t, "op": op,
         "pk": pk, "k": k, "value": v, "ts_ms": s}
        for s, t, op, pk, k, v in events
    ]
    return spark.createDataFrame(rows, FLAT_CHANGELOG_SCHEMA)


def _lww(events) -> list:
    """Last-event-wins table: one (table, pk, k, value) row per live key."""
    last = {}
    for s, t, op, pk, k, v in sorted(events):
        last[(t, pk)] = None if op == "delete" else (k, v)
    return sorted((t, pk, *kv) for (t, pk), kv in last.items() if kv is not None)


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.select("table_name", "pk", "k", "value").collect())


def _target_rows(spark, path, num_buckets=4) -> list:
    return _rows(MergeApplyTarget(path, num_buckets=num_buckets).read_current(spark))


def _ledger(spark, path) -> list:
    return sorted(tuple(r) for r in spark.read.parquet(path).select("k", "v", "batch_id").collect())


class Merge:
    roots = ("t",)
    parent_state = (_lww(ONE_ROW), 0)
    committed_state = (_lww(ONE_ROW + BASE + UPSERTS), 1)

    def setup(self, spark, d):
        MergeApplyTarget(d + "/t", num_buckets=8).apply_batch(_mk(spark, ONE_ROW), 0)

    def run(self, spark, d):
        MergeApplyTarget(d + "/t", num_buckets=8).apply_batch(_mk(spark, BASE + UPSERTS), 1)

    def state(self, spark, d):
        t = MergeApplyTarget(d + "/t", num_buckets=8)
        return _rows(t.read_current(spark)), t._read_fence()

    def check(self, spark, d):
        assert self.state(spark, d) == self.committed_state


class Rebucket:
    roots = ("t",)
    parent_state = (4, _lww(BASE + UPSERTS))
    committed_state = (16, _lww(BASE + UPSERTS))

    def setup(self, spark, d):
        t = MergeApplyTarget(d + "/t", num_buckets=4)
        t.apply_batch(_mk(spark, BASE), 0)
        t.apply_batch(_mk(spark, UPSERTS), 1)

    def run(self, spark, d):
        rebucket_target(spark, d + "/t", 16)

    def state(self, spark, d):
        import json

        with commit.lock(d + "/t"):
            with open(d + "/t/._layout") as f:
                n = json.load(f)["num_buckets"]
        return n, _target_rows(spark, d + "/t", n)

    def check(self, spark, d):
        from pyspark.sql import functions as F

        assert self.state(spark, d) == self.committed_state
        df = spark.read.option("basePath", d + "/t").parquet(d + "/t")
        home = F.pmod(F.hash("table_name", "pk"), F.lit(16))
        assert df.filter(F.col("bucket") != home).count() == 0


class Compaction:
    roots = ("ix",)
    parent_state = sorted(LEDGER)
    committed_state = sorted((k, v, 2 if b < 3 else b) for k, v, b in LEDGER)

    def setup(self, spark, d):
        spark.createDataFrame(LEDGER, "k long, v string, batch_id long").write.partitionBy(
            "batch_id"
        ).parquet(d + "/ix")

    def run(self, spark, d):
        compact_index_partitions(spark, d + "/ix", watermark=3, dedupe=False)

    def state(self, spark, d):
        with commit.lock(d + "/ix"):
            pass
        return _ledger(spark, d + "/ix")

    def check(self, spark, d):
        assert self.state(spark, d) == self.committed_state
        assert sorted(e for e in os.listdir(d + "/ix") if e.startswith("batch_id=")) == [
            "batch_id=2",
            "batch_id=3",
        ]


class Fold:
    roots = ("base",)
    parent_state = []
    committed_state = _lww(BASE + UPSERTS)

    def setup(self, spark, d):
        t = DeltaAppendTarget(d + "/delta")
        t.apply_batch(_mk(spark, BASE), 0)
        t.apply_batch(_mk(spark, UPSERTS), 1)

    def run(self, spark, d):
        DeltaAppendTarget(d + "/delta").fold_into(MergeApplyTarget(d + "/base", num_buckets=4), 0)

    def state(self, spark, d):
        return _target_rows(spark, d + "/base")

    def check(self, spark, d):
        assert self.state(spark, d) == self.committed_state
        base = MergeApplyTarget(d + "/base", num_buckets=4)
        assert _rows(DeltaAppendTarget(d + "/delta").read_merged(spark, base)) == self.committed_state


class Append:
    """The driver-side staged append (the IVF cell ledger's write)."""

    roots = ("ix",)
    parent_state = sorted(r for r in LEDGER if r[2] < 3)
    committed_state = sorted(LEDGER)

    def _install(self, d, b):
        import pyarrow as pa

        rows = [(k, v) for k, v, e in LEDGER if e == b]
        table = pa.table({"k": [k for k, _ in rows], "v": [v for _, v in rows]})
        epoch_log.install(d + "/ix", b, table)

    def setup(self, spark, d):
        for b in range(3):
            self._install(d, b)

    def run(self, spark, d):
        self._install(d, 3)

    def state(self, spark, d):
        with commit.lock(d + "/ix"):
            pass
        return _ledger(spark, d + "/ix")

    def check(self, spark, d):
        assert self.state(spark, d) == self.committed_state


class Truncate:
    """``fold_into``'s truncation of the folded delta epochs."""

    roots = ("delta",)
    parent_state = ([0, 1], _lww(BASE + UPSERTS))
    committed_state = ([], _lww(BASE + UPSERTS))

    def setup(self, spark, d):
        Fold().setup(spark, d)
        t = DeltaAppendTarget(d + "/delta")
        t.fold_into(MergeApplyTarget(d + "/base", num_buckets=4), 0, truncate=False)

    def run(self, spark, d):
        epoch_log.truncate(d + "/delta", DeltaAppendTarget(d + "/delta").folded_through())

    def state(self, spark, d):
        with commit.lock(d + "/delta"):
            pass
        base = MergeApplyTarget(d + "/base", num_buckets=4)
        merged = DeltaAppendTarget(d + "/delta").read_merged(spark, base)
        return epoch_log.epochs(d + "/delta"), _rows(merged)

    def check(self, spark, d):
        assert self.state(spark, d) == self.committed_state


USER = dict(
    zip(USERS, (Merge(), Rebucket(), Compaction(), Fold(), Append(), Truncate()))
)


@pytest.fixture(scope="module")
def parents(spark, tmp_path_factory):
    """Each user's pre-operation directory, built once and copied per case."""
    built = {}

    def get(user):
        if user not in built:
            d = str(tmp_path_factory.mktemp(user))
            USER[user].setup(spark, d)
            built[user] = d
        return built[user]

    return get


def _no_leftovers(d, roots):
    for r in roots:
        with commit.lock(os.path.join(d, r)):
            pass
        left = set(os.listdir(os.path.join(d, r)))
        assert not {"._journal", "._trash", "._stage"} & left
        assert not [n for n in left if n.startswith("_staging")]


@pytest.mark.parametrize("user,point", CASES, ids=[f"{u}-{p}" for u, p in CASES])
def test_kill_at_commit_point(spark, tmp_path, monkeypatch, parents, user, point):
    u = USER[user]
    d = str(tmp_path / "case")
    shutil.copytree(parents(user), d)

    def kill(at):
        if at == point:
            monkeypatch.setattr(commit, "fault", lambda at: None)
            raise Killed(at)

    monkeypatch.setattr(commit, "fault", kill)
    with pytest.raises(Killed):
        u.run(spark, d)
    _no_leftovers(d, u.roots)
    want = u.parent_state if point in PRE_JOURNAL else u.committed_state
    assert u.state(spark, d) == want
    u.run(spark, d)  # the replay of the same epoch
    u.check(spark, d)
    _no_leftovers(d, u.roots)


def test_every_fault_point_has_a_case():
    """Each case asserts its kill fired, so this proves every point is
    reached by at least one user."""
    assert {p for _u, p in CASES} == set(commit.FAULT_POINTS)


def test_only_commit_module_renames_or_locks():
    """``streaming/commit.py`` is the one place that renames files or
    takes a lock; any other module must go through it."""
    import ast
    import pathlib

    banned = {("os", "rename"), ("os", "replace"), ("fcntl", "flock")}
    pkg = pathlib.Path(__file__).resolve().parent.parent / "pipe_s_spark"
    hits = []
    for f in sorted(pkg.rglob("*.py")):
        if f == pkg / "streaming" / "commit.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                names = {(node.value.id, node.attr)}
            elif isinstance(node, ast.ImportFrom):
                names = {(node.module, a.name) for a in node.names}
            else:
                continue
            hits += [f"{f.relative_to(pkg)}:{node.lineno} {m}.{n}" for m, n in names & banned]
    assert not hits


def test_only_epoch_log_module_knows_the_partition_layout():
    """``streaming/epoch_log.py`` is the one place that spells the
    ``batch_id=`` partition names or sets ``partitionOverwriteMode``;
    every append sink goes through it. Docstrings may describe the
    layout."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "pipe_s_spark"
    hits = []
    for f in sorted(pkg.rglob("*.py")):
        if f == pkg / "streaming" / "epoch_log.py":
            continue
        tree = ast.parse(f.read_text())
        docs = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        hits += [
            f"{f.relative_to(pkg)}:{node.lineno} {node.value!r}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
            and ("batch_id=" in node.value or "partitionOverwriteMode" in node.value)
        ]
    assert not hits


def test_only_epoch_log_module_starts_foreach_batch_streams():
    """``streaming/epoch_log.run_stream`` is the library's one epoch
    loop: exactly one module calls ``.foreachBatch(``, so every sink's
    stream starts, triggers and compacts the same way."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "pipe_s_spark"
    sites = {
        f"{f.relative_to(pkg)}:{node.lineno}"
        for f in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "foreachBatch"
    }
    assert {s.split(":")[0] for s in sites} == {"streaming/epoch_log.py"}, sorted(sites)


def _streaming_sites(match) -> set[str]:
    """``file:line`` of every AST node in ``pipe_s_spark/streaming/*.py``
    that ``match`` accepts."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "pipe_s_spark" / "streaming"
    return {
        f"{f.name}:{node.lineno}"
        for f in sorted(pkg.glob("*.py"))
        for node in ast.walk(ast.parse(f.read_text()))
        if match(node)
    }


def test_only_commit_module_opens_sink_files():
    """``streaming/commit.py`` is the one streaming module that calls the
    builtin ``open``: every fence, watermark, layout and contract goes
    through ``commit.read_json``, ``commit.pin`` or
    ``commit.write_atomic``."""
    import ast

    sites = _streaming_sites(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "open"
    )
    assert {s.split(":")[0] for s in sites} == {"commit.py"}, sorted(sites)


def test_only_epoch_log_module_fans_out_epoch_writes():
    """``streaming/epoch_log.py`` is the one streaming module that names
    ``InheritableThread`` or calls ``.localCheckpoint(``: every sink
    that writes several logs per epoch goes through
    ``epoch_log.checkpointed`` and ``epoch_log.concurrently``."""
    import ast

    def fans_out(n) -> bool:
        if isinstance(n, ast.Name):
            return n.id == "InheritableThread"
        if isinstance(n, ast.Attribute):
            return n.attr == "InheritableThread"
        if isinstance(n, ast.alias):
            return n.name == "InheritableThread"
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "localCheckpoint"
        )

    sites = _streaming_sites(fans_out)
    assert {s.split(":")[0] for s in sites} == {"epoch_log.py"}, sorted(sites)


def test_read_json_defaults_only_a_missing_file(tmp_path):
    """A missing metadata file reads as the caller's default; a damaged
    one raises instead of reading as "nothing applied yet"."""
    p = str(tmp_path / "._last_epoch")
    assert commit.read_json(p, -1) == -1
    commit.write_atomic(p, "7")
    assert commit.read_json(p, -1) == 7
    commit.write_atomic(p, "7x")
    with pytest.raises(ValueError):
        commit.read_json(p, -1)


def test_pin_records_once_then_verifies(tmp_path):
    """The first ``pin`` writes the meta as JSON; an equal one passes; a
    different one raises naming the file and both metas and leaves the
    file as it was."""
    root = str(tmp_path / "t")
    meta = {"num_buckets": 16, "key_cols": ["table_name", "pk"], "lww": False}
    with commit.lock(root):
        commit.pin(root, "._layout", meta)
        commit.pin(root, "._layout", dict(meta))
    path = os.path.join(root, "._layout")
    with open(path) as f:
        stored = f.read()
    assert stored == '{"num_buckets": 16, "key_cols": ["table_name", "pk"], "lww": false}'
    with commit.lock(root), pytest.raises(ValueError) as ei:
        commit.pin(root, "._layout", dict(meta, num_buckets=32))
    assert path in str(ei.value) and "16" in str(ei.value) and "32" in str(ei.value)
    with open(path) as f:
        assert f.read() == stored


def _counting(monkeypatch) -> dict:
    """Count the calls to the commit functions an epoch coordinates
    through. ``lock`` reaches ``recover`` and ``pin`` reaches
    ``read_json`` through the module, so nested calls count too."""
    counts = dict.fromkeys(("lock", "recover", "pin", "read_json"), 0)
    for name in counts:

        def counted(*args, _name=name, _real=getattr(commit, name), **kwargs):
            counts[_name] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(commit, name, counted)
    return counts


def test_merge_epoch_opens_and_swaps_its_target_once(spark, tmp_path, monkeypatch):
    """A merge epoch locks its target twice: the open at entry (which
    recovers, pins ``._layout`` and reads the fence) and the swap (which
    recovers, re-reads the fence and re-pins). A fence-replayed epoch
    stops after the open."""
    d = str(tmp_path)
    target = MergeApplyTarget(d + "/t", num_buckets=4)
    target.apply_batch(_mk(spark, BASE), 0)
    upserts = _mk(spark, UPSERTS)
    counts = _counting(monkeypatch)

    def run(epoch) -> tuple:
        counts.update(dict.fromkeys(counts, 0))
        epoch()
        return tuple(counts.values())

    assert run(lambda: target.apply_batch(upserts, 1)) == (2, 2, 2, 6)
    assert run(lambda: target.apply_batch(upserts, 1)) == (1, 1, 1, 3)
    assert _rows(target.read_current(spark)) == _lww(BASE + UPSERTS)


def _mid_epoch(monkeypatch, target, second_party, when):
    """Make ``second_party`` commit to ``target``'s path while
    ``target``'s epoch computes: after its open (``"open"``: inside
    ``touched_buckets``) or after its stage write, at the lock that
    would swap the stage in (``"staged"``)."""
    if when == "open":
        real = target.touched_buckets

        def touched(batch):
            second_party()
            return real(batch)

        monkeypatch.setattr(target, "touched_buckets", touched)
        return
    real_lock, fired = commit.lock, []

    def lock(root):
        if root == target.path and not fired and glob.glob(f"{root}.stage-*"):
            fired.append(root)
            second_party()
        return real_lock(root)

    monkeypatch.setattr(commit, "lock", lock)


def _stages(tmp_path) -> list:
    return [e for e in os.listdir(tmp_path) if ".stage-" in e]


@pytest.mark.parametrize("when", ["open", "staged"])
def test_swap_aborts_when_a_newer_epoch_commits_first(spark, tmp_path, monkeypatch, when):
    """A second writer applies epoch N+1 while the first computes epoch
    N: the first writer's swap re-reads the fence, returns False without
    touching the rows and deletes its stage."""
    path = str(tmp_path / "t")
    first = MergeApplyTarget(path, num_buckets=4)
    first.apply_batch(_mk(spark, BASE), 0)
    newer = [(400, "t3", "insert", 2000, 4, 9.0)]
    second = MergeApplyTarget(path, num_buckets=4)
    _mid_epoch(monkeypatch, first, lambda: second.apply_batch(_mk(spark, newer), 2), when)
    assert first.apply_batch(_mk(spark, UPSERTS), 1) is False
    assert _target_rows(spark, path) == _lww(BASE + newer)
    assert first._read_fence() == 2
    assert _stages(tmp_path) == []


@pytest.mark.parametrize("when", ["open", "staged"])
def test_swap_refuses_a_layout_changed_by_rebucket(spark, tmp_path, monkeypatch, when):
    """An offline rebucket commits while a writer computes: the writer's
    swap re-pins ``._layout`` and raises instead of installing buckets
    numbered under the old count, and deletes its stage."""
    path = str(tmp_path / "t")
    first = MergeApplyTarget(path, num_buckets=4)
    first.apply_batch(_mk(spark, BASE), 0)
    _mid_epoch(monkeypatch, first, lambda: rebucket_target(spark, path, 8), when)
    with pytest.raises(ValueError, match=r"\._layout"):
        first.apply_batch(_mk(spark, UPSERTS), 1)
    assert _target_rows(spark, path, num_buckets=8) == _lww(BASE)
    assert MergeApplyTarget(path, num_buckets=8)._read_fence() == 0
    assert _stages(tmp_path) == []
