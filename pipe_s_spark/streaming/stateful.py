"""Custom stateful streaming operators via applyInPandasWithState.

The reference's only stateful construct is the per-window batch
compactor (held in process memory, lost on crash, reconstructed by
replay). Structured Streaming's state store upgrades this: keyed state
survives restarts via the checkpoint. Two operators:

- ``streaming_dedup``: emit each key's row only the first time it is
  seen (exact dedup across the whole stream — the streaming counterpart
  of the batch dedup_exact query). State = one flag per key; at 100 TB
  use the RocksDB state store provider + watermark-scoped state TTL.

- ``streaming_last_state``: running per-key latest-row view (the
  always-fresh form of changelog compaction): emits the new latest row
  whenever a key's max-seq row changes.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _round6_half_up(x: float) -> float:
    """ROUND(x, 6) with Spark/DuckDB semantics: half-up AWAY FROM
    ZERO for both signs (plain ``floor(x*1e6+0.5)`` would round
    negative estimates toward +inf instead)."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def _dedup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    seen = state.exists
    if not seen:
        first = None
        for pdf in pdfs:
            if len(pdf) and first is None:
                first = pdf.iloc[[0]]
        if first is not None:
            state.update((1,))
            yield first
    else:
        for _ in pdfs:
            pass


def streaming_dedup(
    grouped_key_cols: list[str],
    output_schema: str,
) -> tuple:
    """Return (func, outputStructType-str, stateStructType-str, mode,
    timeout) args for ``df.groupBy(...).applyInPandasWithState``."""
    return (
        _dedup_fn,
        output_schema,
        "seen int",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def apply_streaming_dedup(stream: DataFrame, key_cols: list[str]) -> DataFrame:
    """First-occurrence-wins streaming dedup on key_cols."""
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in stream.schema.fields)
    fn, out_schema, state_schema, mode, timeout = streaming_dedup(key_cols, schema)
    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, mode, timeout
    )


def _last_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    best: pd.DataFrame | None = None
    best_seq: Any = state.get[0] if state.exists else None
    for pdf in pdfs:
        if not len(pdf):
            continue
        top = pdf.sort_values("seq").iloc[[-1]]
        if best_seq is None or int(top["seq"].iloc[0]) > int(best_seq):
            best = top
            best_seq = int(top["seq"].iloc[0])
    if best is not None:
        state.update((int(best_seq),))
        yield best


def apply_streaming_last_state(stream: DataFrame, key_cols: list[str]) -> DataFrame:
    """Emit the new per-key latest row whenever it advances (requires a
    ``seq`` column; the streaming view of changelog compaction)."""
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in stream.schema.fields)
    return stream.groupBy(*key_cols).applyInPandasWithState(
        _last_state_fn, schema, "last_seq long", "append", GroupStateTimeout.NoTimeout
    )


def _hll_rho_py(h: str) -> tuple[int, int]:
    """(bucket, rho) of an md5 hexdigest — the Python replica of
    functions.sketches.hll_probe (identical hex-string arithmetic)."""
    bucket = int(h[:2], 16) % 64
    whex = h[2:15]
    stripped = whex.lstrip("0")
    if not stripped:
        return bucket, 53
    digit_lz = {"1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1}.get(
        stripped[0], 0
    )
    return bucket, (13 - len(stripped)) * 4 + digit_lz + 1


def _hll_estimate_py(regs: list[int]) -> tuple[int, float]:
    """(n_zero_registers, est) — integer-exact replica of
    functions.sketches.hll_estimate's final fold, including Spark's
    HALF_UP rounding so a streaming emission equals the batch query
    bit-for-bit."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    m = 64
    alpha = 0.7213 / (1.0 + 1.079 / m)
    present = sum(1 for r in regs if r > 0)
    zeros = m - present
    s = sum(1 << (53 - r) for r in regs if r > 0) + zeros * (1 << 53)
    raw = alpha * m * m * float(1 << 53) / s
    x = m * math.log(m / zeros) if (raw <= 2.5 * m and zeros > 0) else raw
    est = float(Decimal(x).quantize(Decimal("0.0001"), ROUND_HALF_UP))
    return zeros, est


def apply_streaming_hll(
    stream: DataFrame, key_cols: list[str], value_col: str
) -> DataFrame:
    """Running per-key HLL distinct estimate as STREAMING STATE: the
    64 registers (one byte each) live in the state store and merge by
    MAX as batches arrive — the mergeable-sketch property is exactly
    what makes a sketch streamable. Emits the refreshed
    (key, n_zero_registers, est_distinct) row for every key touched by
    a batch; after any prefix of batches the emission equals the batch
    ``hll_estimate`` over the rows seen so far (e2e-tested), so the
    view is replay-idempotent per epoch.

    State is 64 bytes/key — 1 GB of state store covers ~16M keys; use
    the RocksDB provider beyond that."""
    import hashlib

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        regs = (
            [int(state.get[0][i : i + 2], 16) for i in range(0, 128, 2)]
            if state.exists
            else [0] * 64
        )
        for pdf in pdfs:
            for v in pdf[value_col]:
                if v is None:
                    continue
                b, rho = _hll_rho_py(hashlib.md5(str(v).encode()).hexdigest())
                if rho > regs[b]:
                    regs[b] = rho
        state.update(("".join(f"{r:02x}" for r in regs),))
        zeros, est = _hll_estimate_py(regs)
        out = {c: [k] for c, k in zip(key_cols, key)}
        out["n_zero_registers"] = [zeros]
        out["est_distinct"] = [est]
        yield pd.DataFrame(out)

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in stream.schema.fields
        if f.name in key_cols
    )
    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn,
        f"{key_schema}, n_zero_registers int, est_distinct double",
        "regs string",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def _merge_topk(
    cur: tuple | None,
    pdfs: Iterator[pd.DataFrame],
    key: Any,
    key_col: str,
    id_col: str,
    value_col: str,
    k: int,
) -> tuple[tuple[list[int], list[float]], pd.DataFrame]:
    """Merge one key's stored top-k ``cur`` (parallel ``(ids, vals)``
    arrays, or None) with its new rows, ordered by value desc then id
    asc. Returns the new state and the key's refreshed ranked rows; both
    top-k operators run it."""
    ids = list(cur[0]) if cur else []
    vals = list(cur[1]) if cur else []
    for pdf in pdfs:
        ids.extend(int(i) for i in pdf[id_col])
        vals.extend(float(v) for v in pdf[value_col])
    pairs = sorted(zip(vals, ids), key=lambda t: (-t[0], t[1]))[:k]
    ids = [p[1] for p in pairs]
    vals = [p[0] for p in pairs]
    out = pd.DataFrame(
        {
            key_col: [key] * len(ids),
            "rk": list(range(1, len(ids) + 1)),
            id_col: ids,
            value_col: vals,
        }
    )
    return (ids, vals), out


class _TopKProcessor:
    """StatefulProcessor for :func:`apply_streaming_topk` — defined at
    module scope so it pickles cleanly to executors. Keeps the running
    per-key top-k as ONE ValueState tuple of parallel arrays (ids,
    metrics): O(k) state per key, merged with each batch's rows, the
    streaming counterpart of window_topk_per_group."""

    def __init__(self, key_col: str, id_col: str, value_col: str, k: int):
        self._key_col = key_col
        self._id_col = id_col
        self._value_col = value_col
        self._k = k

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "topk", "ids array<bigint>, vals array<double>"
        )

    def handleInputRows(self, key, rows, timerValues):
        cur = self._state.get() if self._state.exists() else None
        top, out = _merge_topk(
            cur, rows, key[0], self._key_col, self._id_col, self._value_col, self._k
        )
        self._state.update(top)
        yield out

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def close(self) -> None:
        pass


def apply_streaming_topk(
    stream: DataFrame,
    key_col: str,
    id_col: str,
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """Running per-key top-k by ``value_col`` (ties broken by smaller
    ``id_col``) via Spark 4's ``transformWithStateInPandas`` — the
    arbitrary-stateful-operator API that supersedes
    ``applyInPandasWithState`` (typed state handles, timers, TTL).
    Each micro-batch RE-EMITS the refreshed top-k for every key that
    received rows (update semantics); state is O(k) per key regardless
    of stream length. Requires the RocksDB state store provider (set in
    the caller's session conf) — the provider transformWithState is
    built for, and the one a 100 TB keyed state would need anyway."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    # subclass dynamically so importing this module never hard-depends
    # on the Spark-4-only symbol at module import time
    proc = type("_TopKStatefulProcessor", (_TopKProcessor, StatefulProcessor), {})(
        key_col, id_col, value_col, k
    )
    out_schema = f"{key_col} string, rk int, {id_col} bigint, {value_col} double"
    return stream.groupBy(key_col).transformWithStateInPandas(
        proc, outputStructType=out_schema, outputMode="Update", timeMode="None"
    )


def apply_streaming_topk_legacy(
    stream: DataFrame,
    key_col: str,
    id_col: str,
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """Running per-key top-k on ``applyInPandasWithState`` — identical
    semantics to :func:`apply_streaming_topk` (same (value desc, id
    asc) merge, same O(k) state) on the API generation that runs
    without the protobuf state-server dependency; the e2e for THIS
    variant runs in any container, pinning the semantics the
    transformWithState version is gated on."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        cur = state.get if state.exists else None
        top, out = _merge_topk(cur, pdfs, key[0], key_col, id_col, value_col, k)
        state.update(top)
        yield out

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        f"{key_col} string, rk int, {id_col} bigint, {value_col} double",
        "ids array<bigint>, vals array<double>",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def apply_streaming_histogram(
    stream: DataFrame,
    key_cols: list[str],
    value_col: str,
    bin_width: float = 10.0,
    quantiles: tuple = (0.5, 0.95),
) -> DataFrame:
    """Streaming equi-width histogram quantile sketch: per-key state is
    the (bin -> count) cell map — bounded by the bin count, never the
    row count — merged by CELLWISE ADDITION each batch (the identical
    merge functions.sketches.histogram_quantiles relies on, so batch
    and streaming estimates agree bit-for-bit on the same prefix).
    Emits refreshed quantile estimates per key per batch; estimate
    arithmetic replicates the batch expression order exactly, with
    explicit half-up rounding (Python round() is half-even, Spark's
    ROUND is half-up)."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            bins = list(state.get[0])
            cnts = list(state.get[1])
            cells = dict(zip(bins, cnts))
        else:
            cells = {}
        for pdf in pdfs:
            for v in pdf[value_col]:
                b = int(math.floor(float(v) / bin_width))
                cells[b] = cells.get(b, 0) + 1
        bins = sorted(cells)
        cnts = [cells[b] for b in bins]
        state.update((bins, cnts))
        total = sum(cnts)
        ests = []
        for q in quantiles:
            t = q * total
            cum = 0
            est = None
            for b, c in zip(bins, cnts):
                if cum < t <= cum + c:
                    x = b * bin_width + bin_width * (t - cum) / c
                    est = _round6_half_up(x)
                    break
                cum += c
            ests.append(est)
        out = {c: [k] for c, k in zip(key_cols, key)}
        out["n_rows"] = [total]
        for q, e in zip(quantiles, ests):
            out[f"p{int(q * 100)}_est"] = [e]
        yield pd.DataFrame(out)

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in stream.schema.fields
        if f.name in key_cols
    )
    est_schema = ", ".join(f"p{int(q * 100)}_est double" for q in quantiles)
    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn,
        f"{key_schema}, n_rows long, {est_schema}",
        "bins array<long>, cnts array<long>",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def apply_streaming_countmin(
    stream: DataFrame,
    key_cols: list[str],
    item_col: str,
    probe_items: list,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Streaming count-min sketch per key: state is the depth x width
    cell matrix (flat array — bounded by the sketch size, never the
    stream), merged by CELLWISE ADDITION each batch (the sketch's
    mergeability contract, identical to functions.sketches.cms_build
    run over the union). Each batch emits the refreshed point-estimate
    (min over rows, the count-min upper bound) for every probe item —
    the streaming heavy-hitter monitor. Hashes replicate cms_bucket's
    md5 derivation exactly, so estimates equal the batch sketch's."""
    import hashlib

    def bucket(row: int, item) -> int:
        h = int(hashlib.md5(f"{row}:{item}".encode()).hexdigest()[:8], 16)
        return h % width

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        cells = list(state.get[0]) if state.exists else [0] * (depth * width)
        for pdf in pdfs:
            for item in pdf[item_col]:
                for r in range(depth):
                    cells[r * width + bucket(r, item)] += 1
        state.update((cells,))
        out = {c: [] for c in key_cols}
        out["item"] = []
        out["est_count"] = []
        for item in probe_items:
            for c, kv in zip(key_cols, key):
                out[c].append(kv)
            out["item"].append(str(item))
            out["est_count"].append(
                min(cells[r * width + bucket(r, item)] for r in range(depth))
            )
        yield pd.DataFrame(out)

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in stream.schema.fields
        if f.name in key_cols
    )
    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn,
        f"{key_schema}, item string, est_count long",
        "cells array<long>",
        "update",
        GroupStateTimeout.NoTimeout,
    )
