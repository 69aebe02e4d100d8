"""Seeded input generators. They only write files; nothing here imports
the system under test, so the program sees nothing but the generated
inputs.

Every generator draws from ``numpy.random.default_rng([seed, tag])``:
the same seed gives byte-identical files, and each workload gets its
own independent stream.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CDC_SCHEMA = (
    "id string, seq bigint, db string, table_name string, op string, "
    "pk bigint, k int, value double, ts_ms bigint"
)
CDC_TABLES = ("sbtest1", "sbtest2", "sbtest3", "sbtest4")
#: a table the dml-filter drops (tableRegex ^sbtest[0-9]+$)
CDC_NOISE_TABLE = "audit_log"
CDC_TABLE_REGEX = "^sbtest[0-9]+$"

_TAG_CDC, _TAG_TABLES = 1, 3


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), tag])


def _write_lines(path: str, lines: list[str], mtime: float) -> None:
    """Write one newline-JSON file atomically and pin its mtime: the
    file stream source orders new files by modification time."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


# ---------------------------------------------------------------- cdc_sync


def cdc_stream(
    seed: int, out_dir: str, n_keys: int, n_epochs: int, epoch_rows: int,
    noise_share: float = 0.05, live_share: float = 0.8,
) -> list[str]:
    """A snapshot file followed by ``n_epochs`` equal-size change files.

    The key space is ``n_keys`` keys spread over the four sbtest tables.
    The snapshot inserts a random ``live_share`` of it. Each change event
    draws its key uniformly from the whole key space, so an epoch touches
    every target bucket: an absent key gets an insert, a live key an
    update (3 in 4) or a delete. Every per-key op sequence is therefore
    valid, and the net state is "last event per key wins; a delete
    removes the key". A ``noise_share`` of extra events hit a table the
    pipeline's dml-filter drops.

    Returns the file paths in arrival order (snapshot first)."""
    rng = _rng(seed, _TAG_CDC)
    os.makedirs(out_dir, exist_ok=True)
    n_tables = len(CDC_TABLES)
    live = np.zeros(n_keys, dtype=bool)
    live[rng.permutation(n_keys)[: int(n_keys * live_share)]] = True
    seq = 0
    base_mtime = 1_600_000_000.0
    paths = []

    def row(key: int, op: str) -> str:
        nonlocal seq
        seq += 1
        table = CDC_TABLES[key % n_tables]
        k = int(rng.integers(0, 1_000_000))
        value = round(float(rng.random()) * 10_000, 2)
        return json.dumps(
            {"id": str(seq), "seq": seq, "db": "app", "table_name": table, "op": op,
             "pk": key // n_tables, "k": k, "value": value, "ts_ms": 1_700_000_000_000 + seq}
        )

    snap = [row(int(key), "insert") for key in np.flatnonzero(live)]
    p = os.path.join(out_dir, "part-00000.json")
    _write_lines(p, snap, base_mtime)
    paths.append(p)
    for e in range(1, n_epochs + 1):
        keys = rng.integers(0, n_keys, size=epoch_rows)
        dels = rng.random(epoch_rows) < 0.25
        lines = []
        for key, is_del in zip(keys.tolist(), dels.tolist()):
            if not live[key]:
                lines.append(row(key, "insert"))
                live[key] = True
            elif is_del:
                lines.append(row(key, "delete"))
                live[key] = False
            else:
                lines.append(row(key, "update"))
        n_noise = int(epoch_rows * noise_share)
        for _ in range(n_noise):
            seq += 1
            lines.append(json.dumps(
                {"id": str(seq), "seq": seq, "db": "app", "table_name": CDC_NOISE_TABLE,
                 "op": "insert", "pk": int(rng.integers(0, n_keys)), "k": 0, "value": 0.0,
                 "ts_ms": 1_700_000_000_000 + seq}
            ))
        p = os.path.join(out_dir, f"part-{e:05d}.json")
        _write_lines(p, lines, base_mtime + e)
        paths.append(p)
    return paths


# ------------------------------------------------------------- query_suite

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PADJ = ("blue", "cold", "small", "big", "red", "green", "fast", "slow")
_PNOUN = ("widget", "anvil", "gear", "bolt", "spring", "valve", "lever", "cog")
_STATUS = ("F", "O", "P")
_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "en", "en", "es", "fr", "zh")
_DOC_WORDS = (
    "a the data table query join scan filter sort merge hash window part key order "
    "line value column batch stream spark small big fast slow agg group row vector "
    "customer"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: datetime, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), type=pa.timestamp("us"))


def tables(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """The ten tables the query registry reads, in the star-schema shape
    of the repository's test data, at ``scale`` (1.0 = 6M lineitems).
    Returns row counts by table."""
    rng = _rng(seed, _TAG_TABLES)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_line = max(800, int(6_000_000 * scale))
    n_ev = max(200, int(1_000_000 * scale))
    n_doc = 500
    n_emb = 500
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{_PADJ[a]} {_PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [_STATUS[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(datetime(1995, 1, 1), order_days),
        "o_orderpriority": [_PRIORITY[i] for i in rng.integers(0, 5, n_ord)],
    })
    l_ord = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(datetime(1995, 1, 2), order_days[l_ord] + rng.integers(0, 95, n_line)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us") + ev_us.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(20, n_cust), n_ev), pa.int64()),
        "event_type": [_EVENTS[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [json.dumps({"k": int(i)}) for i in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = _DOC_WORDS[int(rng.integers(0, len(_DOC_WORDS)))]
        else:
            toks = [_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(toks))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.1, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.05, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in out.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in out.items()}

