"""Output checks that run outside the timed window. They read the
program's output files and the generated inputs with DuckDB, never
through the program."""

from __future__ import annotations

import os

import duckdb

from perfbench.gen import CDC_TABLE_REGEX


def data_files(root: str, suffix: str = ".parquet") -> list[str]:
    """Data files under ``root`` as Spark's readers see them: any path
    component starting with ``.`` or ``_`` (staging, trash, markers)
    is hidden."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out.extend(os.path.join(d, f) for f in files
                   if f.endswith(suffix) and not f.startswith((".", "_")))
    return sorted(out)


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


#: order-insensitive digest of a (table_name, pk, k, value) relation
_DIGEST = (
    "SELECT count(*)::BIGINT AS n, "
    "coalesce(sum(hash(table_name::VARCHAR, pk::BIGINT, k::BIGINT, value::DOUBLE)), 0)::HUGEINT AS h "
    "FROM ({rel})"
)


def cdc_expected_digest(change_files: list[str]) -> tuple[int, int]:
    """Row count and value hash of the state the changelog implies:
    events of the replicated tables only; per key the event with the
    highest seq wins, and a winning delete removes the key."""
    rel = (
        f"SELECT table_name, pk, k, value FROM read_json({_sql_list(change_files)}, "
        "format='newline_delimited', columns={'seq': 'BIGINT', 'table_name': 'VARCHAR', "
        "'op': 'VARCHAR', 'pk': 'BIGINT', 'k': 'INTEGER', 'value': 'DOUBLE'}) "
        f"WHERE regexp_matches(table_name, '{CDC_TABLE_REGEX}') "
        "QUALIFY row_number() OVER (PARTITION BY table_name, pk ORDER BY seq DESC) = 1 "
        "AND op <> 'delete'"
    )
    with duckdb.connect() as con:
        n, h = con.execute(_DIGEST.format(rel=rel)).fetchone()
    return int(n), int(h)


def target_digest(target_dir: str) -> tuple[int, int]:
    """Row count and value hash of a merge target's live files."""
    files = data_files(target_dir)
    if not files:
        return 0, 0
    rel = f"SELECT table_name, pk, k, value FROM read_parquet({_sql_list(files)})"
    with duckdb.connect() as con:
        n, h = con.execute(_DIGEST.format(rel=rel)).fetchone()
    return int(n), int(h)


def check_cdc(change_files: list[str], target_dir: str) -> dict:
    want = cdc_expected_digest(change_files)
    got = target_digest(target_dir)
    return {"ok": got == want, "rows": got[0], "expected_rows": want[0]}
