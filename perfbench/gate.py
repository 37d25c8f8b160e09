"""Correctness gate, run untimed after each timed window.

Queries: each query's last DataFrame is compared with its DuckDB oracle
through ``rabbithole_spark.oracle.compare``. Oracle results depend only
on the fixed tables, so they are computed once per checkout and cached
as Arrow IPC files (the slowest oracles take tens of seconds each).

ETL: every valid message must be in the sqlite sink exactly once with
its mapped values, and no malformed message may be there.
"""

from __future__ import annotations

import glob
import hashlib
import os
import sqlite3
import sys

import pyarrow as pa

from spool import Message


def _oracle_path(cache_dir: str, sf_dir: str, name: str, sql: str) -> str:
    key = hashlib.sha256(f"{os.path.abspath(sf_dir)}\0{name}\0{sql}".encode())
    return os.path.join(cache_dir, f"{name}-{key.hexdigest()[:16]}.arrow")


def oracle_results(cache_dir: str, sf_dir: str, specs: dict, names: list[str]) -> dict:
    """Oracle result file per query name; computes missing ones."""
    from rabbithole_spark.oracle import duckdb_connect

    os.makedirs(cache_dir, exist_ok=True)
    paths, con = {}, None
    for name in names:
        path = _oracle_path(cache_dir, sf_dir, name, specs[name].oracle)
        if not os.path.exists(path):
            con = con or duckdb_connect(sf_dir)
            table = con.execute(specs[name].oracle).arrow()
            tmp = path + ".tmp"
            with pa.OSFile(tmp, "wb") as sink, pa.ipc.new_file(sink, table.schema) as w:
                w.write_table(table)
            os.replace(tmp, path)
        paths[name] = path
    if con is not None:
        con.close()
    return paths


def check_queries(dfs: dict, oracle_paths: dict) -> list[str]:
    """Names of the queries whose DataFrame differs from its oracle."""
    import duckdb

    from rabbithole_spark.oracle import compare

    con = duckdb.connect()
    bad = []
    try:
        for name, df in sorted(dfs.items()):
            with pa.memory_map(oracle_paths[name]) as src:
                con.register("oracle_result", pa.ipc.open_file(src).read_all())
            try:
                report = compare(name, df, "SELECT * FROM oracle_result", con)
            except Exception as exc:  # a failing query is a finding, not a crash
                print(f"gate: {name} raised {exc!r}", file=sys.stderr, flush=True)
                bad.append(name)
                continue
            finally:
                con.unregister("oracle_result")
            if not report.ok:
                print(f"gate: {report}", file=sys.stderr, flush=True)
                bad.append(name)
    finally:
        con.close()
    return bad


def read_sink(db_path: str, with_due: bool) -> list[tuple]:
    """All rows of the sink's table, across shard files if sharded."""
    files = sorted(glob.glob(db_path + ".shard-*")) or [db_path]
    cols = "seq, user_id, value, event_type, written_at" + (", due" if with_due else "")
    rows: list[tuple] = []
    for path in files:
        if not os.path.exists(path):
            continue
        con = sqlite3.connect(path)
        try:
            rows.extend(con.execute(f"SELECT {cols} FROM events_out").fetchall())
        finally:
            con.close()
    return rows


def check_messages(messages: list[Message], rows: list[tuple]) -> int:
    """Failed messages: valid ones missing, duplicated or with wrong
    values, and malformed ones that were written."""
    seen: dict[int, list[tuple]] = {}
    for row in rows:
        seen.setdefault(row[0], []).append(row)
    failed = 0
    for m in messages:
        got = seen.get(m.seq, [])
        if m.malformed:
            failed += bool(got)
        elif len(got) != 1 or got[0][1:4] != (m.user_id, m.value, m.event_type):
            failed += 1
    known = {m.seq for m in messages}
    return failed + sum(len(v) for k, v in seen.items() if k not in known)
