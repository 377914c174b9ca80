"""Seeded remote fixtures: the rows, the three live backends that hold
them, and the checksums every workload checks its outputs against.

Two tables per backend:

- ``wide``: the reference benchmark's 6-column row (int, float8, bytea,
  text, json, timestamp), about 250 bytes a row;
- ``narrow``: a 5-column mirror of TPC-H ``orders``.

All values are a pure function of ``--seed``, and every value survives
a round trip through sqlite, duckdb and PostgreSQL text exactly, so a
checksum computed here in Python must equal the one computed over the
rows a scan returns.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import sqlite3
import tempfile
import zlib
from dataclasses import dataclass

import numpy as np

BACKENDS = ("sqlite", "duckdb", "postgres")
WIDE_COLS = ("int_col", "float8_col", "bytea_col", "text_col", "json_col", "timestamp_col")
NARROW_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
N_CUST = 1500
_STATUS = ("F", "O", "P")
_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_LONG_BYTES = b"this is a " + b"o" * 190 + b"g bytes"
_LONG_TEXT = "This is a " + "o" * 190 + "g text"
_TS0 = dt.datetime(2025, 1, 1)

_DDL = {
    "sqlite": {
        "wide": "int_col INTEGER, float8_col REAL, bytea_col BLOB, text_col TEXT,"
        " json_col TEXT, timestamp_col TEXT",
        "narrow": "o_orderkey INTEGER, o_custkey INTEGER, o_orderstatus TEXT,"
        " o_totalprice REAL, o_orderpriority TEXT",
    },
    "duckdb": {
        "wide": "int_col BIGINT, float8_col DOUBLE, bytea_col BLOB, text_col VARCHAR,"
        " json_col VARCHAR, timestamp_col TIMESTAMP",
        "narrow": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR,"
        " o_totalprice DOUBLE, o_orderpriority VARCHAR",
    },
    "postgres": {
        "wide": "int_col BIGINT, float8_col FLOAT8, bytea_col BYTEA, text_col TEXT,"
        " json_col JSON, timestamp_col TIMESTAMP",
        "narrow": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus TEXT,"
        " o_totalprice FLOAT8, o_orderpriority TEXT",
    },
}


# -- rows -------------------------------------------------------------------
def wide_rows(seed: int, n: int, start: int = 0, tag: int = 0) -> list[tuple]:
    """``n`` wide rows with keys ``start .. start+n-1``; ``tag`` picks an
    independent value stream so insert batches differ from the fixtures."""
    rng = np.random.default_rng([seed, tag, start])
    milli = rng.integers(0, 10**7, n)
    salt = rng.integers(0, 2**63, n)
    secs = rng.integers(0, 365 * 86400, n)
    rows = []
    for i in range(n):
        s = int(salt[i])
        rows.append(
            (
                start + i,
                int(milli[i]) / 1000,
                s.to_bytes(8, "little") + _LONG_BYTES,
                f"{_LONG_TEXT} {s:016x}",
                json.dumps({"key": "value", "n": s % 1000, "arr": [i % 7, 2, 3]}),
                _TS0 + dt.timedelta(seconds=int(secs[i])),
            )
        )
    return rows


def narrow_rows(seed: int, n: int) -> list[tuple]:
    rng = np.random.default_rng([seed, 1])
    cust = rng.integers(1, N_CUST + 1, n)
    status = rng.integers(0, len(_STATUS), n)
    cents = rng.integers(90_000, 50_000_000, n)
    prio = rng.integers(0, len(_PRIORITY), n)
    return [
        (i + 1, int(cust[i]), _STATUS[status[i]], int(cents[i]) / 100, _PRIORITY[prio[i]])
        for i in range(n)
    ]


# -- checksums --------------------------------------------------------------
# The same aggregates in Spark SQL over a scan's DataFrame and in Python
# over the generated rows. crc32 is the standard CRC-32 in both.
WIDE_CHECK_SQL = (
    "count(*) AS n",
    "sum(int_col) AS k",
    "sum(CAST(round(float8_col * 1000) AS BIGINT)) AS f",
    "sum(crc32(CAST(bytea_col AS BINARY))) AS b",
    "sum(crc32(text_col)) AS t",
    "sum(crc32(CAST(json_col AS STRING))) AS j",
    "sum(crc32(date_format(timestamp_col, 'yyyy-MM-dd HH:mm:ss'))) AS ts",
)
NARROW_CHECK_SQL = (
    "count(*) AS n",
    "sum(o_orderkey) AS k",
    "sum(o_custkey) AS c",
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS p",
    "sum(crc32(o_orderstatus)) AS s",
    "sum(crc32(o_orderpriority)) AS o",
)


def _crc(s) -> int:
    return zlib.crc32(s if isinstance(s, bytes) else s.encode())


def wide_checksum(rows) -> tuple:
    return (
        len(rows),
        sum(r[0] for r in rows) if rows else None,
        sum(round(r[1] * 1000) for r in rows) if rows else None,
        sum(_crc(r[2]) for r in rows) if rows else None,
        sum(_crc(r[3]) for r in rows) if rows else None,
        sum(_crc(r[4]) for r in rows) if rows else None,
        sum(_crc(r[5].strftime("%Y-%m-%d %H:%M:%S")) for r in rows) if rows else None,
    )


def narrow_checksum(rows) -> tuple:
    return (
        len(rows),
        sum(r[0] for r in rows) if rows else None,
        sum(r[1] for r in rows) if rows else None,
        sum(round(r[3] * 100) for r in rows) if rows else None,
        sum(_crc(r[2]) for r in rows) if rows else None,
        sum(_crc(r[4]) for r in rows) if rows else None,
    )


def spark_checksum(df, check_sql) -> tuple:
    """One Spark action: the scan plus a one-row aggregate over it."""
    row = df.selectExpr(*check_sql).collect()[0]
    return tuple(None if v is None else int(v) for v in row)


# -- backends ---------------------------------------------------------------
def _pg_literal(v) -> str:
    if isinstance(v, bytes):
        return f"'\\x{v.hex()}'::bytea"
    if isinstance(v, dt.datetime):
        return f"'{v:%Y-%m-%d %H:%M:%S}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


class PostgresServer:
    """A private PostgreSQL cluster (``remote/pglocal.py``). The cluster
    directory goes under ``workdir`` when the ``postgres`` user can reach
    it, else under the system temp dir; either way ``stop`` removes it.
    A server that cannot start is an error, never a skip."""

    def __init__(self, workdir: str, system_tmp: str):
        from datafusion_remote_table_spark.remote.pglocal import start_local_postgres

        started = None
        for base in (workdir, system_tmp):
            saved = tempfile.tempdir
            tempfile.tempdir = base
            try:
                started = start_local_postgres("perfbench_pg_")
            finally:
                tempfile.tempdir = saved
            if started is not None:
                dirs = glob.glob(os.path.join(base, "perfbench_pg_*", "data"))
                break
        if started is None:
            raise RuntimeError(
                "perfbench: the local PostgreSQL server could not start (needs initdb/pg_ctl "
                "on PATH and a 'postgres' user); the postgres backend is required"
            )
        self.options, self._stop = started
        self.data_dir = max(dirs, key=os.path.getmtime) if dirs else None
        self._databases = 0

    def new_database(self):
        """A fresh database on the running server (one per fixture round)."""
        from datafusion_remote_table_spark.remote import PostgresConnectionOptions
        from datafusion_remote_table_spark.remote.pgwire import connect

        self._databases += 1
        name = f"perfbench_{self._databases}"
        conn = connect(self.options.host, self.options.port, self.options.username, "", "postgres")
        try:
            # the DB-API cursor opens a transaction, which CREATE DATABASE refuses
            conn._simple_query_raw(f"CREATE DATABASE {name}")
        finally:
            conn.close()
        return PostgresConnectionOptions(
            host=self.options.host, port=self.options.port,
            username=self.options.username, database=name,
        )

    def stop(self) -> None:
        if self._stop is not None:
            self._stop, stop = None, self._stop
            stop()


@dataclass
class Backend:
    name: str
    options: object  # a ConnectionOptions
    wide_n: int
    narrow_n: int


def raw_connect(options):
    """A DB-API connection that bypasses the product (set-up and checks)."""
    if options.backend == "sqlite":
        return sqlite3.connect(options.path)
    if options.backend == "duckdb":
        import duckdb

        return duckdb.connect(options.path)
    from datafusion_remote_table_spark.remote.pgwire import connect

    return connect(options.host, options.port, options.username, "", options.database)


def exec_sql(options, statements, fetch: bool = False):
    conn = raw_connect(options)
    try:
        cur = conn.cursor()
        out = None
        for sql in statements:
            cur.execute(sql)
            if fetch:
                out = cur.fetchall()
        conn.commit()
        return out
    finally:
        conn.close()


def create_table(options, table: str, kind: str) -> None:
    exec_sql(options, [f"DROP TABLE IF EXISTS {table}", f"CREATE TABLE {table} ({_DDL[options.backend][kind]})"])


def load_rows(options, table: str, kind: str, rows: list[tuple]) -> None:
    """Create ``table`` and bulk-load ``rows`` without the product's paths."""
    create_table(options, table, kind)
    if not rows:
        return
    backend = options.backend
    if backend == "sqlite":
        con = sqlite3.connect(options.path)
        marks = ",".join("?" * len(rows[0]))
        if kind == "wide":
            rows = [r[:5] + (f"{r[5]:%Y-%m-%d %H:%M:%S}",) for r in rows]
        con.executemany(f"INSERT INTO {table} VALUES ({marks})", rows)
        con.commit()
        con.close()
    elif backend == "duckdb":
        import duckdb
        import pyarrow as pa

        cols = WIDE_COLS if kind == "wide" else NARROW_COLS
        tbl = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
        con = duckdb.connect(options.path)
        con.register("perfbench_rows", tbl)
        con.execute(f"INSERT INTO {table} SELECT * FROM perfbench_rows")
        con.close()
    else:
        stmts = []
        for i in range(0, len(rows), 2000):
            values = ",".join(
                "(" + ",".join(_pg_literal(v) for v in r) + ")" for r in rows[i : i + 2000]
            )
            stmts.append(f"INSERT INTO {table} VALUES {values}")
        exec_sql(options, stmts)


def remote_checksum(options, table: str, kind: str) -> tuple:
    """Read a whole table back through a raw cursor and checksum it."""
    cols = WIDE_COLS if kind == "wide" else NARROW_COLS
    rows = exec_sql(options, [f"SELECT {', '.join(cols)} FROM {table}"], fetch=True)
    if kind == "narrow":
        return narrow_checksum(rows)
    # sqlite keeps the timestamp as text
    return wide_checksum([
        r[:5] + (r[5] if isinstance(r[5], dt.datetime) else dt.datetime.fromisoformat(r[5]),)
        for r in rows
    ])


class Fixtures:
    """The three backends with their seeded ``wide``/``narrow`` tables.

    ``load`` is one fixture round: fresh sqlite/duckdb files and a fresh
    postgres database, each loaded with the same rows."""

    def __init__(self, workdir: str, system_tmp: str, seed: int, sizes: dict):
        self.workdir = workdir
        self.sizes = sizes  # backend -> (wide_n, narrow_n)
        self.wide = wide_rows(seed, max(s[0] for s in sizes.values()))
        self.narrow = narrow_rows(seed, max(s[1] for s in sizes.values()))
        self.pg = PostgresServer(workdir, system_tmp)
        self.backends: dict[str, Backend] = {}
        self._round = 0

    def load(self) -> None:
        from datafusion_remote_table_spark.remote import (
            DuckdbConnectionOptions,
            SqliteConnectionOptions,
        )

        self._round += 1
        for name in BACKENDS:
            wide_n, narrow_n = self.sizes[name]
            if name == "sqlite":
                opts = SqliteConnectionOptions(path=os.path.join(self.workdir, f"remote{self._round}.sqlite"))
            elif name == "duckdb":
                opts = DuckdbConnectionOptions(path=os.path.join(self.workdir, f"remote{self._round}.duckdb"))
            else:
                opts = self.pg.new_database()
            load_rows(opts, "wide", "wide", self.wide[:wide_n])
            load_rows(opts, "narrow", "narrow", self.narrow[:narrow_n])
            old = self.backends.get(name)
            self.backends[name] = Backend(name, opts, wide_n, narrow_n)
            if old is not None and name != "postgres":
                os.remove(old.options.path)

    def close(self) -> None:
        self.pg.stop()
