"""The three workloads and the traced layer probes.

Each workload is a closed loop with one client on the main thread: it
repeats a *pass* (a fixed list of operations) until ``--seconds`` are
used, runs at least one, and never starts a pass it expects to overrun.
Every operation's output is checked after its timed region; a failed or
mismatched operation counts in ``failed`` and is never dropped.
"""

from __future__ import annotations

import gc
import hashlib
import math
import os
import statistics
import time

import numpy as np

import fixtures as fx

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

COMPARABLE_13 = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier", "q6_forecast_revenue",
    "q10_returned_items", "window_topn_per_group", "events_sessionize", "agg_distinct",
    "dedup_exact", "dedup_minhash_lsh", "ann_cosine_topk", "text_quality_score", "text_langid",
)
# run after the comparable-13 and share their stagings within a pass
STAGED_CHAIN = (
    "remote_table_scan", "dedup_rate_by_source", "dedup_cluster_size_histogram",
    "dedup_graph_pagerank", "corpus_clean_pipeline",
)
QUERY_SET = COMPARABLE_13 + STAGED_CHAIN
PLANS_PROBE_QUERY = "remote_filter_pushdown"


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: a Beta-weighted mean of all
    order statistics. A run has 12 to 18 latencies; the plain sample
    median of so few jumps between neighbouring operations, this one
    averages over them."""
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def pdf(x: float) -> float:
        return math.exp((a - 1) * (math.log(x) + math.log1p(-x)) - log_beta)

    steps = 64  # midpoint rule over each order statistic's interval
    h = 1 / (n * steps)
    return sum(v * h * sum(pdf((i * steps + k + 0.5) * h) for k in range(steps))
               for i, v in enumerate(xs))


# -- operation bookkeeping ---------------------------------------------------
class Ops:
    """Runs and records operations: wall time, Spark stage metrics and
    the outcome of the output check."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.current_pass = None
        self.last_out = None

    def run(self, kind: str, name: str, fn, check, rows: int = 0):
        ctx = self.ctx
        rec = {"kind": kind, "name": name, "pass": self.current_pass, "rows": rows,
               "ok": False, "wall": 0.0, "spark": {}}
        self.attempted += 1
        out = None
        with ctx.tracer.op(f"{kind}:{name}:{self.attempted}"), ctx.tracer.span(f"op.{kind}"):
            with ctx.spark_layer.group(name) as stage:
                t0 = time.perf_counter()
                try:
                    out = fn()
                    err = None
                except Exception as ex:  # noqa: BLE001 - counted, reported
                    err = f"{name}: {type(ex).__name__}: {ex}"[:400]
                rec["wall"] = time.perf_counter() - t0
            rec["spark"] = stage
        if err is None:
            try:
                problem = check(out)
            except Exception as ex:  # noqa: BLE001
                problem = f"check raised {type(ex).__name__}: {ex}"
            err = None if problem is None else f"{name}: {problem}"[:400]
        self.last_out = out
        if err is None:
            rec["ok"] = True
        else:
            self.failed += 1
            self.failures.append(err)
        self.records.append(rec)
        return rec

    def of(self, kind: str, passes=None) -> list[dict]:
        return [r for r in self.records if r["kind"] == kind and (passes is None or r["pass"] in passes)]


def expect(got, want):
    return None if got == want else f"got {got}, want {want}"


# -- remote_roundtrip: scans ------------------------------------------------------
SCAN_SIZES = {"sqlite": (20_000, 40_000), "duckdb": (40_000, 40_000), "postgres": (8_000, 16_000)}
INSERT_SIZES = {"sqlite": 8_000, "duckdb": 16_000, "postgres": 4_000}
# remote fixtures the queries workload loads for the traced probes
PROBE_SIZES = {"sqlite": (20_000, 30_000), "duckdb": (20_000, 30_000), "postgres": (10_000, 20_000)}
PUSHDOWN_ROWS = 1000


def scan_pass(ctx, ops: Ops, pass_idx: int) -> None:
    from pyspark.sql import functions as F

    from datafusion_remote_table_spark.remote import RemoteTable

    spark, fxs = ctx.spark, ctx.fixtures
    rng = np.random.default_rng([ctx.seed, 7, pass_idx])
    for b in fxs.backends.values():
        wide = fxs.wide[: b.wide_n]
        narrow = fxs.narrow[: b.narrow_n]
        span = ctx.tracer.span

        def scan(source, check_sql, **kw):
            with span("remote.table"):
                df = RemoteTable(b.options, [source]).read(spark, **kw)
            return df, check_sql

        def action(df_check):
            df, check_sql = df_check
            with span("spark.action"):
                return fx.spark_checksum(df, check_sql)

        ops.run("full_scan", f"{b.name}.wide.full",
                lambda: action(scan("wide", fx.WIDE_CHECK_SQL)),
                lambda got: expect(got, fx.wide_checksum(wide)), rows=b.wide_n)
        ops.run("partitioned_scan", f"{b.name}.narrow.partitioned",
                lambda: action(scan("narrow", fx.NARROW_CHECK_SQL, partition_column="o_orderkey",
                                    fetch_partitions=ctx.nproc)),
                lambda got: expect(got, fx.narrow_checksum(narrow)), rows=b.narrow_n)
        lo = int(rng.integers(1, b.narrow_n - PUSHDOWN_ROWS))
        hi = lo + PUSHDOWN_ROWS

        def filtered():
            df, check_sql = scan("narrow", fx.NARROW_CHECK_SQL)
            df = df.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
            return action((df, check_sql))

        want = fx.narrow_checksum([r for r in narrow if lo <= r[0] < hi])
        ops.run("pushdown", f"{b.name}.narrow.filter", filtered,
                lambda got: expect(got, want), rows=PUSHDOWN_ROWS)
        width = max(1, round(PUSHDOWN_ROWS * fx.N_CUST / b.narrow_n))
        c0 = int(rng.integers(1, fx.N_CUST - width + 2))
        c1 = c0 + width - 1
        want_p = fx.narrow_checksum([r for r in narrow if c0 <= r[1] <= c1])
        ops.run("pushdown", f"{b.name}.narrow.predicate",
                lambda: action(scan("narrow", fx.NARROW_CHECK_SQL,
                                    predicate=f"o_custkey BETWEEN {c0} AND {c1}")),
                lambda got: expect(got, want_p), rows=want_p[0])
        ops.run("pushdown", f"{b.name}.narrow.limit",
                lambda: action(scan("narrow", ("count(*) AS n", "count(DISTINCT o_orderkey) AS d"),
                                    limit=PUSHDOWN_ROWS)),
                lambda got: expect(got, (PUSHDOWN_ROWS, PUSHDOWN_ROWS)), rows=PUSHDOWN_ROWS)

        def count():
            with span("remote.table"):
                return RemoteTable(b.options, ["narrow"]).count()

        ops.run("count", f"{b.name}.narrow.count", count, lambda got: expect(got, b.narrow_n), rows=1)

        def aggregate():
            with span("remote.table"):
                df = RemoteTable(b.options, ["narrow"]).aggregate(
                    spark, ["o_orderstatus"],
                    [("COUNT(*)", "n"), ("CAST(SUM(o_custkey) AS BIGINT)", "s")])
            with span("spark.action"):
                return {r[0]: (int(r[1]), int(r[2])) for r in df.collect()}

        want_agg: dict = {}
        for r in narrow:
            n, s = want_agg.get(r[2], (0, 0))
            want_agg[r[2]] = (n + 1, s + r[1])
        ops.run("pushdown", f"{b.name}.narrow.aggregate", aggregate,
                lambda got: expect(got, want_agg), rows=len(want_agg))


# -- remote_roundtrip: inserts ----------------------------------------------------
class InsertInputs:
    """Seeded insert batches, written once to parquet so each insert
    reads a real file source: an append into the empty table, then an
    overwrite with other rows (the staging-table swap)."""

    def __init__(self, ctx):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.batches: dict[str, dict[str, tuple[list, str]]] = {}
        for name in ctx.fixtures.backends:
            n = 200 if ctx.self_test else INSERT_SIZES[name]
            per = {}
            for tag, label in ((11, "append"), (12, "overwrite")):
                rows = fx.wide_rows(ctx.seed, n, start=(tag - 11) * 10 * n, tag=tag)
                tbl = pa.table({c: [r[i] for r in rows] for i, c in enumerate(fx.WIDE_COLS)})
                path = os.path.join(ctx.workdir, f"insert_{name}_{label}.parquet")
                pq.write_table(tbl, path)
                per[label] = (rows, path)
            self.batches[name] = per


def insert_pass(ctx, ops: Ops, pass_idx: int) -> None:
    from datafusion_remote_table_spark.remote import RemoteTable

    spark, span = ctx.spark, ctx.tracer.span
    for b in ctx.fixtures.backends.values():
        batches = ctx.inputs.batches[b.name]
        fx.exec_sql(b.options, ["DELETE FROM ins"])

        def insert(label, mode="append"):
            rows, path = batches[label]
            df = spark.read.parquet(path)
            with span("remote.table"):
                RemoteTable(b.options, ["ins"]).insert(df, mode=mode)
            return len(rows)

        a, c = batches["append"][0], batches["overwrite"][0]
        ops.run("insert", f"{b.name}.append", lambda: insert("append"),
                lambda n: expect(fx.remote_checksum(b.options, "ins", "wide"), fx.wide_checksum(a)),
                rows=len(a))
        ops.run("insert", f"{b.name}.overwrite", lambda: insert("overwrite", "overwrite"),
                lambda n: expect(fx.remote_checksum(b.options, "ins", "wide"), fx.wide_checksum(c)),
                rows=len(c))


def roundtrip_pass(ctx, ops: Ops, pass_idx: int) -> None:
    scan_pass(ctx, ops, pass_idx)
    insert_pass(ctx, ops, pass_idx)


def roundtrip_metrics(ops: Ops, passes: list[dict]) -> dict:
    bulk = ops.of("full_scan") + ops.of("partitioned_scan")
    push = [r["wall"] for r in ops.of("pushdown")]
    return {
        "read_rows_per_s": sum(r["rows"] for r in bulk) / sum(r["wall"] for r in bulk),
        "op_p50_s": hd_median(push),
        "headline_s": statistics.median(
            sum(r["wall"] for r in ops.of("insert", {p["idx"]})) for p in passes),
    }


# -- queries ------------------------------------------------------------------------
def fingerprint(pdf) -> str:
    """Order-insensitive fingerprint of a result: columns sorted by name,
    datetimes and objects as strings (as the strict oracle compare
    canonicalizes them), each value tagged with its dtype family, exact
    float repr, rows sorted."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cols = []
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            cols.append(("o", s.astype("datetime64[us]").astype(str).tolist()))
        elif pd.api.types.is_bool_dtype(s):
            cols.append(("b", [str(bool(v)) for v in s]))
        elif pd.api.types.is_integer_dtype(s):
            cols.append(("i", [str(int(v)) for v in s]))
        elif pd.api.types.is_float_dtype(s):
            cols.append(("f", [repr(float(v)) for v in s]))
        else:
            cols.append(("o", s.astype(str).tolist()))
    head = "|".join(f"{c}:{fam}" for c, (fam, _) in zip(pdf.columns, cols))
    rows = sorted("\x1f".join(vals) for vals in zip(*(v for _, v in cols))) if cols else []
    h = hashlib.md5(head.encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def oracle_fingerprints(sf_names=("sf0.01", "sf0.001")) -> dict:
    """DuckDB-oracle fingerprints of the query set on the bundled data."""
    import duckdb

    from datafusion_remote_table_spark import plans

    plans.load_all()
    out = {}
    for sf in sf_names:
        sf_dir = os.path.join(DATA, sf)
        con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')")
        out[sf] = {}
        for name in QUERY_SET + (PLANS_PROBE_QUERY,):
            t0 = time.perf_counter()
            out[sf][name] = fingerprint(con.execute(plans.ORACLE[name]).fetchdf())
            print(f"# {sf} {name} {time.perf_counter() - t0:.1f}s {out[sf][name]}", flush=True)
        con.close()
    return out


def clear_stagings(spark) -> None:
    """Drop every query-owned staging between cold runs. This is the one
    place the benchmark reaches into the staging caches."""
    from datafusion_remote_table_spark.operators import dedup as op_dedup
    from datafusion_remote_table_spark.plans import llm_data, relational

    llm_data._MINHASH_STAGE_CACHE.clear()
    relational._RANK_STAGE_CACHE.clear()
    op_dedup.release_persisted()
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()


def run_query(ctx, ops: Ops, name: str, sf_dir: str, want: str, kind: str = "query"):
    from datafusion_remote_table_spark import plans

    timing = {}

    def go():
        span = ctx.tracer.span
        t0 = time.perf_counter()
        with span("plans.build"):
            df = plans.QUERIES[name](ctx.spark, sf_dir)
        t1 = time.perf_counter()
        with span("spark.action"):
            pdf = df.toPandas()
        timing["build"], timing["execute"] = t1 - t0, time.perf_counter() - t1
        return pdf

    rec = ops.run(kind, name, go, lambda pdf: expect(fingerprint(pdf), want))
    rec.update(timing)
    return rec


def query_pass(ctx, ops: Ops, pass_idx: int) -> None:
    want = ctx.fingerprints[ctx.sf_name]
    for name in COMPARABLE_13:
        clear_stagings(ctx.spark)
        run_query(ctx, ops, name, ctx.sf_dir, want[name])
    for name in STAGED_CHAIN:
        run_query(ctx, ops, name, ctx.sf_dir, want[name])
    clear_stagings(ctx.spark)


def query_metrics(ops: Ops, passes: list[dict]) -> dict:
    qs = ops.of("query")
    walls = [r["wall"] for r in qs]
    return {
        "read_rows_per_s": sum(r["spark"].get("input_records", 0) for r in qs) / sum(walls),
        "op_p50_s": hd_median(walls),
        "headline_s": statistics.median(
            sum(r["wall"] for r in ops.of("query", {p["idx"]}) if r["name"] in COMPARABLE_13)
            for p in passes),
    }


# -- traced layer probes ----------------------------------------------------------
def layer_probes(ctx, ops: Ops) -> dict:
    """Per-backend replays of each remote layer's public functions on the
    fixture tables. Every probe output is checked like a workload
    operation."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    from datafusion_remote_table_spark.remote import RemoteTable
    from datafusion_remote_table_spark.remote.connection import connect
    from datafusion_remote_table_spark.remote.datasource import (
        RemoteTableWriter,
        infer_remote_schema,
    )

    spark, span, m = ctx.spark, ctx.tracer.span, {}
    nproc = ctx.nproc
    for b in ctx.fixtures.backends.values():
        sfx = f".{b.name}"
        wide = ctx.fixtures.wide[: b.wide_n]
        table = RemoteTable(b.options, ["wide"])
        sql = f"SELECT {', '.join(fx.WIDE_COLS)} FROM wide"

        def connect_once():
            with span("remote.connection"):
                connect(b.options).close()

        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            connect_once()
            walls.append(time.perf_counter() - t0)
        m["remote.connection.connect_s" + sfx] = statistics.median(walls)

        def raw_cursor():
            conn = connect(b.options)
            try:
                with span("remote.connection"):
                    cur = conn.cursor()
                    t0 = time.perf_counter()
                    cur.execute(sql)
                    t1 = time.perf_counter()
                    rows = cur.fetchall()
                    t2 = time.perf_counter()
            finally:
                conn.close()
            return len(rows), t1 - t0, t2 - t1

        ops.run("probe", f"{b.name}.cursor", raw_cursor, lambda got: expect(got[0], b.wide_n))
        n, exec_s, fetch_s = ops.last_out
        schema = infer_remote_schema(table.spec())
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            with span("remote.datasource"):
                infer_remote_schema(table.spec())
            walls.append(time.perf_counter() - t0)
        m["remote.datasource.infer_schema_s" + sfx] = statistics.median(walls)
        arrow_schema = to_arrow_schema(schema)

        def replay():
            spec = table.spec(columns=list(fx.WIDE_COLS))
            t0 = time.perf_counter()
            first, batches, rows = None, 0, 0
            with span("remote.scan"):
                for batch in spec.fetch_arrow((), arrow_schema):
                    if first is None:
                        first = time.perf_counter() - t0
                    batches += 1
                    rows += batch.num_rows
            return rows, first, batches, time.perf_counter() - t0

        ops.run("probe", f"{b.name}.fetch_arrow", replay, lambda got: expect(got[0], b.wide_n))
        rows, first, batches, fetch_wall = ops.last_out
        m["remote.scan.first_batch_s" + sfx] = first
        m["remote.scan.batches" + sfx] = batches
        m["remote.scan.fetch_rows_per_s" + sfx] = rows / fetch_wall
        m["remote.cursor.execute_s" + sfx] = exec_s
        m["remote.cursor.fetch_rows_per_s" + sfx] = n / fetch_s
        m["remote.scan.to_arrow_s" + sfx] = fetch_wall - (exec_s + fetch_s)

        def spark_scan():
            df = table.read(spark)
            with span("spark.action"):
                return fx.spark_checksum(df, fx.WIDE_CHECK_SQL)

        rec = ops.run("probe", f"{b.name}.spark_scan", spark_scan,
                      lambda got: expect(got, fx.wide_checksum(wide)))
        m["remote.datasource.scan_handoff_s" + sfx] = rec["wall"] - fetch_wall

        narrow_t = RemoteTable(b.options, ["narrow"])
        part_spec = narrow_t.spec(partition_column="o_orderkey", fetch_partitions=nproc)
        t0 = time.perf_counter()
        with span("remote.scan"):
            preds = part_spec.partition_predicates()
        m["remote.scan.partition_plan_s" + sfx] = time.perf_counter() - t0
        if nproc > 1 and len(preds) != nproc:
            ops.failed += 1
            ops.failures.append(f"{b.name}.partition_plan: {len(preds)} ranges for {nproc} partitions")
        t0 = time.perf_counter()
        with span("remote.table"):
            n = narrow_t.count()
        m["remote.table.count_s" + sfx] = time.perf_counter() - t0
        if n != b.narrow_n:
            ops.failed += 1
            ops.failures.append(f"{b.name}.count: {n} != {b.narrow_n}")

        lo = b.narrow_n // 3
        pushed = narrow_t.read(spark).filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < lo + PUSHDOWN_ROWS))
        rec = ops.run("probe", f"{b.name}.pushdown",
                      lambda: pushed.selectExpr("count(*)").collect()[0][0],
                      lambda got: expect(got, PUSHDOWN_ROWS))
        m["remote.scan.shipped_per_returned" + sfx] = (
            rec["spark"].get("input_records", 0) / PUSHDOWN_ROWS)

        # the insert path: the writer alone on pre-built Arrow batches,
        # then the same rows through RemoteTable.insert
        probe_rows = wide[: min(len(wide), 5000)]
        columns = {c: [r[i] for r in probe_rows] for i, c in enumerate(fx.WIDE_COLS)}
        if pa.types.is_string(arrow_schema.field("timestamp_col").type):  # sqlite keeps text
            columns["timestamp_col"] = [f"{v:%Y-%m-%d %H:%M:%S}" for v in columns["timestamp_col"]]
        tbl = pa.table(columns, schema=arrow_schema)
        fx.create_table(b.options, "probe_ins", "wide")

        def writer():
            w = RemoteTableWriter(RemoteTable(b.options, ["probe_ins"]).spec(), schema)
            t0 = time.perf_counter()
            with span("remote.datasource"):
                w.write(iter(tbl.to_batches(max_chunksize=b.options.stream_chunk_size)))
            return time.perf_counter() - t0

        ops.run("probe", f"{b.name}.writer", writer,
                lambda s: expect(fx.remote_checksum(b.options, "probe_ins", "wide"),
                                 fx.wide_checksum(probe_rows)))
        writer_s = ops.last_out
        m["remote.datasource.writer_rows_per_s" + sfx] = len(probe_rows) / writer_s
        fx.exec_sql(b.options, ["DELETE FROM probe_ins"])
        path = os.path.join(ctx.workdir, f"probe_{b.name}.parquet")
        pq.write_table(tbl, path)
        df = spark.read.parquet(path)

        def insert():
            with span("remote.table"):
                RemoteTable(b.options, ["probe_ins"]).insert(df)

        rec = ops.run("probe", f"{b.name}.insert", insert,
                      lambda _: expect(fx.remote_checksum(b.options, "probe_ins", "wide"),
                                       fx.wide_checksum(probe_rows)))
        m["remote.datasource.insert_handoff_s" + sfx] = rec["wall"] - writer_s
    return m
