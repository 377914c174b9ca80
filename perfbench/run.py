"""Benchmark for the remote table provider and the query registry.

    python3 perfbench/run.py --workload remote_roundtrip --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py fingerprints      # regenerate fingerprints.json

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a detail record (host stamp, seeds, failures, per-pass
figures). Everything the run writes goes under ``.perfbench/`` in the
repository root; the trace of a traced run stays there as
``.perfbench/trace-<workload>-<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
PHASES: dict[str, float] = {}  # phase -> seconds since start, for the detail record
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("remote_roundtrip", "queries_sf001")
DATA_SEED = 42  # the bundled read-only query data (TESTDATA.md)
SETUP_ROUNDS = 3


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def _isolate(workdir: str) -> str:
    """Point every temp file of this process, its JVM and its Python
    workers into ``workdir``; returns the system temp dir."""
    system_tmp = tempfile.gettempdir()
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    return system_tmp


class Context:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, self_test: bool):
        from layers import HostStamp, Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.self_test = self_test
        self.tracer = Tracer(trace)
        self.host = HostStamp()
        self.nproc = self.host.nproc
        self.spark = None
        self.spark_layer = None
        self.fixtures = None
        self.inputs = None
        self.fingerprints = None
        self.sqlite_mirror = None
        self.sf_name = "sf0.001" if self_test else "sf0.01"
        self.workdir = None


def start_spark(ctx) -> float:
    from layers import SparkLayer

    from datafusion_remote_table_spark.session import get_spark

    t0 = time.perf_counter()
    with ctx.tracer.span("session"):
        ctx.spark = get_spark("perfbench", master=f"local[{ctx.nproc}]")
    elapsed = time.perf_counter() - t0
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.spark_layer = SparkLayer(ctx.spark)
    return elapsed


def remote_sizes(ctx, workload: str) -> dict:
    import workloads as wl

    if ctx.self_test:
        return {b: (400, 3000) for b in ("sqlite", "duckdb", "postgres")}
    return wl.SCAN_SIZES if workload == "remote_roundtrip" else wl.PROBE_SIZES


def setup(ctx) -> dict:
    """Session start, fixture load (several rounds, median), postgres
    boot and warm-up. Returns the set-up figures."""
    import fixtures as fx
    import workloads as wl

    out = {"session.start_s": start_spark(ctx)}
    t0 = time.perf_counter()
    needs_remote = ctx.workload != "queries_sf001" or ctx.trace
    rounds = []
    if needs_remote:
        ctx.fixtures = fx.Fixtures(ctx.workdir, ctx.system_tmp, ctx.seed, remote_sizes(ctx, ctx.workload))
        ctx.proc.pg_data_dir = ctx.fixtures.pg.data_dir
    once_s = time.perf_counter() - t0
    for _ in range(SETUP_ROUNDS):
        t = time.perf_counter()
        if needs_remote:
            ctx.fixtures.load()
        if ctx.workload == "queries_sf001":
            _query_fixture_round(ctx)
        rounds.append(time.perf_counter() - t)
    t = time.perf_counter()
    if ctx.workload == "remote_roundtrip":
        ctx.inputs = wl.InsertInputs(ctx)
        for b in ctx.fixtures.backends.values():
            fx.create_table(b.options, "ins", "wide")
    if ctx.workload == "queries_sf001":
        with open(wl.FINGERPRINTS) as fh:
            ctx.fingerprints = json.load(fh)
    once_s += time.perf_counter() - t
    out["session.warmup_s"] = warm_up(ctx)
    out["setup_s"] = out["session.start_s"] + once_s + statistics.median(rounds) + out["session.warmup_s"]
    out["setup.rounds_s"] = rounds
    return out


def _query_fixture_round(ctx) -> None:
    """The query workload's repeatable set-up: the registry's stand-in
    sqlite remote built afresh from the bundled parquet."""
    import workloads as wl

    from datafusion_remote_table_spark import plans
    from datafusion_remote_table_spark.plans.remote_queries import ensure_sqlite_remote

    plans.load_all()
    ctx.sf_dir = os.path.join(wl.DATA, ctx.sf_name)
    if ctx.sqlite_mirror is not None:
        os.remove(ctx.sqlite_mirror)
    ctx.sqlite_mirror = ensure_sqlite_remote(ctx.sf_dir)


def warm_up(ctx) -> float:
    """Pay the session's first-use costs of the Python data source: a
    filtered scan and an insert on sqlite. The query workload has no
    warm-up: its first pass is the cold one a new session pays."""
    import fixtures as fx
    from pyspark.sql import functions as F

    from datafusion_remote_table_spark.remote import RemoteTable

    t0 = time.perf_counter()
    if ctx.workload == "remote_roundtrip":
        opts = ctx.fixtures.backends["sqlite"].options
        df = RemoteTable(opts, ["narrow"]).read(ctx.spark).filter(F.col("o_orderkey") <= 10)
        df.collect()
        fx.create_table(opts, "warm", "narrow")
        RemoteTable(opts, ["warm"]).insert(df)
    return time.perf_counter() - t0


def measure(ctx, ops, pass_fn) -> list[dict]:
    passes = []
    start = time.perf_counter()
    while True:
        idx = len(passes)
        ops.current_pass = idx
        t0 = time.perf_counter()
        pass_fn(ctx, ops, idx)
        wall = time.perf_counter() - t0
        ctx.host.pass_done()
        # the pass's operations back to back: output checks and the
        # benchmark's own bookkeeping between them are not counted
        ops_s = sum(r["wall"] for r in ops.records if r["pass"] == idx)
        passes.append({"idx": idx, "wall": wall, "ops_s": ops_s})
        used = time.perf_counter() - start
        typical = statistics.median(x["wall"] for x in passes)
        if ctx.self_test or used + typical > ctx.seconds:
            return passes


def end_to_end(ops, passes, setup_out, metric_fn) -> dict:
    m = {
        "setup_s": setup_out["setup_s"],
        "pass_s": statistics.median(p["ops_s"] for p in passes),
    }
    m.update(metric_fn(ops, passes))
    return m


def per_layer(ctx, ops, passes, setup_out, probes: dict, cpu: dict, cpu_wall: float) -> dict:
    n = len(passes)
    m = dict(probes)
    m["session.start_s"] = setup_out["session.start_s"]
    m["session.warmup_s"] = setup_out["session.warmup_s"]
    measured = [r for r in ops.records if r["pass"] != "probe"]
    for key in ctx.spark_layer.FIELDS:
        m[f"spark.{key}"] = sum(r["spark"].get(key, 0.0) for r in measured) / n
    m["spark.cached_mb"] = ctx.spark_layer.cached_mb()
    for role, v in cpu.items():
        m[f"proc.{role}_cpu_s"] = v
    m["proc.cpu_util"] = sum(cpu.values()) / (cpu_wall * ctx.nproc)
    m["proc.peak_rss_mb"] = sum(ctx.proc_peak.values())
    m["proc.jvm_peak_rss_mb"] = ctx.proc_peak["jvm"]
    queries = [r for r in ops.records if "build" in r]
    m["plans.build_s"] = sum(r["build"] for r in queries) / max(1, len({r["pass"] for r in queries}))
    m["plans.execute_s"] = sum(r["execute"] for r in queries) / max(1, len({r["pass"] for r in queries}))
    m["trace.pass_s"] = statistics.median(p["ops_s"] for p in passes)
    m["trace.overhead_s"] = ctx.tracer.overhead_s / n
    for layer, secs in sorted(ctx.tracer.self_times().items()):
        if layer.startswith("op."):
            continue
        m[f"self.{layer}_s"] = secs
    return m


def run_workload(ctx) -> tuple[dict, dict]:
    import workloads as wl
    from layers import ProcTree

    ctx.proc = ProcTree()
    ops = wl.Ops(ctx)
    setup_out = setup(ctx)
    pass_fn, metric_fn = {
        "remote_roundtrip": (wl.roundtrip_pass, wl.roundtrip_metrics),
        "queries_sf001": (wl.query_pass, wl.query_metrics),
    }[ctx.workload]
    PHASES["setup"] = time.perf_counter() - T_START
    cpu0, t0 = (ctx.proc.cpu() if ctx.trace else None), time.perf_counter()
    passes = measure(ctx, ops, pass_fn)
    PHASES["measure"] = time.perf_counter() - T_START
    ctx.proc_peak = ctx.proc.peak_rss_mb()
    if ctx.trace:
        ops.current_pass = "probe"
        probes = wl.layer_probes(ctx, ops)
        if ctx.workload != "queries_sf001":
            plans_probe(ctx, ops)
        # CPU over the passes and the probes: the probes touch every
        # backend, so no role reads a constant zero
        cpu1 = ctx.proc.cpu()
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
        metrics = per_layer(ctx, ops, passes, setup_out, probes, cpu, time.perf_counter() - t0)
    else:
        metrics = end_to_end(ops, passes, setup_out, metric_fn)
    detail = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "data_seed": DATA_SEED,
        "query_data": ctx.sf_name,
        "trace": int(ctx.trace),
        "host": ctx.host.stamp(ctx.spark),
        "setup": setup_out,
        "peak_rss_mb": ctx.proc_peak,
        "passes": passes,
        "failures": ops.failures,
        "op_walls": {f"{r['kind']}:{r['name']}": round(r["wall"], 4) for r in ops.records},
    }
    if ctx.trace:
        detail["layer_self_s"] = ctx.tracer.self_times()
        ctx.tracer.write(
            os.path.join(ROOT, ".perfbench", f"trace-{ctx.workload}-{ctx.seed}.json"), detail)
    return {"attempted": ops.attempted, "failed": ops.failed, "metrics": metrics}, detail


def plans_probe(ctx, ops) -> None:
    """One registry query on the bundled data, so the ``plans`` layer is
    measured on the remote workloads too."""
    import workloads as wl

    from datafusion_remote_table_spark import plans
    from datafusion_remote_table_spark.plans.remote_queries import ensure_sqlite_remote

    plans.load_all()
    sf_dir = os.path.join(wl.DATA, "sf0.001")
    ensure_sqlite_remote(sf_dir)
    with open(wl.FINGERPRINTS) as fh:
        want = json.load(fh)["sf0.001"][wl.PLANS_PROBE_QUERY]
    wl.run_query(ctx, ops, wl.PLANS_PROBE_QUERY, sf_dir, want, kind="plans_probe")


def load_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def result_line(res: dict, units: dict) -> dict:
    missing = sorted(set(units) - set(res["metrics"]))
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(res["metrics"][k]), "unit": u} for k, u in units.items()},
    }


def self_test(workdir: str, system_tmp: str) -> None:
    """Tiny rows and sf0.001: every workload once, untraced and traced,
    asserting every named metric appears with its unit and every check
    passes."""
    e2e_units, layer_units = load_units()
    for workload in WORKLOADS:
        for trace in (False, True):
            ctx = Context(workload, 7, 0, trace, self_test=True)
            res, detail = _run_in(ctx, workdir, system_tmp)
            line = result_line(res, layer_units if trace else e2e_units)
            if not line["correct"]:
                raise SystemExit(f"self-test {workload}: checks failed: {detail['failures']}")
            nan = [k for k, rec in line["metrics"].items() if rec["value"] != rec["value"]]
            if nan:
                raise SystemExit(f"self-test {workload}: NaN metrics {nan}")
            print(f"# self-test {workload} trace={int(trace)}: {line['attempted']} ops, "
                  f"{len(line['metrics'])} metrics ok", flush=True)
    print(json.dumps({"self_test": "ok"}))


def _run_in(ctx, workdir: str, system_tmp: str):
    """One workload; stops its postgres server and Spark session on
    every exit path."""
    ctx.workdir, ctx.system_tmp = workdir, system_tmp
    try:
        return run_workload(ctx)
    finally:
        if ctx.fixtures is not None:
            ctx.fixtures.close()
        if ctx.spark is not None:
            ctx.spark.stop()


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it and its Python
    workers to exit."""
    from layers import ProcTree
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    workers = [pid for pid, role in ProcTree().members().items() if role in ("jvm", "py_worker")]
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - best effort, the wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited, waiting for its parent to reap it
            except OSError:
                break
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("command", nargs="?", choices=("run", "fingerprints"), default="run")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "datafusion_remote_table_spark")):
        _fail(f"run from a checkout of the repository: no package under {ROOT}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.chdir(ROOT)
    # SIGTERM/SIGINT unwind through the finally blocks that stop the
    # postgres server and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.command == "fingerprints":
        import workloads as wl

        out = wl.oracle_fingerprints()
        with open(wl.FINGERPRINTS, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return
    if args.workload is None and not args.self_test:
        _fail("--workload is required")
    workdir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    system_tmp = _isolate(workdir)
    try:
        if args.self_test:
            self_test(workdir, system_tmp)
            return
        e2e_units, layer_units = load_units()
        ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), self_test=False)
        res, detail = _run_in(ctx, workdir, system_tmp)
        line = result_line(res, layer_units if args.trace else e2e_units)
    finally:
        PHASES["run"] = time.perf_counter() - T_START
        _stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
    PHASES["teardown"] = time.perf_counter() - T_START
    detail["phases_s"] = PHASES
    print(json.dumps(detail, default=str))
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
