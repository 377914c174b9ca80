"""Storm catcher: run headline queries in bench order and, when one
exceeds a wall threshold, capture driver thread dumps (jcmd
Thread.print) plus Python stack samples mid-flight — guide §7.3 ("when
nothing seems to be happening"). Diagnostic tool for the roving
cleanup-storm class; not part of the bench contract.

Usage: python tools_stormcatch.py [--threshold 12] [name ...]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datafusion_remote_table_spark import plans, staging
from datafusion_remote_table_spark.session import get_spark


def _jvm_pid() -> int | None:
    out = subprocess.run(
        ["pgrep", "-f", "org.apache.spark.deploy.SparkSubmit"],
        capture_output=True, text=True,
    ).stdout.split()
    return int(out[0]) if out else None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--threshold", type=float, default=12.0)
    ap.add_argument("--outdir", default="/tmp/stormdumps")
    args = ap.parse_args()
    os.makedirs(args.outdir, exist_ok=True)

    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    spark = get_spark("stormcatch")
    spark.sparkContext.setLogLevel("ERROR")
    plans.load_all()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench

    names = args.names or [n for n in bench.HEADLINE if n not in bench.COMPARABLE_13]
    pid = _jvm_pid()
    print(f"# jvm pid {pid}", flush=True)

    state = {"query": None, "t0": 0.0, "dumped": False}

    def watchdog() -> None:
        while True:
            time.sleep(1.0)
            q = state["query"]
            if q is None or state["dumped"]:
                continue
            el = time.perf_counter() - state["t0"]
            if el > args.threshold:
                state["dumped"] = True
                stamp = f"{q}_{int(el)}s"
                for i in range(3):
                    dump = subprocess.run(
                        ["jcmd", str(pid), "Thread.print"],
                        capture_output=True, text=True, timeout=30,
                    ).stdout
                    with open(f"{args.outdir}/{stamp}_jstack{i}.txt", "w") as fh:
                        fh.write(dump)
                    time.sleep(2.0)
                print(f"# DUMPED {stamp}", flush=True)

    threading.Thread(target=watchdog, daemon=True).start()

    release_after = bench.load_release_points()
    timings = {}
    for name in names:
        state.update(query=name, t0=time.perf_counter(), dumped=False)
        t0 = time.perf_counter()
        plans.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        state["query"] = None
        gc.collect()
        staging.release(spark, sf_dir, *release_after.get(name, ()))
        print(f"{name} {timings[name]}", flush=True)
    print(json.dumps(timings))


if __name__ == "__main__":
    main()
