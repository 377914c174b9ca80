"""Per-query isolation harness for the optimization rounds.

Times one or more queries under the bench's exact cold convention
(clear all query-owned staged state, noop sink, min of N runs) and
optionally dumps `.explain("formatted")` to $SPARK_GRAFT_PLANS_DIR (default plans/r11/).

Usage:
    python tools_prof.py [--runs 2] [--explain before|after] name [name ...]

Timing is computation-only (noop sink, guide §1.4); plans are captured
AFTER one execution so AQE-finalized staging views exist.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datafusion_remote_table_spark import plans, staging
from datafusion_remote_table_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain", choices=["before", "after"], default=None)
    ap.add_argument("--warm", action="store_true", help="also run once at sf0.001 first")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    spark = get_spark("prof")
    spark.sparkContext.setLogLevel("ERROR")
    plans.load_all()

    warm_dir = "/root/testdata/sf0.001"
    if args.warm and os.path.isdir(warm_dir):
        for name in args.names:
            try:
                plans.QUERIES[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass
        staging.reset(spark)

    out = {}
    for name in args.names:
        runs = []
        for _ in range(args.runs):
            staging.reset(spark)
            spark.sparkContext.setJobDescription(f"prof:{name}")
            t0 = time.perf_counter()
            plans.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {"runs": runs, "min": min(runs)}
        if args.explain:
            df = plans.QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            rdir = os.environ.get("SPARK_GRAFT_PLANS_DIR", os.path.join("plans", "r11"))
            path = os.path.join(rdir, f"{name}_{args.explain}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            out[name]["plan"] = path
    print(json.dumps(out))


if __name__ == "__main__":
    main()
