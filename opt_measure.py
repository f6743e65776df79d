"""Round-13 optimization measurement harness (guide §1).

Times individual catalog/bench queries in isolation and dumps
`.explain("formatted")` plans, so each optimization's before/after
evidence is captured without running the whole bench.

Usage:
  python opt_measure.py --time q1_pricing_summary text_dedup_clusters
  python opt_measure.py --explain plans/r13 --suffix before q1_pricing_summary
  python opt_measure.py --time --runs 3 --sf /root/testdata/sf0.1 NAME...

Timing uses bench.py's own materialize() (xxhash64 over every column +
count/sum agg — forces every column like the noop sink, guide §1.4), so
numbers here are comparable to BENCH_r*.json entries.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import time

from bench import materialize
from cumulus_etl_spark.plans import CATALOG
from cumulus_etl_spark.plans.catalog import BENCH_RIGS
from cumulus_etl_spark.session import get_spark


def all_queries():
    qs = dict(CATALOG)
    qs.update(BENCH_RIGS)
    return qs


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("names", nargs="+")
    p.add_argument("--time", action="store_true")
    p.add_argument("--explain", metavar="DIR")
    p.add_argument("--suffix", default="before")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = p.parse_args()

    spark = get_spark(app_name="opt-measure-r13")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out: dict[str, float] = {}
    for name in args.names:
        q = qs[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = q.build(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.explain, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"wrote {path}")
        if args.time:
            spark.sparkContext.setJobDescription(f"opt-measure: {name}")
            best = float("inf")
            per = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                materialize(q.build(spark, args.sf))
                dt = time.perf_counter() - t0
                per.append(round(dt, 3))
                best = min(best, dt)
            spark.sparkContext.setJobDescription(None)
            out[name] = round(best, 3)
            print(f"{name}: min={best:.3f}s runs={per}")
    if args.time:
        print(json.dumps({"timings_min": out, "load": round(os.getloadavg()[0], 2)}))


if __name__ == "__main__":
    main()
