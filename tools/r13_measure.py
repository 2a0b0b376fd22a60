#!/usr/bin/env python
"""Round-13 measurement harness (guide §1): isolate queries with the
noop sink, capture .explain("formatted") to plans/r13/, and print
per-query timings + plan red-flag counts (Exchange, join strategy,
Python eval nodes).

Usage:
    python tools/r13_measure.py [--sf DIR] [--plans SUFFIX] [--reps N] q1 q2 ...
    python tools/r13_measure.py --all --plans SUFFIX  # every catalog+component
                                                      # query, plans only
    python tools/r13_measure.py --final ...      # EXECUTE first, capture the
                                                 # AQE-final plan (isFinalPlan=true)
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_etl_project2_fiap_spark.session import build_session
from aws_etl_project2_fiap_spark.workload import CATALOG, COMPONENTS

DEFS = {**CATALOG, **COMPONENTS}

FLAGS = (
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "TakeOrderedAndProject",
    "Generate",
    "Expand",
)


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def flag_counts(plan: str) -> str:
    out = []
    for f in FLAGS:
        n = plan.count(f)
        if n:
            out.append(f"{f}={n}")
    return " ".join(out)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/spark_graft_rechunk_sf0.1")
    ap.add_argument("--plans", default=None, help="suffix: write plans/r13/<q>_<suffix>.txt")
    ap.add_argument(
        "--reps", type=int, default=None,
        help="timed runs per query (default 3; 0 with --all)",
    )
    ap.add_argument(
        "--all", action="store_true",
        help="capture every catalog+component plan; needs --plans",
    )
    ap.add_argument("--count", action="store_true", help="time .count() like bench.py instead of noop")
    ap.add_argument(
        "--final", action="store_true",
        help="execute the query before capturing, so the committed plan "
        "is the AQE-final one (isFinalPlan=true) — the join-strategy "
        "evidence VERDICT r12 asked for",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.all and not args.plans:
        ap.error("--all captures plans: give --plans SUFFIX")
    if args.reps is None:
        args.reps = 0 if args.all else 3

    names = list(DEFS) if args.all else args.queries
    spark = build_session(app_name="r13_measure")
    # warm like bench.py does
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    warm_udf = pandas_udf(lambda s: s, "long")
    spark.range(0, 32_000, 1, 32).select(warm_udf(F.col("id"))).count()
    spark.range(0, 3200, 1, 32).withColumn("g", F.col("id") % 32).groupBy(
        "g"
    ).applyInPandas(lambda pdf: pdf, "id long, g long").count()

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13")
    os.makedirs(plans_dir, exist_ok=True)

    for name in names:
        fn = DEFS[name].spark
        spark.sparkContext.setJobDescription(f"r13:{name}")
        try:
            df = fn(spark, args.sf)
            if args.final:
                # drive THIS df's QueryExecution to the AQE-final plan:
                # count()/noop build a separate QE, so only collect()
                # materializes isFinalPlan=true on the captured plan —
                # use --final only on small-output queries
                df.collect()
            p = formatted(df)
        except Exception as exc:  # noqa: BLE001
            print(f"{name:32s} PLAN-ERROR {exc}", flush=True)
            continue
        if args.plans:
            safe = re.sub(r"[^A-Za-z0-9_]", "_", name)
            with open(os.path.join(plans_dir, f"{safe}_{args.plans}.txt"), "w") as fh:
                fh.write(p)
        runs = []
        if args.reps:
            action = (lambda d: d.count()) if args.count else noop
            action(fn(spark, args.sf))  # cold/warm-up
            for _ in range(args.reps):
                t0 = time.perf_counter()
                action(fn(spark, args.sf))
                runs.append(time.perf_counter() - t0)
        best = f"{min(runs):7.3f}s" if runs else "   -   "
        print(f"{name:32s} {best}  {flag_counts(p)}", flush=True)
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
