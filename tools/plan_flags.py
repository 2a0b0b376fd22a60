#!/usr/bin/env python
"""Capture catalog queries' physical plans and count their red flags
(exchanges, join strategies, Python evaluation nodes, ...).

Timing is perfbench's job (``perfbench/run.py --trace 1`` splits each
query's wall time by layer); this tool only reads plans.

Usage:
    python tools/plan_flags.py [--sf DIR] [--plans DIR] q1 q2 ...
    python tools/plan_flags.py --all --plans DIR   # every catalog+component
    python tools/plan_flags.py --final ...         # EXECUTE first, capture the
                                                   # AQE-final plan (isFinalPlan=true)

Prints one line per query: its name and the non-zero flag counts.
With ``--plans DIR`` each query's ``explain("formatted")`` text is
written to ``DIR/<query>.txt``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

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
    return " ".join(
        f"{f}={plan.count(f)}" for f in FLAGS if plan.count(f)
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/spark_graft_rechunk_sf0.1")
    ap.add_argument(
        "--plans", default=None,
        help="directory to write each query's plan to, as <query>.txt",
    )
    ap.add_argument(
        "--all", action="store_true",
        help="every catalog and component query",
    )
    ap.add_argument(
        "--final", action="store_true",
        help="execute the query before capturing, so the plan is the "
        "AQE-final one (isFinalPlan=true) with the join strategies it "
        "really ran",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if not args.all and not args.queries:
        ap.error("name the queries to capture, or give --all")

    names = list(DEFS) if args.all else args.queries
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = build_session(app_name="plan_flags")
    for name in names:
        spark.sparkContext.setJobDescription(f"plan_flags:{name}")
        try:
            df = DEFS[name].spark(spark, args.sf)
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
            with open(os.path.join(args.plans, f"{safe}.txt"), "w") as fh:
                fh.write(p)
        print(f"{name:32s} {flag_counts(p)}", flush=True)
    spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
