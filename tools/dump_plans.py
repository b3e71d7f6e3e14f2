"""Dump .explain("formatted") for every declared query to plans/<round>/.

Usage: python tools/dump_plans.py --round rNN [suffix] [query ...]
Writes plans/<round>/<name>_<suffix>.txt (suffix default "before").
Also prints a one-line shape summary per query: #Exchange, join nodes,
BatchEvalPython/ArrowEvalPython presence, #WholeStageCodegen spans.
"""
from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from projet_big_data_boutin_danre_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", required=True,
                    help="plan directory under plans/, e.g. r21")
    ap.add_argument("suffix", nargs="?", default="before")
    ap.add_argument("queries", nargs="*", help="only these queries")
    args = ap.parse_args()
    suffix, only = args.suffix, set(args.queries)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", args.round,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan_dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        n_ex = len(re.findall(r"\bExchange\b", plan))
        n_wsc = len(re.findall(r"WholeStageCodegen", plan))
        joins = sorted(set(re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)", plan)))
        py = sorted(set(re.findall(
            r"(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|"
            r"FlatMapGroupsInPandas)", plan)))
        print(
            f"{name}: Exchange={n_ex} WSC={n_wsc} "
            f"joins={','.join(joins) or '-'} py={','.join(py) or '-'}"
        )


if __name__ == "__main__":
    main()
