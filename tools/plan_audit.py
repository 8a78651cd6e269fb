"""Physical-plan audit over every driver-contract query.

For each ``__spark_entry__.queries()`` entry, executes the plan (AQE
final) and reports the features that matter at 100 TB:

* parquet scans with pushed filters / pruned columns (ReadSchema width),
* exchange (shuffle) count and broadcast-join count,
* WholeStageCodegen span count (JVM-side pipelines),
* Python boundaries (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas),
* rows out.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Writes a markdown table to stdout (captured into BENCH/PLAN_AUDIT.md).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from gis_shapefile_spark.session import get_spark


def audit(df) -> dict:
    n = len(df.collect())  # executes THIS df's QueryExecution => AQE final
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "rows": n,
        "scans": len(re.findall(r"FileScan parquet|Scan parquet", plan)),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]*\w", plan)),
        "exchanges": len(re.findall(r"\bExchange (hash|range|Single)", plan)),
        "reused": len(re.findall(r"ReusedExchange", plan)),
        "bcast_joins": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoop", plan)),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python": len(re.findall(
            r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|BatchEvalPython",
            plan,
        )),
        "row_udfs": len(re.findall(r"BatchEvalPython", plan)),
    }


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = E.queries()
    print("| query | rows | scans | pushed-filter scans | exchanges "
          "(+reused) | broadcast joins | codegen spans | arrow-python ops | "
          "row-at-a-time UDFs |")
    print("|---|---|---|---|---|---|---|---|---|")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            a = audit(fn(spark, sf))
        except Exception as ex:  # pragma: no cover - audit robustness
            print(f"| {name} | ERROR: {type(ex).__name__} | | | | | | | |")
            continue
        print(
            f"| {name} | {a['rows']} | {a['scans']} | {a['pushed']} | "
            f"{a['exchanges']} (+{a['reused']}) | {a['bcast_joins']} | "
            f"{a['codegen']} | {a['python']} | {a['row_udfs']} |",
            flush=True,
        )


if __name__ == "__main__":
    main()
