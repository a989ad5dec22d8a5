"""Dump the physical plan of any registered query.

Usage:  python tools/explain.py agg_groupby [topk ...]
        EXPLAIN_SF_DIR=/root/testdata/sf0.1 python tools/explain.py topk
        EXPLAIN_NO_CHECKPOINT=1 python tools/explain.py graph_kcore
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(keys: list[str]) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    if os.environ.get("EXPLAIN_NO_CHECKPOINT"):
        # Iterative keys cut lineage per round, so their final explain
        # shows only Scan ExistingRDD leaves. With every cut swapped for
        # the identity, the UNROLLED plan (every round's joins and
        # exchanges) is dumped instead.
        from excel_to_db_spark.operators import physical

        physical.cut = lambda df: df

    sf_dir = os.environ.get("EXPLAIN_SF_DIR", "/root/testdata/sf0.01")
    spark = (SparkSession.builder.master("local[4]")
             .appName("explain")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    if not keys:
        print("keys:", " ".join(sorted(qs)))
        return 0
    for k in keys:
        if k not in qs:
            print(f"?? {k}")
            continue
        print(f"{'=' * 30} {k}")
        qs[k](spark, sf_dir).explain("formatted")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
