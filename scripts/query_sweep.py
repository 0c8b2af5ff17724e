"""Time every declared + extra query (construction + noop write) in one
warm session at a given sf dir. Guide §1: find the hot spots before
touching anything. Usage: python scripts/query_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # tree_cpu_seconds
import __spark_entry__ as E
from openie_backend_spark.session import get_spark


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**E.queries(), **E.extra_queries()}
    rows = []
    for name, fn in qs.items():
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        t0 = time.time()
        c0 = bench.tree_cpu_seconds()
        try:
            df = fn(spark, sf)
            df.write.format("noop").mode("overwrite").save()
            err = ""
        except Exception as exc:  # noqa: BLE001
            err = str(exc).split("\n")[0][:80]
        rows.append((round(time.time() - t0, 2),
                     round(bench.tree_cpu_seconds() - c0, 1), name, err))
    for wall, cpu, name, err in sorted(rows, reverse=True):
        print(f"{wall:7.2f}s  cpu={cpu:7.1f}s  {name} {err}")


if __name__ == "__main__":
    main()
