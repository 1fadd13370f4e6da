"""Dump ``explain('formatted')`` for named declared queries to files.

Usage:
  python tools/dump_plans.py q1 q2 --out /tmp/plans --suffix _before
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_engineering_1_spark.plans import registry  # noqa: E402
from data_engineering_1_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True, help="directory (a relative one is under the checkout)")
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()

    spark = get_spark("dump-plans")
    queries = registry.get_queries()
    os.makedirs(os.path.join(REPO, args.out), exist_ok=True)
    for name in args.queries:
        df = queries[name](spark, args.sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(REPO, args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
