"""Dump `.explain("formatted")` for named bench queries to plans/<out_subdir>/.

Usage:
    python tools/explain_plans.py <out_subdir> <tag> q1 q2 ...
        # -> plans/<out_subdir>/<q>_<tag>.txt, e.g. tag before / after

Also prints a one-line plan-shape summary (Exchange count, join kinds,
Python-eval nodes) per query so before/after diffs are quick to read.
"""

from __future__ import annotations

import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline2_0_spark.plans.registry import ALL_QUERIES  # noqa: E402
from etl_pipeline2_0_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_subdir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(root, "plans", out_subdir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="explain-plans")
    import bench

    for name in names:
        if name in bench.EXTRA_BENCH:
            fn = bench.EXTRA_BENCH[name]
        else:
            fn = ALL_QUERIES[name][0]
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        stdout = sys.stdout
        sys.stdout = buf
        try:
            df.explain("formatted")
        finally:
            sys.stdout = stdout
        plan = buf.getvalue()
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = len(re.findall(r"\bExchange\b", plan))
        joins = sorted(set(re.findall(r"(\w*Join\w*)", plan)))
        py = sorted(set(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas)", plan)))
        print(f"{name}: Exchange={n_ex} joins={joins} python={py} -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
