"""Capture .explain("formatted") for registered queries into plan files.

Usage:
    python tools/capture_plans.py OUTDIR SUFFIX query [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each named query over the tables
in ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 reference tables).
Streaming and lifecycle queries run their whole micro-batch loop when
called, so their plan is only that of the snapshot they return.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import (  # noqa: E402
    all_queries,
)
from cqu_bigdata_recommender_system_for_movies_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture-plans")
    queries = all_queries()
    for name in names:
        fn = queries[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
