"""Per-query profiling helper for the optimization rounds.

Usage: python tools/profile_query.py <out_suffix> <query> [query ...]

For each query: builds the DataFrame at $SPARK_GRAFT_SF_DIR (default sf0.1),
times min-of-3 noop writes (bench.py methodology), and writes
plans/r12/<query>_<out_suffix>.txt with the formatted physical plan.
Prints one line per query: name, min seconds, Exchange count, Python-eval
node count.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from storm_data_etl_spark.session import get_spark, release_pinned
from storm_data_etl_spark.plans import load_all

_REGISTRY = load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("profile", master=f"local[{CPUS}]")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(
        here, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13")
    )
    os.makedirs(outdir, exist_ok=True)

    # warmup
    from storm_data_etl_spark.plans.tables import t
    from pyspark.sql import functions as F

    t(spark, SF_DIR, "lineitem").agg(F.count(F.lit(1))).collect()

    for name in names:
        df = _REGISTRY[name].runner(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        best = float("inf")
        first = None
        for rep in range(3):
            start = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - start
            if rep == 0:
                first = elapsed
            best = min(best, elapsed)
        release_pinned()
        n_ex = len(re.findall(r"\bExchange\b", plan))
        n_py = len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas", plan)
        )
        print(
            f"{name}\t{best:.3f}s\tfirst={first:.3f}s\texchanges={n_ex}\t"
            f"python_nodes={n_py}",
            flush=True,
        )


if __name__ == "__main__":
    main()
