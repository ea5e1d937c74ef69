"""Per-query profiling helper for the optimization rounds.

Usage: python tools/profile_query.py <out_suffix> <query> [query ...]

For each query: builds the DataFrame at $SPARK_GRAFT_SF_DIR (default sf0.1),
times min-of-3 noop writes with bench.measure, and writes
plans/local/<query>_<out_suffix>.txt (git-ignored) with the formatted
physical plan. Prints one line per query: name, min seconds, Exchange
count, Python-eval node count.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")

from bench import CPUS, REGISTRY, SF_DIR, measure, warm_up  # noqa: E402
from storm_data_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("profile", master=f"local[{CPUS}]")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(here, "plans", "local")
    os.makedirs(outdir, exist_ok=True)

    warm_up(spark, SF_DIR)

    for name in names:
        df = REGISTRY[name].runner(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        _, first, best = measure(spark, lambda *_: df, SF_DIR, 3)
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
