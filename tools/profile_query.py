"""Per-query profiling helper for the optimization rounds.

Usage: python tools/profile_query.py <out_suffix> <query> [query ...]

For each query: builds the DataFrame at $SPARK_GRAFT_SF_DIR (default sf0.1),
times min-of-3 noop writes with bench.measure, and writes
plans/local/<query>_<out_suffix>.txt (git-ignored) with the formatted
physical plan. Prints one line per query: name, min seconds, Exchange
count, Python-eval node count.

The formatted plan prints each operator at least twice (once in the tree,
once in the details, more for a pinned relation with several consumers, and
a cached relation's executed adaptive plan once in its final and once in its
initial plan), so `count_operators` counts each operator once.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, REGISTRY, SF_DIR, measure, warm_up  # noqa: E402
from storm_data_etl_spark.session import get_spark  # noqa: E402


EXCHANGES = ("Exchange", "BroadcastExchange")
PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def count_operators(plan: str, names: tuple[str, ...]) -> int:
    """Operators named ``names`` in a formatted physical plan, each counted
    once: by distinct operator id (tree lines read `Name (id)`, detail lines
    `(id) Name`), skipping an executed adaptive plan's "Initial Plan" block,
    whose operators the "Final Plan" block replaced."""
    node = re.compile(r"\b(?:%s) \((\d+)\)" % "|".join(names))
    ids: set[str] = set()
    initial_col = None  # text column of the Initial Plan block being skipped
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :+-"))
        if initial_col is not None and col >= initial_col:
            continue
        initial_col = None
        if line[col:].startswith("== Initial Plan =="):
            initial_col = col
            continue
        ids.update(node.findall(line))
    return len(ids)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    # Cluster-resident tables, as bench.py times them; set here, not at
    # import, so importing count_operators changes no caching.
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")
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
        n_ex = count_operators(plan, EXCHANGES)
        n_py = count_operators(plan, PYTHON_NODES)
        print(
            f"{name}\t{best:.3f}s\tfirst={first:.3f}s\texchanges={n_ex}\t"
            f"python_nodes={n_py}",
            flush=True,
        )


if __name__ == "__main__":
    main()
