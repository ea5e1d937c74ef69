"""Scaling-curve measurement: run the bench headline queries at every
available scale factor and report per-query wall time plus the implied
scaling exponent between the largest two SFs (time ratio / data ratio).

An exponent ≈ 1 means linear scaling (scan-bound — the shape that survives
a 100× cluster scale-up); < 1 means fixed overhead still dominates at these
sizes; >> 1 flags a super-linear stage (pair explosion, skewed shuffle) to
fix before real scale.

Usage: python tools/scaling_curve.py [sf_dir ...]  (default: the three
driver testdata SFs). Prints one JSON line per SF and a final summary table.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, ONLY, REGISTRY, measure, warm_up  # noqa: E402
from storm_data_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    # Cluster-resident tables, as bench.py times them; set here, not at
    # import, so importing this module changes no caching.
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")
    # master=None: local[SPARK_GRAFT_CPUS], the cpus bench_delta compares
    spark = get_spark("scaling-curve", master=None)
    # bench.py's headline set, narrowed by the same dev-loop subset filter.
    runners = {n: REGISTRY[n].runner for n in HEADLINE if not ONLY or n in ONLY}

    results: dict[str, dict[str, float]] = {}
    sfs: list[float] = []
    for sf_dir in sf_dirs:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
        sfs.append(sf)
        warm_up(spark, sf_dir)
        times = {name: round(measure(spark, fn, sf_dir, 2)[2], 3) for name, fn in runners.items()}
        results[str(sf)] = times
        print(json.dumps({"sf": sf, "queries": times}))

    if len(sfs) >= 2:
        lo, hi = str(sfs[-2]), str(sfs[-1])
        data_ratio = sfs[-1] / sfs[-2]
        print(f"\n{'query':34s} {'sf' + lo:>9s} {'sf' + hi:>9s}  exponent")
        for name in runners:
            a, b = results[lo].get(name), results[hi].get(name)
            if not a or not b or a <= 0:
                continue
            exp = math.log(b / a) / math.log(data_ratio)
            print(f"{name:34s} {a:9.3f} {b:9.3f}  {exp:6.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
