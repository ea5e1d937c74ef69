"""Out-of-fixture scale probe: replicate the sf0.1 tables N× (shifted keys,
written as real multi-file parquet) and run a headline subset against the
enlarged lake — one datapoint BEYOND the driver's largest fixture, so the
"would this hold at 10×/100×?" argument rests on a measurement at least one
octave past sf0.1 rather than extrapolation alone.

Replication shifts every key column by a disjoint offset per copy, so join
cardinalities and group counts scale like real data growth (not N identical
worlds colliding on the same keys) for the probed queries.

Caveat for DEDUP operators: text/content columns are NOT perturbed, so the
replica makes every document N-fold duplicated — near-dup pair output then
grows as N² BY DEFINITION (that is the true answer, not a plan defect).
Interpret dedup exponents against output size: at N=5 the pair set is 25×,
so wall-clock ≈ 20× is SUB-linear in output. The non-dedup queries carry
the infrastructure signal.

Usage: python tools/scale_probe.py [N] [query ...]   (default N=5)
Prints one JSON line per query and a summary with the implied exponent vs
the same query at sf0.1.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import measure
from storm_data_etl_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
DEFAULT_QUERIES = [
    "pricing_summary",
    "group_count_single",
    "doc_fingerprint_dedup",
    "minhash_lsh_pairs",
    "oph_lsh_pairs",
    "asof_join",
    "hypertable_rollup",
    "sliding_window_counts",
    "decontaminate_benchmark",
    "incremental_corpus_dedup",
    "corpus_snapshot_diff",
    "constraint_audit",
    "spatial_cell_density",
    "image_decode_stats",
    # round-9 continuation: the two with non-trivial scale arguments —
    # the weight-floored link-prediction graph (near-constant edges by
    # construction) and the Arrow-batched stateful replay certificate.
    "link_prediction_scores",
    "stream_replay_sessionize",
]

#: key columns to shift per table so replicas don't collide. Foreign keys
#: shift WITH their referenced primary keys (lineitem's part/supplier refs,
#: orders' customer ref), so every join stays referentially consistent
#: inside each replica instead of all copies colliding on copy 0's dims.
KEY_SHIFTS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": [],
    "region": [],
}


def build(spark, n: int, dest: str) -> None:
    for table, keys in KEY_SHIFTS.items():
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        if not keys or n == 1:
            out = df
        else:
            copies = []
            for i in range(n):
                c = df
                for k in keys:
                    c = c.withColumn(k, F.col(k) + F.lit(i * 100_000_000))
                copies.append(c)
            out = copies[0]
            for c in copies[1:]:
                out = out.unionAll(c)
        out.repartition(32).write.mode("overwrite").parquet(
            f"{dest}/{table}.parquet"
        )


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    if n < 2:
        print("N must be >= 2 (exponent needs a data ratio)", file=sys.stderr)
        return 2
    only = sys.argv[2:]
    dest = f"/tmp/spark-graft-sf{n}x"
    # master=None: local[SPARK_GRAFT_CPUS], the cpus bench_delta compares
    spark = get_spark("scale-probe", master=None)

    if not os.path.exists(f"{dest}/region.parquet"):
        print(f"building {n}x replica at {dest} ...", file=sys.stderr)
        build(spark, n, dest)

    import __spark_entry__ as entry

    qs = entry.queries()
    names = only or [q for q in DEFAULT_QUERIES if q in qs]

    results = {}
    for name in names:
        times = {}
        for label, d in (("sf0.1", SRC), (f"{n}x", dest)):
            # min of two 1-rep measurements: measure() releases pins after
            # each, so pinned intermediates (LSH signatures) cannot make
            # rep 2 measure only the post-cache tail and understate the
            # true exponent.
            times[label] = round(min(measure(spark, qs[name], d, 1)[1] for _ in range(2)), 3)
        exp = (
            math.log(times[f"{n}x"] / times["sf0.1"]) / math.log(n)
            if times["sf0.1"] > 0
            else float("nan")
        )
        results[name] = {**times, "exponent": round(exp, 2)}
        print(json.dumps({"query": name, **results[name]}))

    worst = max(results.values(), key=lambda r: r["exponent"])
    print(
        json.dumps(
            {
                "summary": "scale_probe",
                "n": n,
                "queries": len(results),
                "max_exponent": worst["exponent"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
