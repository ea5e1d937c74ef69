"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query smoke check at sf0.001.
queries()      — one entry per implemented operator (SURVEY.md §2 + the
                 training-data-pipeline extensions), (spark, sf_dir) → DataFrame.
oracle_sql()   — DuckDB-equivalent SQL per query (same column aliases; the
                 driver hash-compares values order-insensitively). Queries
                 whose semantics aren't SQL-expressible (xxhash64 sketches,
                 approximate ANN) are intentionally absent → rows-only check.

Query implementations live in storm_data_etl_spark/plans/ — this module is
just the registry façade.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from storm_data_etl_spark.plans import load_all

_REGISTRY = load_all()

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def _newest_pass_round() -> dict[str, int]:
    """Per query: the round number of its newest PASSING driver-gate record
    (hash_match, or the weaker rows-only tier for no_oracle designs),
    merged across every CORRECTNESS_r*.json in the repo root. Queries with
    no passing record are absent."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                records = json.load(f)
        except Exception:
            continue
        if isinstance(records, list):  # older plain-list-of-names shape
            for name in records:
                newest[name] = max(newest.get(name, 0), rnd)
            continue
        if not isinstance(records, dict):
            continue
        for name, rec in records.items():
            if not isinstance(rec, dict):
                newest[name] = max(newest.get(name, 0), rnd)
            elif rec.get("hash_match") is True or rec.get("err") == "no_oracle":
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


#: Rows-only gate quota bounds (VERDICT r8 task 3 / r9 task 5 / r10 task
#: 4): how many rows-only-by-design queries are promoted into the 50-slot
#: gate head each round. Without a quota the oldest-first rotation starves
#: them forever (a re-run can only reproduce the weaker rows-only record,
#: so they always sort last); with it, every rows-only entry re-executes
#: under the driver on a bounded cadence. The raise 3 -> 5 (r10) existed
#: to drain a stale tail; VERDICT r10 task 4 asked for the revert to be an
#: EXPLICIT CHECK, not a comment expiry — so `_rows_only_quota()` computes
#: it: 5 while any rows-only record is >= ROWS_ONLY_STALE_ROUNDS rounds
#: stale (tail still draining), 3 once the tail is current.
#:
#: The stale threshold must sit STRICTLY ABOVE the steady-state cadence
#: (ADVICE r11): with 14 rows-only entries re-running 3 per round, a
#: record's staleness legitimately reaches ceil(14/3)-1 = 4 rounds just
#: before its scheduled turn — a threshold of 4 read that normal cadence
#: as "stale" and flipped the quota back to 5 every few rounds, burning
#: up to 2 extra gate-head slots in a 5/3 oscillation. At 6, quota 3 is a
#: stable fixed point (staleness 4 < 6) while a genuinely starved record
#: (missed two scheduled turns) still triggers the drain mode.
ROWS_ONLY_QUOTA_DRAIN = 5
ROWS_ONLY_QUOTA_STEADY = 3
ROWS_ONLY_STALE_ROUNDS = 6


def _rows_only_quota(newest: dict[str, int], rows_only: list[str]) -> int:
    max_round = max(newest.values(), default=0)
    stale = any(
        max_round - newest[n] >= ROWS_ONLY_STALE_ROUNDS
        for n in rows_only
        if n in newest
    )
    return ROWS_ONLY_QUOTA_DRAIN if stale else ROWS_ONLY_QUOTA_STEADY


def _priority() -> list[str]:
    """DERIVED gate-head rotation (VERDICT r6 task 1): the driver's
    correctness gate samples the first 50 of queries(), so order the
    registry (1) never-gated queries first, in registration order — new
    operators prove out the round they land; then (2) up to
    ROWS_ONLY_QUOTA rows-only queries whose newest record is at least two
    rounds stale, oldest-first — a small standing tail reservation so the
    no-oracle code path re-executes under the driver every other round
    instead of starving; then (3) oracle-backed queries
    oldest-record-first (newest passing round ascending, name as the
    tiebreak) so stale hash evidence refreshes automatically every round
    with no hand-listed head to maintain; then (4) the remaining
    rows-only queries — last, because a re-run can only ever reproduce
    their weaker rows-only record and would waste a hash-proof slot."""
    newest = _newest_pass_round()
    names = list(_REGISTRY)
    never = [n for n in names if n not in newest]
    gated = [n for n in names if n in newest]
    oracle_backed = sorted(
        (n for n in gated if _REGISTRY[n].oracle is not None),
        key=lambda n: (newest[n], n),
    )
    rows_only = sorted(
        (n for n in gated if _REGISTRY[n].oracle is None),
        key=lambda n: (newest[n], n),
    )
    max_round = max(newest.values(), default=0)
    quota_n = _rows_only_quota(newest, rows_only)
    quota = [n for n in rows_only if newest[n] < max_round][:quota_n]
    rest_rows_only = [n for n in rows_only if n not in quota]
    return never + quota + oracle_backed + rest_rows_only


def never_gated() -> list[str]:
    """Registry queries with no PASSING driver-gate record in any
    CORRECTNESS_r*.json.

    The external gate samples only the first 50 of queries(), so coverage
    accumulates across rounds by rotating this set into PRIORITY. Explicit
    tracking (vs re-deriving by hand) keeps the rotation convergent —
    convergent on PASSES, not attempts: a record whose hash mismatched or
    errored does not count as gated, so a broken query rotates back into
    the head until it actually proves out. Rows-only-by-design queries
    (err == "no_oracle") count as gated by their weaker rows check.
    """
    gated = set(_newest_pass_round())
    return [n for n in queries() if n not in gated]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the TPC-H-Q1-style pricing summary at sf0.001."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _REGISTRY["pricing_summary"].runner(spark, SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _REGISTRY[name].runner for name in _priority()}


def oracle_sql() -> dict[str, str]:
    return {
        name: qd.oracle for name, qd in _REGISTRY.items() if qd.oracle is not None
    }
