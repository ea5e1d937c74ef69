"""Registry consistency checks (no Spark session needed — fast guards so a
broken query/oracle never reaches the driver's gate)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from storm_data_etl_spark.plans.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"


def test_every_oracle_has_a_query():
    qs = entry.queries()
    for name in entry.oracle_sql():
        assert name in qs, f"oracle without query: {name}"


def test_runners_are_callable():
    for name, fn in entry.queries().items():
        assert callable(fn), name


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c


def test_oracle_sql_is_valid_duckdb(con):
    """EXPLAIN every oracle against the real views — catches SQL syntax or
    schema drift in milliseconds, without executing."""
    for name, sql in entry.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            pytest.fail(f"oracle SQL for '{name}' invalid: {e}")


def test_registry_size_floor():
    """The operator inventory must not silently shrink (SURVEY §2 coverage)."""
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) >= 277, f"query registry shrank: {len(qs)}"
    assert len(oracles) >= 263, f"oracle coverage shrank: {len(oracles)}"


def test_bench_on_land_policy():
    """bench.HEADLINE is every registry query outside INDEX_BUILDS, so no
    query ships unmeasured by construction. What stays hand-kept must name
    real registry queries (catches typos and renames), and the canaries
    must be headline queries so their timings normalize that set."""
    import bench

    qs = set(entry.queries())
    for name in ("INDEX_BUILDS", "CANARY"):
        missing = set(getattr(bench, name)) - qs
        assert not missing, f"bench.{name} names not in registry: {sorted(missing)}"
    assert set(bench.CANARY) <= set(bench.HEADLINE)


def test_limits_doc_counts_match_registry():
    """docs/LIMITS.md states the registry partition sizes in prose; that
    sentence drifted from the live registry in BOTH rounds 6 and 7
    (VERDICT r7 'What's wrong' #1). Parse the numbers out of the doc and
    assert equality so any future drift turns pytest red the commit it
    happens."""
    import os
    import re

    here = os.path.dirname(os.path.abspath(entry.__file__))
    text = open(os.path.join(here, "docs", "LIMITS.md")).read()
    m = re.search(
        r"(\d+) of (\d+) registered queries have no DuckDB oracle "
        r"\((\d+) oracle-backed\)",
        text,
    )
    assert m, "LIMITS.md no longer states the registry partition sentence"
    rows_only_doc, registered_doc, oracle_doc = map(int, m.groups())
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert registered_doc == len(qs), (
        f"LIMITS.md says {registered_doc} registered, registry has {len(qs)}"
    )
    assert oracle_doc == len(oracles), (
        f"LIMITS.md says {oracle_doc} oracle-backed, registry has {len(oracles)}"
    )
    assert rows_only_doc == len(qs) - len(oracles), (
        f"LIMITS.md says {rows_only_doc} rows-only, "
        f"registry has {len(qs) - len(oracles)}"
    )


def _newest_correctness_keys() -> set[str]:
    """Query names recorded in the newest CORRECTNESS_r*.json (empty set if
    none exist). Zero-padded round numbers sort lexicographically."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.abspath(entry.__file__))
    paths = sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")))
    if not paths:
        return set()
    try:
        with open(paths[-1]) as f:
            records = json.load(f)
    except Exception:
        return set()
    if isinstance(records, dict):
        return set(records)
    if isinstance(records, list):
        return set(records)
    return set()


def test_priority_head_never_gated_rotation():
    """Rotation contract: every never-gated query must sit in the gate head
    (the first 50 of queries()), BEFORE any already-proven filler — filler
    is legitimate only once the never-gated set no longer fills 50 slots.
    approx_sketches stays out of the head.

    Record-drop-proof (rounds 4 and 5 both reddened this test with zero
    code change when the driver wrote CORRECTNESS_rN.json after the final
    commit): if the current head is entirely covered by the NEWEST
    CORRECTNESS record, the gate has just run on exactly this head and the
    next rotation hasn't been authored yet — that is the one legitimate
    window where never-gated entries (queries added mid-round, past the
    head) may sit outside it. Once PRIORITY is re-rotated the head changes,
    the grace no longer applies, and the strict invariant is enforced."""
    qs = list(entry.queries())
    head = qs[:50]
    ng = set(entry.never_gated())
    if set(head) <= _newest_correctness_keys():
        return  # post-gate, pre-rotation grace window (see docstring)
    # queries() may be imported before/after new CORRECTNESS records land;
    # only enforce when prior-round records exist (they do in this repo).
    if ng and len(ng) < len(qs):
        if len(ng) <= 50:
            assert ng <= set(head), (
                f"never-gated queries missing from the gate head: "
                f"{sorted(ng - set(head))}"
            )
        # Never-gated entries must be contiguous at the front: a proven
        # query ahead of an unproven one wastes a gate slot.
        seen_filler = False
        for n in head:
            if n in ng:
                assert not seen_filler, (
                    f"never-gated '{n}' sits behind already-proven filler"
                )
            else:
                seen_filler = True


def test_priority_head_is_oracle_backed():
    """The driver's gate samples the head of queries(): every PRIORITY name
    must resolve, and any rows-only entry in the head must be either (a)
    never-gated — recording its (weaker, by-design) evidence tier for the
    first time — or (b) one of at most ROWS_ONLY_QUOTA stale quota entries
    (VERDICT r8 task 3: newest record at least two rounds old, so the
    no-oracle gate path re-executes every other round instead of
    starving). Any other rows-only entry in the head wastes a hash-proof
    slot."""
    qs = entry.queries()
    oracles = entry.oracle_sql()
    missing = [n for n in entry._priority() if n not in qs]
    assert not missing, f"priority names not in registry: {missing}"
    head = list(qs)[:50]
    ng = set(entry.never_gated())
    newest = entry._newest_pass_round()
    max_round = max(newest.values(), default=0)
    rows_only_head = [n for n in head if n not in oracles and n not in ng]
    quota_n = entry._rows_only_quota(newest, [n for n in qs if n not in oracles])
    assert len(rows_only_head) <= quota_n, (
        f"rows-only head entries exceed the quota ({quota_n}): {rows_only_head}"
    )
    fresh = [n for n in rows_only_head if newest.get(n, 0) >= max_round]
    assert not fresh, (
        f"freshly-gated rows-only entries waste head slots: {fresh}"
    )


def test_priority_is_derived_oldest_first():
    """Round-9 rotation contract (VERDICT r6 task 1 + r8 task 3): the gate
    head is DERIVED from the CORRECTNESS_r*.json records, not hand-listed —
    never-gated first, then up to ROWS_ONLY_QUOTA stale rows-only quota
    entries (oldest-first), then oracle-backed by ascending newest-pass
    round (name tiebreak), then the remaining rows-only entries last
    (their re-run can only reproduce the weaker rows-only evidence)."""
    newest = entry._newest_pass_round()
    order = entry._priority()
    oracles = entry.oracle_sql()
    assert list(entry.queries()) == order

    never = [n for n in order if n not in newest]
    gated = [n for n in order if n in newest]
    max_round = max(newest.values(), default=0)
    # never-gated block is contiguous at the front
    assert order[: len(never)] == never
    # quota block: stale rows-only entries, oldest-first, capped
    kinds = [(n in oracles) for n in gated]
    first_oracle = kinds.index(True) if True in kinds else len(kinds)
    quota = gated[:first_oracle]
    assert len(quota) <= entry._rows_only_quota(
        newest, [n for n in order if n not in oracles]
    )
    for n in quota:
        assert n not in oracles and newest[n] < max_round, (
            f"quota entry '{n}' is not a stale rows-only query"
        )
    assert quota == sorted(quota, key=lambda n: (newest[n], n))
    # after the quota: every oracle-backed entry precedes the remaining
    # rows-only tail
    rest = kinds[first_oracle:]
    first_rows_only = rest.index(False) if False in rest else len(rest)
    assert all(rest[:first_rows_only]) and not any(rest[first_rows_only:])
    # oracle-backed segment is sorted by (vintage, name)
    ob = gated[first_oracle : first_oracle + first_rows_only]
    assert ob == sorted(ob, key=lambda n: (newest[n], n))


def test_rows_only_quota_alternates(monkeypatch):
    """Simulate future rounds: with the quota in place, every rows-only
    query's gate record is refreshed at least every OTHER round — the
    starvation the r8 verdict flagged (r1-vintage records after 8
    rounds) cannot recur. Pure-python simulation over the real
    _priority() with a mocked record store."""
    oracles = set(entry.oracle_sql())
    all_names = list(entry.queries())
    rows_only = [n for n in all_names if n not in oracles]
    assert rows_only, "fixture assumption: rows-only queries exist"

    newest = dict(entry._newest_pass_round())
    max_round = max(newest.values())
    for future in range(max_round + 1, max_round + 7):
        monkeypatch.setattr(entry, "_newest_pass_round", lambda s=dict(newest): s)
        head = entry._priority()[:50]
        for n in head:  # the driver gates the head; record the pass
            newest[n] = future
        monkeypatch.undo()
    stalest = min(newest[n] for n in rows_only)
    # bound against the STEADY quota — the drain quota only ever refreshes
    # faster, so the steady-state cadence is the conservative floor
    assert stalest >= max_round + 7 - 2 * len(rows_only) / entry.ROWS_ONLY_QUOTA_STEADY - 1, (
        f"rows-only starvation recurred: stalest record round {stalest} "
        f"after simulating through round {max_round + 6}"
    )
    # and the oracle-backed tail keeps cycling too (no query stays
    # unrefreshed once the rotation has lapped the registry)
    lap = (len(all_names) // 50) + 1
    if max_round + 6 - max_round >= lap:
        assert min(newest.values()) > max_round
