"""Driver-facing query registry: every operator from SURVEY.md §2 exposed as
(spark_runner, duckdb_oracle_sql) pairs over the shared testdata tables.

Conventions (the driver compares row-count + schema + order-insensitive
value hash, with columns sorted by name):
- every computed column is aliased IDENTICALLY in the Spark plan and the SQL;
- floating aggregates are rounded the same on both sides (summation order
  differs between engines — raw double sums never hash-match);
- LIMIT queries carry deterministic tie-breakers.

Each query cites the reference operator(s) it covers (SURVEY.md §2 / Go
file:line) in its docstring.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from storm_data_etl_spark.operators import relational as R
from storm_data_etl_spark.plans.tables import t

Runner = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    runner: Runner
    oracle: str | None  # None → non-SQL-expressible (driver does rows-only check)
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None):
    def deco(fn: Runner) -> Runner:
        # A duplicate name would SILENTLY replace the earlier query in the
        # dict — dropping it from the registry, its gate slot, and its
        # bench row with no error anywhere (this bit a round-8 addition).
        if name in REGISTRY:
            raise ValueError(
                f"duplicate registry query name {name!r} "
                f"(first registered as {REGISTRY[name].runner.__module__})"
            )
        REGISTRY[name] = QueryDef(runner=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


# =====================================================================
# Aggregations (SURVEY §2.4 — cmd/genmock/main.go:194-354)
# =====================================================================

@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship TPC-H-Q1-style aggregate: the generalized form of genmock's
    grouped-count + conditional-sum report (A1/A3, main.go:204-226).
    One scan, map-side partial agg, tiny shuffle of partial states."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2000-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "group_count_single",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def group_count_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: single-key grouped count (genmock typeCounts, main.go:204-215)."""
    return R.grouped_counts(t(spark, sf_dir, "events"), "event_type", count_name="n")


@register(
    "group_count_composite",
    "SELECT c_nationkey, c_mktsegment, count(*) AS n "
    "FROM customer GROUP BY c_nationkey, c_mktsegment",
)
def group_count_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: composite-key grouped count (state:county counts, main.go:216)."""
    return R.grouped_counts(
        t(spark, sf_dir, "customer"), "c_nationkey", "c_mktsegment", count_name="n"
    )


@register(
    "conditional_counts",
    """
    SELECT count(CASE WHEN o_totalprice >= 100000 THEN 1 END) AS n_high_value,
           count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
           count(*) AS n_total
    FROM orders
    """,
)
def conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: conditional counts in one pass (withSeverity / mag175plus,
    genmock main.go:217-223)."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.when(F.col("o_totalprice") >= 100000, 1)).alias("n_high_value"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
        F.count(F.lit(1)).alias("n_total"),
    )


@register(
    "global_max",
    "SELECT round(max(l_extendedprice), 2) AS max_price FROM lineitem WHERE l_returnflag = 'R'",
)
def global_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: filtered global max (max hail magnitude, genmock main.go:346-353)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return li.agg(F.round(F.max("l_extendedprice"), 2).alias("max_price"))


@register(
    "distinct_count",
    "SELECT count(DISTINCT c_nationkey) AS n_nations FROM customer",
)
def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: exact distinct count (len(stateCounts), genmock main.go:258).
    Scale path: approx_count_distinct — see relational.approx_distinct_count."""
    return R.distinct_count(t(spark, sf_dir, "customer"), "c_nationkey", name="n_nations")


@register(
    "top_groups",
    """
    SELECT c_nationkey, count(*) AS n FROM customer
    GROUP BY c_nationkey ORDER BY n DESC, c_nationkey ASC LIMIT 5
    """,
)
def top_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 groups by count desc (top states, genmock main.go:252-267).
    TakeOrderedAndProject — per-partition heaps, no global sort.
    Tie-break on key for determinism."""
    counts = R.grouped_counts(t(spark, sf_dir, "customer"), "c_nationkey", count_name="n")
    return R.top_n(counts, [F.desc("n"), F.asc("c_nationkey")], 5)


@register(
    "first_per_group",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
    FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders) WHERE rn = 1
    """,
)
def first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: first row per group under explicit total order (first hail record
    in file order, genmock main.go:324-344). Single shuffle on the partition
    key; row_number window, never order-nondeterministic dropDuplicates."""
    first = R.first_per_group(
        t(spark, sf_dir, "orders"), ["o_custkey"], ["o_orderdate", "o_orderkey"]
    )
    return first.select(
        "o_custkey",
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_orderdate").alias("first_orderdate"),
    )


# =====================================================================
# Filters (SURVEY §2.3 — genmock main.go:283-322, validate main.go:475-537)
# =====================================================================

@register(
    "filter_compound",
    """
    SELECT event_id, user_id, round(value, 2) AS value FROM events
    WHERE event_type = 'purchase' AND value >= 100
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: conjunctive filter (hail ∧ TX ∧ severe, genmock main.go:292-294).
    Predicates push down to the parquet scan."""
    ev = t(spark, sf_dir, "events")
    return ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") >= 100)
    ).select("event_id", "user_id", F.round("value", 2).alias("value"))


@register(
    "filter_disjunctive",
    """
    SELECT event_id, event_type FROM events
    WHERE event_type IN ('signup', 'error')
    """,
)
def filter_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: disjunctive membership filter (hail ∨ tornado, main.go:295-297)."""
    ev = t(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("signup", "error")).select(
        "event_id", "event_type"
    )


@register(
    "bounding_box",
    """
    SELECT count(*) AS n FROM lineitem
    WHERE abs(l_quantity - 25) <= 5 AND abs(l_discount - 0.05) <= 0.02
    """,
)
def bounding_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: two-dimensional range predicate (Fort Worth bounding box,
    genmock main.go:304-322), generalized to any numeric pair."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.abs(F.col("l_quantity") - 25) <= 5) & (F.abs(F.col("l_discount") - 0.05) <= 0.02)
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "null_presence",
    """
    SELECT count(CASE WHEN props IS NULL OR props = '' THEN 1 END) AS n_null_props,
           count(CASE WHEN props IS NOT NULL AND props <> '' THEN 1 END) AS n_props
    FROM events
    """,
)
def null_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: null/presence predicates (severity != nil, ID == '', zero-time;
    validate main.go:497-537)."""
    ev = t(spark, sf_dir, "events")
    empty = F.col("props").isNull() | (F.col("props") == "")
    return ev.agg(
        F.count(F.when(empty, 1)).alias("n_null_props"),
        F.count(F.when(~empty, 1)).alias("n_props"),
    )


@register(
    "enum_membership",
    """
    SELECT count(CASE WHEN event_type NOT IN
                 ('click','view','purchase','signup','error') THEN 1 END) AS n_violations,
           count(CASE WHEN value >= 0 OR value IS NULL THEN NULL ELSE 1 END) AS n_negative
    FROM events
    """,
)
def enum_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: enum-membership + implication validation as count-of-violations==0
    queries (validate main.go:475-515)."""
    ev = t(spark, sf_dir, "events")
    valid_types = ("click", "view", "purchase", "signup", "error")
    return ev.agg(
        F.count(F.when(~F.col("event_type").isin(*valid_types), 1)).alias("n_violations"),
        F.count(F.when(~((F.col("value") >= 0) | F.col("value").isNull()), 1)).alias("n_negative"),
    )


# =====================================================================
# Joins (SURVEY §2.5 — validate main.go:228-462)
# =====================================================================

@register(
    "anti_join_missing",
    """
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: key-existence anti-join (every source key must exist downstream,
    validate main.go:298-313). AQE broadcasts the small side."""
    c = t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    missing = R.missing_keys(c, t(spark, sf_dir, "orders"), ["o_custkey"])
    return missing.select(F.col("o_custkey").alias("c_custkey"), "c_name")


@register(
    "semi_join",
    """
    SELECT o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
    """,
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 complement: existence semi-join."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


@register(
    "join_field_compare",
    """
    SELECT o.o_orderkey, c.c_custkey, c.c_name, c.c_mktsegment,
           round(o.o_totalprice, 2) AS o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F' AND c.c_acctbal > 0
    """,
)
def join_field_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: equi-join by key with field projection (ID-join compare,
    validate main.go:352-462). Dim side broadcast by AQE."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_custkey", "c_name", "c_mktsegment",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


@register(
    "count_parity",
    """
    WITH a AS (SELECT c_nationkey AS nationkey, count(*) AS count_a
               FROM customer GROUP BY c_nationkey),
         b AS (SELECT s_nationkey AS nationkey, count(*) AS count_b
               FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(a.nationkey, b.nationkey) AS nationkey,
           coalesce(count_a, 0) AS count_a, coalesce(count_b, 0) AS count_b
    FROM a FULL OUTER JOIN b ON a.nationkey = b.nationkey
    WHERE coalesce(count_a, 0) <> coalesce(count_b, 0)
    """,
)
def count_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-key count parity between two datasets (validate
    main.go:268-285); returns mismatching keys."""
    a = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    b = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    mism = R.count_parity(a, b, "nationkey")
    return mism.select(
        "nationkey",
        F.coalesce("count_a", F.lit(0)).alias("count_a"),
        F.coalesce("count_b", F.lit(0)).alias("count_b"),
    )


@register(
    "join_multiway",
    """
    SELECT n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY n.n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style 6-table join: exercises Catalyst join reordering +
    broadcast of the dim tables (region/nation/supplier). Revenue is summed
    as exact DECIMAL(18,4) per row (as in nation_pair_trade) and rounded to
    cents before the one cast to DOUBLE, so the result does not depend on
    the engine's summation order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return joined.groupBy("n_name").agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue")
    )


@register(
    "top_unshipped",
    """
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-03-15' AND l.l_shipdate > DATE '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
)
def top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style join + agg + deterministic top-10."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    agg = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return R.top_n(agg, [F.desc("revenue"), F.asc("l_orderkey")], 10).select(
        "l_orderkey", "revenue", "o_orderdate"
    )


# =====================================================================
# Dedup / set ops (SURVEY §2.6 — validate main.go:357-391)
# =====================================================================

@register(
    "dedup_first_wins",
    """
    SELECT user_id, event_id AS first_event_id, event_type AS first_event_type
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn = 1
    """,
)
def dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: first-wins dedup with explicit order key (ON CONFLICT DO NOTHING
    mirror, validate main.go:357-391; docs/Architecture.md:98-102)."""
    first = R.first_wins_dedup(t(spark, sf_dir, "events"), ["user_id"], ["ts", "event_id"])
    return first.select(
        "user_id",
        F.col("event_id").alias("first_event_id"),
        F.col("event_type").alias("first_event_type"),
    )


@register(
    "union_by_name",
    """
    SELECT event_id, event_type, kind FROM (
      SELECT event_id, event_type, 'conversion' AS kind FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT event_id, event_type, 'funnel' AS kind FROM events WHERE event_type = 'signup'
    )
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/S8: union-by-name with injected constant column (genmock's
    per-type CSV concat, main.go:54-79)."""
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "event_type", F.lit("conversion").alias("kind")
    )
    b = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "event_type", F.lit("funnel").alias("kind")
    )
    return R.union_all([a, b])


@register(
    "set_except",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference) — beyond the reference's surface (SURVEY
    §2.6 notes it has none); completes the engine's set-op family."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.exceptAll(o).distinct()


@register(
    "set_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — completes the set-op family (left-semi under the hood)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.intersect(o)


@register(
    "nation_pair_trade",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           count(*) AS n_items,
           CAST(floor(100 * CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(18,4))) AS DOUBLE)) AS BIGINT) AS revenue_e2
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey  = l.l_orderkey
    JOIN customer c ON c.c_custkey   = o.o_custkey
    JOIN supplier s ON s.s_suppkey   = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_nationkey < n2.n_nationkey
    GROUP BY n1.n_name, n2.n_name
    """,
)
def nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-style nation-pair trade volume: a 6-table join graph
    (fact ⋈ orders ⋈ customer ⋈ supplier ⋈ nation×2) with revenue per
    (supplier-nation, customer-nation) pair. Extends join_multiway's star
    shape to a snowflake with TWO independent dimension paths meeting at
    the fact row. Plan shape at 100 TB: lineitem⋈orders co-partition on
    orderkey (the one big shuffle); customer/supplier/nation are
    broadcast tiers. Revenue is per-row exact decimal (the double product
    is within 1 ulp of the true 4-decimal rational, so the DECIMAL(18,4)
    cast recovers it identically in both engines), summed exactly, floored
    once."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)")
        .alias("rev")
    )
    joined = (
        li.select("l_orderkey", "l_suppkey", rev)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"),
                                 F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("cn_key"),
                                 F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .filter(F.col("sn_key") < F.col("cn_key"))
    )
    return joined.groupBy("supp_nation", "cust_nation").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.floor(100 * F.sum("rev").cast("double")).cast("bigint").alias("revenue_e2"),
    )


@register(
    "unpivot_metrics",
    """
    WITH m AS (
      SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem
      UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT metric, count(*) AS n,
           CAST(floor(100 * min(v)) AS BIGINT) AS min_e2,
           CAST(floor(100 * max(v)) AS BIGINT) AS max_e2,
           CAST(floor(100 * CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE))
                AS BIGINT) AS sum_e2
    FROM m GROUP BY metric
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping (UNPIVOT / melt — the inverse of pivot_counts):
    four lineitem measure columns stacked into (metric, value) rows, then
    profiled per metric. Spark's unpivot is a narrow Expand (each input row
    emits 4 stacked rows map-side, no shuffle until the 4-key aggregate);
    the oracle states the same thing as UNION ALL. All testdata measures
    carry ≤2 decimals, so the DECIMAL(18,2) cast is exact and the sums
    hash-match."""
    li = t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="v",
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(100 * F.min("v")).cast("bigint").alias("min_e2"),
        F.floor(100 * F.max("v")).cast("bigint").alias("max_e2"),
        F.floor(100 * F.sum(F.col("v").cast("decimal(18,2)")).cast("double"))
        .cast("bigint")
        .alias("sum_e2"),
    )


@register(
    "collation_group_count",
    """
    WITH mixed AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                  ELSE c_mktsegment END AS seg,
             c_acctbal
      FROM customer
    )
    SELECT lower(seg) AS segment, count(*) AS n,
           CAST(floor(100 * CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                AS DOUBLE)) AS BIGINT) AS balance_e2
    FROM mixed GROUP BY lower(seg)
    """,
)
def collation_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 COLLATIONS (UTF8_LCASE): the
    engine-level answer to mixed-case categorical keys — the comparison /
    grouping semantics live in the column's collation, not in lower()
    sprinkled over every expression (and unlike lower(), collations keep
    original-case data while changing equality). Mixed-case input is
    synthesized deterministically (even keys lowercased); output keys are
    canonicalized with ONE lower() so both engines emit identical
    representatives. The oracle states the classic lower()-grouping
    equivalent."""
    c = t(spark, sf_dir, "customer")
    mixed = c.select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.lower(F.col("c_mktsegment"))
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    return (
        mixed.groupBy(F.expr("seg COLLATE UTF8_LCASE").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(100 * F.sum("bal").cast("double"))
            .cast("bigint")
            .alias("balance_e2"),
        )
        .select(
            F.lower(F.col("k").cast("string")).alias("segment"), "n", "balance_e2"
        )
    )


@register(
    "lateral_top_orders",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_custkey < 100
    """,
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's top-2 orders by price —
    the per-row dependent-subquery shape (SQL:2016 LATERAL) that predates
    and complements the window-function top-k (rank_in_group). Spark
    decorrelates the lateral limit into a ranked join under the hood;
    expressing it as LATERAL exercises that rewrite path end-to-end, and
    DuckDB runs the identical SQL. Raw parquet doubles pass through
    unaggregated, so values hash bit-identically."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    c.createOrReplaceTempView("_lat_customer")
    o.createOrReplaceTempView("_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM _lat_customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM _lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey < 100
        """
    )


@register(
    "nested_order_rollup",
    """
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             count(*) AS n_items,
             sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS order_total
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority
    )
    SELECT o_orderpriority, count(*) AS n_orders,
           CAST(sum(n_items) AS BIGINT) AS n_items,
           CAST(floor(100 * CAST(sum(order_total) AS DOUBLE)) AS BIGINT)
             AS total_e2
    FROM per_order GROUP BY o_orderpriority
    """,
)
def nested_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse nested-document pattern, value-proven against flat
    SQL: lineitems are DENORMALIZED into an array<struct> per order
    (sort_array over collect_list — set aggregation is only reproducible
    once canonicalized), per-order totals are computed INSIDE the array
    with a higher-order aggregate over exact decimals, and the rollup
    reads only the nested column. The oracle computes the same numbers
    from the flat join — identical hashes prove the nested representation
    is lossless, which is the contract that lets a 100 TB pipeline store
    one pre-joined nested table instead of re-shuffling the join for
    every consumer."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    nested = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("l_linenumber", "price"))
            ).alias("items")
        )
    )
    order_total = F.aggregate(
        "items",
        F.lit("0.00").cast("decimal(28,2)"),
        # decimal addition widens (28,2)+(18,2) → (29,2); fold accumulators
        # must keep a fixed type, so narrow back each step (no overflow:
        # order totals are ≪ 10^26).
        lambda acc, x: (acc + x["price"]).cast("decimal(28,2)"),
    )
    per_order = nested.select(
        "o_orderpriority",
        F.size("items").alias("n_items"),
        order_total.alias("order_total"),
    )
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_items").cast("bigint").alias("n_items"),
        F.floor(100 * F.sum("order_total").cast("double"))
        .cast("bigint")
        .alias("total_e2"),
    )


@register(
    "collation_join_sort",
    """
    WITH mixed AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                  ELSE upper(c_mktsegment) END AS seg,
             c_custkey
      FROM customer
    ),
    dim AS (
      SELECT DISTINCT c_mktsegment AS seg_name FROM customer
    ),
    joined AS (
      SELECT lower(d.seg_name) AS segment, m.c_custkey
      FROM mixed m JOIN dim d ON lower(m.seg) = lower(d.seg_name)
    )
    SELECT segment, count(*) AS n_matched,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum
    FROM joined GROUP BY segment ORDER BY segment
    """,
)
def collation_join_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive JOIN and ORDER BY via Spark 4 collations — extends
    the collation surface beyond grouping (collation_group_count): the fact
    side carries deliberately mixed-case keys, the dimension keeps original
    case, and the equi-join + final sort both run under UTF8_LCASE
    semantics on the COLUMN (no lower() in the join condition, so the
    optimizer still sees a plain equi-join and can broadcast the dim —
    lower()-wrapped keys would also work but push the normalization into
    every probe). The oracle states the lower()-join equivalent. Output
    keys canonicalized with one lower() so both engines agree on the
    representative."""
    c = t(spark, sf_dir, "customer")
    mixed = c.select(
        F.when(F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment"))
        .otherwise(F.upper("c_mktsegment"))
        .cast("string collate UTF8_LCASE")
        .alias("seg"),
        "c_custkey",
    )
    dim = c.select(
        F.col("c_mktsegment").cast("string collate UTF8_LCASE").alias("seg_name")
    ).distinct()
    joined = mixed.join(
        F.broadcast(dim), mixed["seg"] == dim["seg_name"]
    )
    return (
        joined.groupBy(F.lower(F.col("seg_name").cast("string")).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("c_custkey").alias("key_sum"),
        )
        .orderBy(F.col("segment").cast("string collate UTF8_LCASE"))
    )


# =====================================================================
# Decorrelated-subquery join patterns (TPC-H Q2 / Q11 / Q17 shapes)
# =====================================================================

@register(
    "min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, l_suppkey, cost,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY cost, l_suppkey) AS rn
      FROM cost
    )
    SELECT p.p_partkey, p.p_name, s.s_name, round(b.cost, 2) AS min_cost
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    WHERE b.rn = 1 AND p.p_size >= 46
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-style correlated-min decorrelation: for each large part
    (p_size >= 46), the supplier offering the cheapest observed line price,
    deterministic tie-break on s_suppkey. The classic correlated scalar
    subquery (WHERE cost = (SELECT min(cost) ... WHERE partkey = outer))
    is decorrelated into per-group aggregation: one hash agg to
    (partkey, suppkey) min-cost, then ONE more partial-aggregated hash agg
    of min(struct(cost, suppkey)) per partkey — lexicographic struct min
    gives (min cost, then min suppkey) in a single pass, so no window and
    no second shuffle of the pre-aggregated rows beyond the partkey
    re-key. Winner rows then join part (partkey-keyed, filter pushed to
    the part scan) and broadcast-join the supplier dim.

    Scale shape: lineitem is touched once; both aggs are map-side partial;
    at 100 TB the (partkey,suppkey) agg dominates and shuffles the already
    partially-combined state, not raw rows. No correlated per-row probe
    ever exists. Covers SURVEY §2.5 join surface; extends J2
    (cmd/genmock/main.go:321-354) to the min-join-back pattern."""
    li = t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("cost")
    )
    best = (
        cost.groupBy("l_partkey")
        .agg(F.min(F.struct("cost", "l_suppkey")).alias("w"))
        .select(
            "l_partkey",
            F.col("w.cost").alias("cost"),
            F.col("w.l_suppkey").alias("l_suppkey"),
        )
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_size") >= 46)
    s = t(spark, sf_dir, "supplier")
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey", "p_name", "s_name", F.round("cost", 2).alias("min_cost")
        )
    )


@register(
    "correlated_avg_filter",
    """
    WITH pa AS (
      SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS sq, count(*) AS nq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_small
    FROM lineitem l
    JOIN pa ON l.l_partkey = pa.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND CAST(l.l_quantity AS BIGINT) * 2 * pa.nq < pa.sq
    """,
)
def correlated_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-style correlated-average filter: revenue from small-lot
    orders (quantity below half the part's average quantity) for one
    brand. Decorrelated into a per-part aggregate joined back to the fact;
    the threshold compare is EXACT integer arithmetic
    (2 * qty * n < sum_qty, quantities are integral) instead of the
    spec's 0.5*avg double — a boundary row can never flip between engines.

    Scale shape: the per-part agg shuffles partially-combined (sum,count)
    states; the join back to lineitem is partkey-keyed on both sides so
    AQE can plan it shuffle-hash; the brand filter pushes to the part scan
    and prunes the agg side via the join. One final 1-row global agg.
    Extends F6/A3 (conditional aggregation, cmd/genmock/main.go:218-226)
    to the correlated form."""
    li = t(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sq"),
        F.count(F.lit(1)).alias("nq"),
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    small = (
        li.join(pa.withColumnRenamed("l_partkey", "pa_partkey"),
                F.col("l_partkey") == F.col("pa_partkey"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("l_quantity").cast("bigint") * 2 * F.col("nq") < F.col("sq"))
    )
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


@register(
    "having_global_share",
    """
    WITH pv AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(val) AS total, count(*) AS n_parts FROM pv)
    SELECT pv.l_partkey,
           round(CAST(pv.val AS DOUBLE), 2) AS part_value,
           CAST(floor(1000000 * CAST(pv.val AS DOUBLE)
                      / CAST(tot.total AS DOUBLE)) AS BIGINT) AS share_e6
    FROM pv, tot
    WHERE pv.val * tot.n_parts * 2 > 3 * tot.total
    """,
)
def having_global_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-style HAVING-against-global-scalar: parts whose line value
    exceeds 1.5x the mean per-part value — a scale-free threshold (Q11's
    absolute fraction degenerates to all-or-nothing as part cardinality
    grows). Sums are carried in exact DECIMAL(18,2) (prices are exact
    hundredths), so the threshold compare 2*val*n_parts > 3*total is exact
    integer-scaled decimal arithmetic on both engines; the emitted share
    is one floor on an identical IEEE quotient.

    Scale shape: one partkey hash agg (map-side partial), then the 1-row
    global total re-aggregates the partial states and broadcast-crossjoins
    back — the fact table is scanned ONCE (the agg result is reused for
    both legs), and the broadcast is a single row, never a shuffle.
    Extends A4 (global max, cmd/genmock/main.go:243-249) to the
    global-share HAVING pattern."""
    li = t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("val")
    )
    tot = pv.agg(F.sum("val").alias("total"), F.count(F.lit(1)).alias("n_parts"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val") * F.col("n_parts") * 2 > 3 * F.col("total"))
        .select(
            "l_partkey",
            F.round(F.col("val").cast("double"), 2).alias("part_value"),
            F.floor(
                1000000 * F.col("val").cast("double") / F.col("total").cast("double")
            ).cast("bigint").alias("share_e6"),
        )
    )


@register(
    "skyline_2d",
    """
    WITH p AS (
      SELECT p_partkey, CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
             p_size
      FROM part
    )
    SELECT a.p_partkey, a.price_cents, a.p_size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
    )
    """,
)
def skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front): parts not dominated on (cheaper price,
    larger size) — the classic OLAP operator relational engines lack as a
    primitive. The sort-based criterion: a part survives iff its size
    beats the running max size over all STRICTLY cheaper parts (RANGE
    frame on integer cents excludes same-price peers exactly) AND it
    carries its price group's max size (a same-price larger part
    dominates; equal duplicates co-survive). The oracle is deliberately
    the O(n²) NOT EXISTS *definition* — the gate proves the windowed
    algorithm equals the definitional dominance semantics on every row.

    Scale shape — the standard TWO-PHASE distributed skyline (Börzsönyi
    et al., ICDE 2001 §5): phase 1 runs the same windowed criterion
    WITHIN each input partition (window partitioned by
    spark_partition_id — fully parallel, no shuffle of the big table),
    discarding every row dominated by a same-partition row. Any such row
    is dominated globally, and every true skyline point survives its own
    partition, so the survivor set contains the answer. Expected
    survivors per partition on a 2-D skyline are O(log rows) — phase 2's
    global pass over the pooled survivors (a constant-partition window,
    single task by design) touches only that provably tiny set, never
    the input. Non-skyline survivors are always dominated by a true
    skyline point (dominance is transitive), so phase 2 removes exactly
    them. No joins, no n² anywhere in the plan."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        "p_size",
    )

    def survivors(df: DataFrame, key: str) -> DataFrame:
        w_cheaper = (
            Window.partitionBy(key)
            .orderBy("price_cents")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_same = Window.partitionBy(key, "price_cents")
        flagged = df.select(
            df["*"],
            F.max("p_size").over(w_cheaper).alias("_max_cheaper"),
            F.max("p_size").over(w_same).alias("_max_same"),
        )
        return flagged.filter(
            (
                F.col("_max_cheaper").isNull()
                | (F.col("p_size") > F.col("_max_cheaper"))
            )
            & (F.col("p_size") == F.col("_max_same"))
        ).drop("_max_cheaper", "_max_same", key)

    local = survivors(p.withColumn("_part", F.spark_partition_id()), "_part")
    # Phase 2 pools the tiny survivor set into one explicit partition; a
    # spark_partition_id key (non-foldable, unlike lit(0) which Catalyst
    # folds back to an empty partition spec) keeps WindowExec off the
    # "No Partition Defined" whole-table path.
    pooled = local.repartition(1).withColumn("_g", F.spark_partition_id())
    return survivors(pooled, "_g").select("p_partkey", "price_cents", "p_size")


@register(
    "multiset_except_all",
    """
    WITH a AS (
      SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F'
    ),
    b AS (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    diff AS (
      SELECT o_custkey FROM a
      EXCEPT ALL
      SELECT o_custkey FROM b
    )
    SELECT o_custkey, count(*) AS multiplicity
    FROM diff GROUP BY o_custkey
    """,
)
def multiset_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — BAG semantics (each b-occurrence cancels exactly one
    a-occurrence; surviving multiplicity = max(0, count_a - count_b)),
    which the distinct EXCEPT (set_except) cannot express. The emitted
    form aggregates surviving multiplicity per key so the result is
    order-free and hash-comparable.

    Scale shape: Spark plans exceptAll as a counted anti-form (generate
    replicated rows from per-key count deltas) — one shuffle per side on
    the key, no join explosion. Completes the set-op family with the
    multiset tier (SURVEY §2.6 — the reference has no set ops at all)."""
    # Optimization r12 (guide §2.3, aggregate before you shuffle): EXCEPT
    # ALL's counted form is computed directly — per key, multiplicity =
    # max(0, count_a − count_b), emitted when ≥ 1. One scan and one
    # partial-aggregated exchange replace two scans + exceptAll's
    # replicate-rows-then-recount plan; identical bag semantics and rows.
    o = t(spark, sf_dir, "orders")
    counted = o.groupBy("o_custkey").agg(
        F.count(F.when(F.col("o_orderstatus") != "F", 1)).alias("ca"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("cb"),
    )
    return counted.filter(F.col("ca") > F.col("cb")).select(
        "o_custkey", (F.col("ca") - F.col("cb")).alias("multiplicity")
    )


@register(
    "multiset_intersect_all",
    """
    WITH a AS (
      SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F'
    ),
    b AS (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    isect AS (
      SELECT o_custkey FROM a
      INTERSECT ALL
      SELECT o_custkey FROM b
    )
    SELECT o_custkey, count(*) AS multiplicity
    FROM isect GROUP BY o_custkey
    """,
)
def multiset_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag intersection (multiplicity = min(count_a,
    count_b) per key), the multiset twin of set_intersect. Same
    counted-form plan as multiset_except_all; aggregated multiplicities
    keep the gate order-free."""
    # Optimization r12 (guide §2.3): INTERSECT ALL's counted form directly —
    # multiplicity = min(count_a, count_b) when both ≥ 1 (same one-scan
    # shape as multiset_except_all above); identical rows.
    o = t(spark, sf_dir, "orders")
    counted = o.groupBy("o_custkey").agg(
        F.count(F.when(F.col("o_orderstatus") != "F", 1)).alias("ca"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("cb"),
    )
    return counted.filter((F.col("ca") > 0) & (F.col("cb") > 0)).select(
        "o_custkey", F.least("ca", "cb").alias("multiplicity")
    )
