"""Enrichment-dataflow parity queries for the driver's DuckDB oracle.

The driver's testdata has no storm table, so these queries carry their own
golden input: a shared VALUES fixture (boundary rows distilled from the
reference's transform_test.go tables, FIXTURES.md §5) evaluated by BOTH
engines — the Spark side through `enrich_raw`, the composition every
caller ships, the DuckDB side through an independently hand-written SQL
translation of /root/reference/internal/domain/transform.go semantics.
A value-hash match certifies the whole enrichment dataflow (P2-P13) in the
driver's correctness gate, not just in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_data_etl_spark.functions import enrich as E
from storm_data_etl_spark.plans.queries import register

BASE_TS = "2024-04-26 00:00:00"

# (rid, Time, Size, F_Scale, Speed, Location, County, State, Lat, Lon, Comments, EventType)
GOLDEN_ROWS: list[tuple] = [
    (0, "1510", "125", "", "", "8 ESE Chappel", "San Saba", "TX", "31.02", "-98.44",
     "1.25 inch hail reported at Colorado Bend State Park. (SJT)", "hail"),
    (1, "1223", "", "UNK", "", "2 N Mcalester", "Pittsburg", "OK", "34.96", "-95.77",
     "The damage survey was conducted (TSA)", "tornado"),
    (2, "1245", "", "", "UNK", "Mcalester", "Pittsburg", "OK", "34.94", "-95.77",
     "Large trees and power lines down. (TSA)", "wind"),
    (3, "1710", "175", "", "", "Ravenna", "Buffalo", "NE", "41.02", "-98.91",
     "Dime to half-dollar size hail. (GID)", "hail"),
    (4, "930", "300", "", "", "5.2 NW AUSTIN", "Travis", "TX", "30.27", "-97.74",
     "Very large hail. (EWX)", "hail"),                       # 3-digit HHMM, extreme
    (5, "2510", "50", "", "", "N AUSTIN", "Travis", "TX", "30.3", "-97.7",
     "bad hhmm falls back (EWX)", "hail"),                    # invalid hour → base ts
    (6, "1299", "", "EF2", "", "10.5 NNE SAN ANTONIO", "Bexar", "TX", "29.4", "-98.5",
     "minute out of range (EWX)", "tornado"),                 # invalid minute → base ts
    (7, "2024-04-26T15:30:00-05:00", "", "F3", "", "2.25 E DALLAS", "Dallas", "TX",
     "32.78", "-96.80", "RFC3339 with offset (FWD)", "tornado"),
    (8, "", "", "", "65", "", "Tarrant", "TX", "32.75", "-97.33",
     "empty time uses kafka ts (FWD)", "wind"),
    (9, "0000", "", "", "105", "3 EEE NOWHERE", "Knox", "TX", "33.6", "-99.7",
     "extreme wind no office", "wind"),                       # nonsense compass, no office
    (10, "1800", "0.88", "", "", "5 AUSTIN", "Travis", "TX", "30.2", "-97.7",
     "decimal inches already (abc)", "hail"),                 # lowercase office → ''
    (11, "1805", "", "5", "", "AUSTIN", "Travis", "TX", "30.25", "-97.75",
     "EF5 monster (EWX)", "tornado"),
    (12, "1810", "", "", "45", "", "", "IA", "", "",
     "missing coords parse to zero (DMX)", "wind"),
    (13, "1815", "100", "", "", "   ", "Polk", "IA", "41.6", "-93.6",
     "whitespace location (DMX)", "hail"),
    (14, "1820", "999", "999", "999", "1 N Somewhere", "Polk", "IA", "41.7", "-93.7",
     "unknown event type (DMX)", "earthquake"),               # type → '', severity NULL
    (15, "1825", "58", "", "58", "2 W Anthon", "Woodbury", "IA", "42.4", "-95.9",
     "wind at moderate boundary (FSD)", "wind"),
    (16, "not-a-time", "74", "", "", "Anthon", "Woodbury", "IA", "42.39", "-95.87",
     "garbage time falls back (FSD)", "hail"),
    (17, "1830", "", "EF0", "", "4 SSW Hubbard", "Hardin", "IA", "42.28", "-93.33",
     "weak tornado (DMX)", "tornado"),
    (18, "1835", "", "", "96", "Hubbard", "Hardin", "IA", "42.3", "-93.3",
     "severe/extreme boundary (DMX)", "wind"),
    (19, "1840", "250", "", "", "7 ENE Vivian", "Lyman", "SD", "43.95", "-100.2",
     "giant hail (FSD)", "hail"),
]

_COLS = (
    "rid", "Time", "Size", "F_Scale", "Speed", "Location",
    "County", "State", "Lat", "Lon", "Comments", "EventType",
)


def _sql_quote(v) -> str:
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def golden_values_cte() -> str:
    rows = ",\n      ".join(
        "(" + ", ".join(_sql_quote(v) for v in row) + ")" for row in GOLDEN_ROWS
    )
    return (
        f"raw({', '.join(_COLS)}) AS (\n      VALUES {rows}\n    )"
    )


def golden_df(spark: SparkSession) -> DataFrame:
    schema = "rid int, Time string, Size string, F_Scale string, Speed string, " \
             "Location string, County string, State string, Lat string, Lon string, " \
             "Comments string, EventType string"
    return spark.createDataFrame(GOLDEN_ROWS, schema)


# ------------------------------------------------------------------ SQL
# Independent DuckDB translation of transform.go (NOT generated from the
# Spark expressions — that independence is what makes the check an oracle).

def _sql_parse_mag(col: str) -> str:
    return f"""
      CASE WHEN trim({col}) = '' OR upper(trim({col})) = 'UNK' THEN 0.0
           ELSE coalesce(try_cast(regexp_replace(trim({col}), '^(EF|F)', '') AS DOUBLE), 0.0)
      END"""


_SQL_MAG = f"""
      CASE EventType
        WHEN 'hail' THEN ({_sql_parse_mag('Size')})
        WHEN 'tornado' THEN ({_sql_parse_mag('F_Scale')})
        WHEN 'wind' THEN ({_sql_parse_mag('Speed')})
        ELSE 0.0
      END"""

_SQL_HHMM = f"""
      CASE WHEN regexp_matches(trim(Time), '^\\d{{3,4}}$')
                AND cast(substr(lpad(trim(Time), 4, '0'), 1, 2) AS INT) <= 23
                AND cast(substr(lpad(trim(Time), 4, '0'), 3, 2) AS INT) <= 59
           THEN make_timestamp(year(base_ts), month(base_ts), day(base_ts),
                               cast(substr(lpad(trim(Time), 4, '0'), 1, 2) AS INT),
                               cast(substr(lpad(trim(Time), 4, '0'), 3, 2) AS INT), 0)
           ELSE base_ts END"""

_RFC3339_SQL = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$"

_SQL_EVENT_TIME = f"""
      CASE WHEN trim(Time) = '' THEN base_ts
           WHEN regexp_matches(trim(Time), '{_RFC3339_SQL}')
                AND try_cast(trim(Time) AS TIMESTAMP) IS NOT NULL
           THEN try_cast(trim(Time) AS TIMESTAMP)
           ELSE ({_SQL_HHMM}) END"""

_SQL_FMT_G = """
      CASE WHEN {x} = floor({x}) AND abs({x}) < 1e15
           THEN cast(cast({x} AS BIGINT) AS VARCHAR)
           ELSE cast({x} AS VARCHAR) END"""


def _enrich_oracle_sql() -> str:
    mag_g = _SQL_FMT_G.format(x="mag_raw")
    return f"""
    WITH {golden_values_cte()},
    base AS (
      SELECT *, TIMESTAMP '{BASE_TS}' AS base_ts FROM raw
    ),
    parsed AS (
      SELECT rid, Time, Location, County, State, Comments, EventType, base_ts,
             coalesce(try_cast(trim(Lat) AS DOUBLE), 0.0) AS lat,
             coalesce(try_cast(trim(Lon) AS DOUBLE), 0.0) AS lon,
             ({_SQL_MAG}) AS mag_raw,
             ({_SQL_EVENT_TIME}) AS event_time
      FROM base
    ),
    normed AS (
      SELECT *,
             CASE WHEN EventType IN ('hail','wind','tornado') THEN EventType ELSE '' END AS event_type,
             CASE CASE WHEN EventType IN ('hail','wind','tornado') THEN EventType ELSE '' END
               WHEN 'hail' THEN 'in' WHEN 'wind' THEN 'mph' WHEN 'tornado' THEN 'f_scale' ELSE '' END AS unit
      FROM parsed
    ),
    magfix AS (
      SELECT *,
             CASE WHEN mag_raw <> 0 AND event_type = 'hail' AND unit = 'in' AND mag_raw >= 10
                  THEN mag_raw / 100.0 ELSE mag_raw END AS magnitude
      FROM normed
    )
    SELECT rid,
           CASE WHEN EventType = '' THEN substr(sha256(EventType || '|' || State || '|' ||
                     printf('%.4f', lat) || '|' || printf('%.4f', lon) || '|' || Time || '|' ||
                     ({mag_g})), 1, 16)
                ELSE EventType || '-' || substr(sha256(EventType || '|' || State || '|' ||
                     printf('%.4f', lat) || '|' || printf('%.4f', lon) || '|' || Time || '|' ||
                     ({mag_g})), 1, 16) END AS id,
           event_type,
           round(lat, 6) AS lat, round(lon, 6) AS lon,
           round(magnitude, 6) AS magnitude,
           unit,
           CASE WHEN magnitude = 0 THEN NULL
                WHEN event_type = 'hail' THEN
                  CASE WHEN magnitude < 0.75 THEN 'minor' WHEN magnitude < 1.5 THEN 'moderate'
                       WHEN magnitude < 2.5 THEN 'severe' ELSE 'extreme' END
                WHEN event_type = 'wind' THEN
                  CASE WHEN magnitude < 50 THEN 'minor' WHEN magnitude < 74 THEN 'moderate'
                       WHEN magnitude < 96 THEN 'severe' ELSE 'extreme' END
                WHEN event_type = 'tornado' THEN
                  CASE WHEN magnitude <= 1 THEN 'minor' WHEN magnitude = 2 THEN 'moderate'
                       WHEN magnitude <= 4 THEN 'severe' ELSE 'extreme' END
                ELSE NULL END AS severity,
           event_time,
           CASE WHEN regexp_matches(trim(Location), '^(\\d+(?:\\.\\d+)?)\\s+([NSEW]{{1,3}})\\s+(.+)$')
                THEN trim(regexp_extract(trim(Location), '^(\\d+(?:\\.\\d+)?)\\s+([NSEW]{{1,3}})\\s+(.+)$', 3))
                ELSE trim(Location) END AS loc_name,
           CASE WHEN regexp_matches(trim(Location), '^(\\d+(?:\\.\\d+)?)\\s+([NSEW]{{1,3}})\\s+(.+)$')
                THEN cast(regexp_extract(trim(Location), '^(\\d+(?:\\.\\d+)?)\\s+([NSEW]{{1,3}})\\s+(.+)$', 1) AS DOUBLE)
                ELSE NULL END AS loc_distance,
           CASE WHEN regexp_matches(trim(Location), '^(\\d+(?:\\.\\d+)?)\\s+([NSEW]{{1,3}})\\s+(.+)$')
                THEN regexp_extract(trim(Location), '^(\\d+(?:\\.\\d+)?)\\s+([NSEW]{{1,3}})\\s+(.+)$', 2)
                ELSE NULL END AS loc_direction,
           State AS state, County AS county,
           coalesce(regexp_extract(trim(Comments), '\\(([A-Z]{{3,5}})\\)\\s*$', 1), '') AS source_office,
           date_trunc('hour', event_time) AS time_bucket
    FROM magfix
    """


@register("storm_enrich_golden", _enrich_oracle_sql())
def storm_enrich_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full enrichment dataflow (P2-P13) over the shared golden VALUES rows,
    flattened for comparison. sf_dir is unused — the fixture is inline, so
    the same check runs at every scale factor."""
    # Reference time semantics are UTC; the host session (the driver builds
    # its own) may not be — pin before any timestamp literal is resolved.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = golden_df(spark).withColumn("_base_ts", F.lit(BASE_TS).cast("timestamp"))
    # The shipped composition itself; `rid` passes through it (enrich_raw's
    # pass-through rule), and one select flattens the nested event.
    return E.enrich_raw(raw).select(
        "rid",
        "id",
        "event_type",
        F.round("geo.lat", 6).alias("lat"),
        F.round("geo.lon", 6).alias("lon"),
        F.round("measurement.magnitude", 6).alias("magnitude"),
        F.col("measurement.unit").alias("unit"),
        F.col("measurement.severity").alias("severity"),
        "event_time",
        F.col("location.name").alias("loc_name"),
        F.col("location.distance").alias("loc_distance"),
        F.col("location.direction").alias("loc_direction"),
        F.col("location.state").alias("state"),
        F.col("location.county").alias("county"),
        "source_office",
        "time_bucket",
    )
