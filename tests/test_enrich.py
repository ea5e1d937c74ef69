"""Tier-1 unit tests for the enrichment expression library.

Table-driven boundary tests mirroring the reference's
internal/domain/transform_test.go (values transcribed in FIXTURES.md §5 —
behavioral parity, not copied code).
"""

from __future__ import annotations

import datetime as dt

from storm_data_etl_spark.functions import enrich as E

BASE = dt.datetime(2024, 4, 26, 0, 0, 0)


def _eval(spark, col, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in df.select(col).collect()]


# ---------------------------------------------------------------- severity
SEVERITY_CASES = [
    ("hail", 0.5, "minor"),
    ("hail", 0.75, "moderate"),
    ("hail", 1.0, "moderate"),
    ("hail", 1.5, "severe"),
    ("hail", 2.0, "severe"),
    ("hail", 2.5, "extreme"),
    ("hail", 3.0, "extreme"),
    ("wind", 45.0, "minor"),
    ("wind", 50.0, "moderate"),
    ("wind", 60.0, "moderate"),
    ("wind", 74.0, "severe"),
    ("wind", 85.0, "severe"),
    ("wind", 96.0, "extreme"),
    ("wind", 100.0, "extreme"),
    ("tornado", 1.0, "minor"),
    ("tornado", 1.5, "severe"),  # fractional between 1 and 2 → severe
    ("tornado", 2.0, "moderate"),
    ("tornado", 2.5, "severe"),
    ("tornado", 3.0, "severe"),
    ("tornado", 4.0, "severe"),
    ("tornado", 5.0, "extreme"),
    ("hail", 0.0, None),
    ("earthquake", 5.5, None),
    ("", 100.0, None),
]


def test_derive_severity(spark):
    rows = [(t, m) for t, m, _ in SEVERITY_CASES]
    got = _eval(spark, E.derive_severity("t", "m"), rows, "t string, m double")
    assert got == [exp for _, _, exp in SEVERITY_CASES]


# ---------------------------------------------------------------- location
LOCATION_CASES = [
    ("5 N AUSTIN", ("AUSTIN", 5.0, "N")),
    ("5.2 NW AUSTIN", ("AUSTIN", 5.2, "NW")),
    ("10.5 NNE SAN ANTONIO", ("SAN ANTONIO", 10.5, "NNE")),
    ("2.25 E DALLAS", ("DALLAS", 2.25, "E")),
    ("8 ESE Chappel", ("Chappel", 8.0, "ESE")),
    ("5 AUSTIN", ("5 AUSTIN", None, None)),
    ("N AUSTIN", ("N AUSTIN", None, None)),
    ("AUSTIN", ("AUSTIN", None, None)),
    ("", ("", None, None)),
    ("   ", ("", None, None)),
    ("abc N AUSTIN", ("abc N AUSTIN", None, None)),
    ("3 EEE SOMEWHERE", ("SOMEWHERE", 3.0, "EEE")),  # regex admits nonsense compass
]


def test_parse_location(enrich_locations):
    got = enrich_locations([loc for loc, _ in LOCATION_CASES])
    assert got == [exp for _, exp in LOCATION_CASES]


# ------------------------------------------------------------- source office
OFFICE_CASES = [
    ("Storm reported by spotter (ABC)", "ABC"),
    ("Something happened (ABCD)", "ABCD"),
    ("Something happened (ABCDE)", "ABCDE"),
    ("No office code here", ""),
    ("storm (abc)", ""),
    ("(ABC) storm reported", ""),
    ("Storm (ABC) test (DEF)", "DEF"),
    ("Storm (ABC )  ", ""),
    ("Storm (123)", ""),
    ("Storm (AB12)", ""),
    ("Trailing spaces ok (SJT)   ", "SJT"),
    ("", ""),
    ("Too short (AB)", ""),
    ("Too long (ABCDEF)", ""),
]


def test_extract_source_office(spark):
    rows = [(c,) for c, _ in OFFICE_CASES]
    got = _eval(spark, E.extract_source_office("c"), rows, "c string")
    assert got == [exp for _, exp in OFFICE_CASES]


# ---------------------------------------------------------------- HHMM / time
HHMM_CASES = [
    ("1510", dt.datetime(2024, 4, 26, 15, 10)),
    ("930", dt.datetime(2024, 4, 26, 9, 30)),
    ("0000", dt.datetime(2024, 4, 26, 0, 0)),
    ("2359", dt.datetime(2024, 4, 26, 23, 59)),
    ("", BASE),
    ("12", BASE),
    ("2510", BASE),  # hour 25
    ("1299", BASE),  # minute 99
    ("12a0", BASE),
    ("  1510  ", dt.datetime(2024, 4, 26, 15, 10)),
    ("15100", BASE),  # 5 digits → Go minutes=100 invalid
    # >4 digits stay in Go's domain when the tail parses ≤59: the minute
    # slice runs to the END of the string (transform.go:103), regression
    # for the lpad-truncation bug hypothesis found.
    ("00001", dt.datetime(2024, 4, 26, 0, 1)),
    ("230059", dt.datetime(2024, 4, 26, 23, 59)),
]


def test_parse_hhmm(spark):
    rows = [(BASE, h) for h, _ in HHMM_CASES]
    got = _eval(spark, E.parse_hhmm("ts", "h"), rows, "ts timestamp, h string")
    assert got == [exp for _, exp in HHMM_CASES]


EVENT_TIME_CASES = [
    ("2024-04-26T15:10:00Z", dt.datetime(2024, 4, 26, 15, 10)),
    ("2024-04-26T15:10:00+00:00", dt.datetime(2024, 4, 26, 15, 10)),
    # RFC3339 with non-UTC offset converts to the UTC instant
    ("2024-04-26T15:30:00-05:00", dt.datetime(2024, 4, 26, 20, 30)),
    ("1510", dt.datetime(2024, 4, 26, 15, 10)),
    ("", BASE),
    ("not-a-time", BASE),
    # Go RFC3339 rejects a bare date → HHMM fallback → base
    ("2024-04-26", BASE),
    # Go RFC3339 rejects space separator
    ("2024-04-26 15:10:00", BASE),
    # invalid month → cast fails → HHMM fallback → base
    ("2024-13-26T15:10:00Z", BASE),
]


def test_event_time(spark):
    rows = [(BASE, t) for t, _ in EVENT_TIME_CASES]
    got = _eval(spark, E.event_time("ts", "t"), rows, "ts timestamp, t string")
    assert got == [exp for _, exp in EVENT_TIME_CASES]


# ------------------------------------------------------------- magnitude
MAG_DISPATCH_CASES = [
    ("hail", "125", "", "", 125.0),
    ("hail", "1.25", "", "", 1.25),
    ("tornado", "", "EF2", "", 2.0),
    ("tornado", "", "F3", "", 3.0),
    ("tornado", "", "2", "", 2.0),
    ("tornado", "", "UNK", "", 0.0),
    ("tornado", "", "unk", "", 0.0),
    ("wind", "", "", "65", 65.0),
    ("wind", "", "", "UNK", 0.0),
    ("hail", "", "", "", 0.0),
    ("snow", "100", "100", "100", 0.0),
    ("", "100", "100", "100", 0.0),
    ("tornado", "", "FF3", "", 0.0),  # Go strips EF then F once: FF3→F3→parse fail
    ("hail", " 150 ", "", "", 150.0),
]


def test_magnitude_raw(spark):
    rows = [(t, s, f, sp) for t, s, f, sp, _ in MAG_DISPATCH_CASES]
    got = _eval(
        spark,
        E.magnitude_raw("t", "s", "f", "sp"),
        rows,
        "t string, s string, f string, sp string",
    )
    assert got == [exp for *_, exp in MAG_DISPATCH_CASES]


MAG_NORM_CASES = [
    ("hail", 175.0, "in", 1.75),
    ("hail", 250.0, "in", 2.5),
    ("hail", 1.5, "in", 1.5),
    ("hail", 10.0, "in", 0.1),  # boundary: >=10 divides
    ("hail", 9.99, "in", 9.99),
    ("hail", 5.0, "cm", 5.0),
    ("wind", 85.0, "mph", 85.0),
    ("hail", 0.0, "in", 0.0),
    ("snow", 100.0, "in", 100.0),
]


def test_normalize_magnitude(spark):
    rows = [(t, m, u) for t, m, u, _ in MAG_NORM_CASES]
    got = _eval(
        spark, E.normalize_magnitude("t", "m", "u"), rows, "t string, m double, u string"
    )
    assert got == [exp for *_, exp in MAG_NORM_CASES]


# ------------------------------------------------------- type/unit normalize
def test_normalize_event_type(spark):
    cases = [
        ("hail", "hail"),
        ("wind", "wind"),
        ("tornado", "tornado"),
        ("torn", ""),
        ("HAIL", ""),
        ("Hail", ""),
        ("  hail  ", ""),
        ("snow", ""),
        ("", ""),
    ]
    got = _eval(spark, E.normalize_event_type("t"), [(c,) for c, _ in cases], "t string")
    assert got == [exp for _, exp in cases]


def test_normalize_unit(spark):
    cases = [
        ("hail", "cm", "cm"),
        ("hail", "  IN  ", "in"),
        ("hail", "", "in"),
        ("wind", "", "mph"),
        ("tornado", "", "f_scale"),
        ("earthquake", "", ""),
        ("", "", ""),
    ]
    got = _eval(
        spark, E.normalize_unit("t", "u"), [(t, u) for t, u, _ in cases], "t string, u string"
    )
    assert got == [exp for *_, exp in cases]


# ------------------------------------------------------------------ %g / ID
def test_fmt_g(spark):
    # Full domain of fixture magnitudes plus edge values.
    cases = [
        (0.0, "0"),
        (125.0, "125"),
        (1.25, "1.25"),
        (2.5, "2.5"),
        (65.0, "65"),
        (0.5, "0.5"),
        (1.75, "1.75"),
        (3.0, "3"),
        (300.0, "300"),
        (-1.5, "-1.5"),
        (58.0, "58"),
        (9.99, "9.99"),
    ]
    got = _eval(spark, E.fmt_g("m"), [(m,) for m, _ in cases], "m double")
    assert got == [exp for _, exp in cases]


def test_event_id_matches_go_sha256(spark):
    """Recompute the Go hash in Python and compare (determinism + format)."""
    import hashlib

    def go_id(et, state, lat, lon, time_str, mag):
        mag_s = repr(mag) if mag != int(mag) else str(int(mag))
        inp = f"{et}|{state}|{lat:.4f}|{lon:.4f}|{time_str}|{mag_s}"
        h = hashlib.sha256(inp.encode()).hexdigest()[:16]
        return h if et == "" else f"{et}-{h}"

    cases = [
        ("hail", "TX", 31.02, -98.44, "1510", 125.0),
        ("tornado", "OK", 34.96, -95.77, "1223", 0.0),
        ("wind", "NE", 41.02, -98.91, "1245", 65.0),
        ("hail", "TX", 31.02, -98.44, "1510", 1.25),  # mag changes → id changes
        ("", "TX", 31.02, -98.44, "1510", 125.0),     # empty type → bare hash
    ]
    rows = [(et, st, la, lo, t, m) for et, st, la, lo, t, m in cases]
    got = _eval(
        spark,
        E.event_id("et", "st", "la", "lo", "t", "m"),
        rows,
        "et string, st string, la double, lo double, t string, m double",
    )
    exp = [go_id(*c) for c in cases]
    assert got == exp
    assert len(set(got)) == len(got)  # all distinct


# ------------------------------------------------------------------ bucket
def test_time_bucket(spark):
    cases = [
        (dt.datetime(2024, 4, 26, 15, 0, 0), dt.datetime(2024, 4, 26, 15, 0)),
        (dt.datetime(2024, 4, 26, 15, 45, 30, 500), dt.datetime(2024, 4, 26, 15, 0)),
        (None, None),  # zero time → NULL
    ]
    got = _eval(spark, E.time_bucket("t"), [(c,) for c, _ in cases], "t timestamp")
    assert got == [exp for _, exp in cases]


def test_parse_float_or_zero(spark):
    cases = [("31.02", 31.02), ("", 0.0), ("  -98.44 ", -98.44), ("abc", 0.0), (None, 0.0)]
    got = _eval(spark, E.parse_float_or_zero("s"), [(c,) for c, _ in cases], "s string")
    assert got == [exp for _, exp in cases]


def test_enrich_with_observation_metrics(spark):
    """df.observe() collects pipeline metrics in the SAME pass as the
    enrichment action — the batch twin of the streaming listener metrics
    (ST7): no second scan, no accumulator plumbing."""
    import json

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from storm_data_etl_spark.functions.enrich import enrich_envelope

    recs = [
        {"Time": "1510", "Size": "125", "F_Scale": "", "Speed": "",
         "Location": "8 ESE Chappel", "County": "San Saba", "State": "TX",
         "Lat": "31.02", "Lon": "-98.44", "Comments": "Hail. (SJT)",
         "EventType": "hail"},
        {"Time": "1245", "Size": "", "F_Scale": "", "Speed": "65",
         "Location": "Tarrant spot", "County": "Tarrant", "State": "TX",
         "Lat": "32.75", "Lon": "-97.33", "Comments": "Gusts. (FWD)",
         "EventType": "wind"},
    ]
    rows = [(json.dumps(r).encode(), "2024-04-26 00:00:00") for r in recs]
    rows.append((b"broken{{{", "2024-04-26 00:00:00"))
    df = spark.createDataFrame(rows, "value binary, timestamp string").withColumn(
        "timestamp", F.col("timestamp").cast("timestamp")
    )
    obs = Observation("enrich_metrics")
    out = enrich_envelope(df).observe(
        obs,
        F.count(F.lit(1)).alias("produced"),
        F.count(F.when(F.col("measurement.severity").isNull(), 1)).alias(
            "null_severity"
        ),
    )
    assert out.count() == 2  # poison pill dropped before the observe point
    got = obs.get
    assert got["produced"] == 2
    assert got["null_severity"] == 0


def test_enrich_raw_pass_through(spark):
    """Input columns enrich_raw does not read lead the output unchanged;
    raw-only input yields EVENT_SCHEMA's names and types (nullability
    aside: geo and measurement.unit are never null)."""
    from pyspark.sql import functions as F

    from storm_data_etl_spark.functions.enrich import enrich_raw
    from storm_data_etl_spark.plans.enrich_queries import BASE_TS, GOLDEN_ROWS, golden_df
    from storm_data_etl_spark.schema import EVENT_SCHEMA

    raw = golden_df(spark).withColumn("_base_ts", F.lit(BASE_TS).cast("timestamp"))
    keyed = enrich_raw(raw)
    assert keyed.columns == ["rid", *EVENT_SCHEMA.fieldNames()]
    assert sorted(r.rid for r in keyed.select("rid").collect()) == [
        row[0] for row in GOLDEN_ROWS
    ]

    def types(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    assert types(enrich_raw(raw.drop("rid")).schema) == types(EVENT_SCHEMA)


def test_storm_enrich_golden_matches_oracle(spark):
    """The registry's golden query runs enrich_raw over its inline VALUES
    fixture; its independent DuckDB translation needs no tables, so the
    registry's oracle comparison runs here in full."""
    import importlib.util
    import os

    import duckdb

    from storm_data_etl_spark.plans.enrich_queries import (
        GOLDEN_ROWS,
        _enrich_oracle_sql,
        storm_enrich_golden,
    )

    spec = importlib.util.spec_from_file_location(
        "oracle_check",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "oracle_check.py"),
    )
    oracle_check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle_check)

    sdf = storm_enrich_golden(spark, "")
    res = duckdb.connect().execute(_enrich_oracle_sql())
    dcols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(dcols)
    got = oracle_check._canon(sdf.collect(), sdf.columns)
    assert len(got) == len(GOLDEN_ROWS)
    assert got == oracle_check._canon(res.fetchall(), dcols)
