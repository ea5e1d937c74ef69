"""Tests for CSV/JSON sources and the Kafka message serializer."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from storm_data_etl_spark.functions.enrich import enrich_raw
from storm_data_etl_spark.schema import RAW_SCHEMA
from storm_data_etl_spark.sources.csv import read_storm_csv, read_storm_csv_dir
from storm_data_etl_spark.sources.jsonio import (
    read_raw_fixture,
    write_json_array,
)
from storm_data_etl_spark.sources.kafka import serialize_events

HAIL_CSV = """Time,Size,Location,County,State,Lat,Lon,Comments
1510,125, 8 ESE Chappel ,San Saba,TX,31.02,-98.44,Hail. (SJT)
1600,200,Ravenna,Buffalo,NE,41.02,-98.91,More hail. (GID)
1700,,EmptyCell,Travis,TX,30.27,-97.74,Size missing but row complete. (EWX)
short,row
"""

WIND_CSV = """Time,Speed,Location,County,State,Lat,Lon,Comments
1245,UNK,Mcalester,Pittsburg,OK,34.94,-95.77,Trees down. (TSA)
"""


def test_read_storm_csv(spark, tmp_path):
    p = str(tmp_path / "hail.csv")
    with open(p, "w") as f:
        f.write(HAIL_CSV)
    df = read_storm_csv(spark, p, "hail")
    assert df.columns == RAW_SCHEMA.fieldNames()
    rows = df.orderBy("Time").collect()
    # short row dropped; empty-cell row KEPT; cells trimmed; magnitude
    # mapped into Size only
    assert len(rows) == 3
    assert rows[0].Size == "125" and rows[0].F_Scale == "" and rows[0].Speed == ""
    assert rows[0].Location == "8 ESE Chappel"  # trimmed
    assert rows[0].EventType == "hail"
    assert rows[2].Size == "" and rows[2].Location == "EmptyCell"


def test_read_storm_csv_dir_union(spark, tmp_path):
    hp, wp = str(tmp_path / "h.csv"), str(tmp_path / "w.csv")
    open(hp, "w").write(HAIL_CSV)
    open(wp, "w").write(WIND_CSV)
    df = read_storm_csv_dir(spark, {"hail": hp, "wind": wp})
    counts = {r.EventType: r["count"] for r in df.groupBy("EventType").count().collect()}
    assert counts == {"hail": 3, "wind": 1}
    wind = df.filter(F.col("EventType") == "wind").collect()[0]
    assert wind.Speed == "UNK" and wind.Size == ""


def test_json_array_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("1510", "125", "", "", "Somewhere", "C", "TX", "31.0", "-98.0", "x (SJT)", "hail")],
        RAW_SCHEMA,
    )
    p = str(tmp_path / "fixture.json")
    write_json_array(df, p)
    data = json.load(open(p))
    assert isinstance(data, list) and data[0]["Time"] == "1510"
    back = read_raw_fixture(spark, p)
    assert back.collect()[0].Size == "125"


def test_json_array_go_compat_byte_conventions(spark, tmp_path):
    """go_compat mode reproduces Go json.MarshalIndent byte conventions
    (genmock writeJSON, cmd/genmock/main.go:182-192): 2-space indent,
    trailing newline, HTML chars escaped as \\u003c/\\u003e/\\u0026, and
    non-ASCII kept raw UTF-8 — so a regenerated fixture diffs clean against
    a reference-generated one."""
    df = spark.createDataFrame(
        [("1510", "125", "", "", "A<B>&C", "Córdoba", "TX", "31.0", "-98.0",
          "x (SJT)", "hail")],
        RAW_SCHEMA,
    )
    p = str(tmp_path / "fixture_go.json")
    write_json_array(df, p, go_compat=True)
    text = open(p, encoding="utf-8").read()
    assert text.endswith("]\n")
    assert '"A\\u003cB\\u003e\\u0026C"' in text     # Go HTML-escapes these
    assert "Córdoba" in text                         # but not non-ASCII
    assert "\\u00f3" not in text
    assert json.loads(text)[0]["Location"] == "A<B>&C"  # values unchanged
    # and the file still roundtrips through the array source
    assert read_raw_fixture(spark, p).collect()[0].County == "Córdoba"


def test_serialize_events_wire_format(spark):
    raw = spark.createDataFrame(
        [("1510", "125", "", "", "8 ESE Chappel", "San Saba", "TX", "31.02", "-98.44",
          "Hail. (SJT)", "hail")],
        RAW_SCHEMA,
    ).withColumn("_base_ts", F.lit("2024-04-26 00:00:00").cast("timestamp"))
    enriched = enrich_raw(raw, processed_at="2024-04-27 06:00:00")
    msg = serialize_events(enriched).collect()[0]

    # the exact wire bytes: field order and formatting are the contract
    assert bytes(msg.key) == b"hail-5d91dda0f56ba124"
    assert bytes(msg.value) == (
        b'{"id":"hail-5d91dda0f56ba124","event_type":"hail",'
        b'"geo":{"lat":31.02,"lon":-98.44},'
        b'"measurement":{"magnitude":1.25,"unit":"in","severity":"moderate"},'
        b'"event_time":"2024-04-26T15:10:00.000Z",'
        b'"location":{"raw":"8 ESE Chappel","name":"Chappel","distance":8.0,'
        b'"direction":"ESE","state":"TX","county":"San Saba"},'
        b'"comments":"Hail. (SJT)","source_office":"SJT",'
        b'"time_bucket":"2024-04-26T15:00:00.000Z",'
        b'"processed_at":"2024-04-27T06:00:00.000Z"}'
    )
    assert [(h.key, bytes(h.value)) for h in msg.headers] == [
        ("event_type", b"hail"),
        ("processed_at", b"2024-04-27T06:00:00Z"),
    ]

    key = bytes(msg.key).decode()
    assert key.startswith("hail-") and len(key) == 5 + 16

    value = json.loads(bytes(msg.value))
    assert value["event_type"] == "hail"
    assert value["measurement"]["magnitude"] == 1.25
    assert value["measurement"]["severity"] == "moderate"
    assert value["location"]["name"] == "Chappel"
    assert value["source_office"] == "SJT"
    # NULL fields dropped (severity present here; distance present) —
    # event_time serialized ISO
    assert value["event_time"].startswith("2024-04-26T15:10:00")

    headers = {h.key: bytes(h.value).decode() for h in msg.headers}
    assert headers["event_type"] == "hail"
    assert headers["processed_at"] == "2024-04-27T06:00:00Z"


def test_serialize_drops_null_severity(spark):
    raw = spark.createDataFrame(
        [("1223", "", "UNK", "", "2 N Mcalester", "Pittsburg", "OK", "34.96", "-95.77",
          "Survey. (TSA)", "tornado")],
        RAW_SCHEMA,
    ).withColumn("_base_ts", F.lit("2024-04-26 00:00:00").cast("timestamp"))
    enriched = enrich_raw(raw, processed_at="2024-04-27 06:00:00")
    value = json.loads(bytes(serialize_events(enriched).collect()[0].value))
    assert "severity" not in value["measurement"]  # omitempty parity
    assert "distance" in value["location"]  # parsed 2.0 present


def test_bucketed_join_no_exchange(spark, sf_dir):
    """Two tables bucketed on the join key must join with zero Exchange —
    the co-located repeated-join layout SCALE.md promises."""
    from storm_data_etl_spark.sources.parquet import read_bucketed, write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    write_bucketed(lineitem, "b_lineitem", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: at test scale AQE would broadcast the
        # tiny side, which hides the property under test (at lake scale
        # neither side broadcasts — that's when bucketing matters)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo, bl = read_bucketed(spark, "b_orders"), read_bucketed(spark, "b_lineitem")
        joined = bo.join(
            bl, bo["o_orderkey"] == bl["l_orderkey"]
        ).groupBy("o_orderkey").count()
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan, plan
        # correctness: same count as the plain (shuffling) join
        expect = (
            orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
            .groupBy("o_orderkey")
            .count()
        )
        assert joined.exceptAll(expect).count() == 0
        assert expect.exceptAll(joined).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
