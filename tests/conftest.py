"""Shared pytest fixtures: one local SparkSession per test run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from storm_data_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("storm_data_etl_spark-tests", master="local[4]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def enrich_locations(spark):
    """Location strings → [(name, distance, direction)], parsed by the
    shipped `enrich_raw` with every other raw field empty."""
    from pyspark.sql import functions as F

    from storm_data_etl_spark.functions.enrich import enrich_raw
    from storm_data_etl_spark.schema import RAW_SCHEMA

    def run(locations: list[str]) -> list[tuple]:
        rows = [
            tuple(loc if f == "Location" else "" for f in RAW_SCHEMA.fieldNames())
            for loc in locations
        ]
        raw = spark.createDataFrame(rows, RAW_SCHEMA).withColumn(
            "_base_ts", F.lit(None).cast("timestamp")
        )
        out = enrich_raw(raw).select(
            "location.name", "location.distance", "location.direction"
        )
        return [tuple(r) for r in out.collect()]

    return run
