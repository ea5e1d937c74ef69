"""Seeded input generators: the TPC-H-shaped lake tables the registry
queries read, and the storm-report envelope backlog the streaming ETL drains.

Everything is a pure function of the seed, so one seed gives byte-identical
inputs on any host. Table shapes follow the engine's fixture contract
(`plans/tables.py`): one single-row-group parquet file per table, with the
column names, types and value domains the registry queries and their DuckDB
oracles expect.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (``part`` has no
    generator: it only sizes the ``l_partkey`` domain)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
    }


def _region(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:  # noqa: ARG001
    return pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )


def _nation(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:  # noqa: ARG001
    return pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )


def _customer(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    nc = n["customer"]
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc), pa.string()),
        }
    )


def _supplier(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    ns = n["supplier"]
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )


def _orders(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    no = n["orders"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, no) * _DAY_US),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no), pa.string()),
        }
    )


def _lineitem(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    nl = n["lineitem"]
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl), pa.string()),
            "l_linestatus": pa.array(rng.choice(("F", "O"), nl), pa.string()),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
        }
    )


def _events(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    ne = n["events"]
    return pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, ne), pa.string()),
            "value": pa.array(np.round(np.maximum(rng.exponential(50.0, ne), 0.01), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
        }
    )


#: Table generators. Each table draws from its own generator, seeded by
#: (seed, position here), so a table's contents do not depend on which
#: other tables a workload asks for.
_GENERATORS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
}


def make_tables(seed: int, sf: float, names: list[str]) -> dict[str, pa.Table]:
    """The lake tables ``names`` at scale factor ``sf``, generated from ``seed``."""
    n = table_rows(sf)
    order = list(_GENERATORS)
    return {
        name: _GENERATORS[name](np.random.default_rng([seed, order.index(name)]), n)
        for name in names
    }


def write_tables(seed: int, sf: float, names: list[str], out_dir: str) -> dict[str, int]:
    """Write the tables ``names`` as ``out_dir/<name>.parquet`` (one row
    group, like the fixture) and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) or 1)
        counts[name] = len(table)
    return counts


# ---------------------------------------------------------------- stream --

_STATES = ("TX", "OK", "KS", "NE", "MO", "AR", "LA", "IA", "CO", "SD")
_COUNTIES = ("Tarrant", "San Saba", "Pittsburg", "Cleveland", "Sedgwick", "Polk")
_PLACES = ("Chappel", "Dalton", "Hillsboro", "Mason", "Ranger", "Tilden", "Walnut")
_DIRS = ("N", "NE", "E", "ESE", "SE", "S", "SW", "W", "NW", "WNW")
_OFFICES = ("FWD", "SJT", "TSA", "OUN", "ICT", "TOP", "DDC")
_POISON = ("not-json{{{", '{"Time": "1510", "Size": ', '}{"EventType": "hail"')

#: Share of envelopes that are malformed JSON (poison pills → dead letter).
POISON_RATE = 0.001


def _magnitude(rng: random.Random, etype: str) -> tuple[str, str, str]:
    """(Size, F_Scale, Speed) in each type's wire formats: hail as
    hundredths ("175") or inches ("1.75"), tornado as EF/F scale or UNK,
    wind as mph; a few blanks exercise the zero-magnitude branch."""
    blank = rng.random() < 0.03
    if etype == "hail":
        size = "" if blank else rng.choice(
            (str(rng.randrange(25, 450)), f"{rng.randrange(25, 450) / 100:.2f}")
        )
        return size, "", ""
    if etype == "tornado":
        scale = "" if blank else rng.choice(
            (f"EF{rng.randrange(6)}", f"F{rng.randrange(6)}", "EFU", "UNK")
        )
        return "", scale, ""
    return "", "", "" if blank else str(rng.randrange(40, 120))


def _time(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.8:
        return f"{rng.randrange(24):02d}{rng.randrange(60):02d}"
    if r < 0.9:
        return f"{rng.randrange(1, 10)}{rng.randrange(60):02d}"  # 3-digit HHMM
    if r < 0.97:
        return f"2024-04-26T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00Z"
    return ""


def storm_record(rng: random.Random) -> dict[str, str]:
    """One RawCSVRecord covering every enrichment branch: all three event
    types, located and bare place names, comments with and without an
    office code."""
    etype = rng.choice(("hail", "wind", "tornado"))
    size, f_scale, speed = _magnitude(rng, etype)
    place = rng.choice(_PLACES)
    if rng.random() < 0.7:
        location = f"{rng.randrange(1, 25)} {rng.choice(_DIRS)} {place}"
    else:
        location = place
    comments = rng.choice(("Quarter hail reported", "Trees down", "Brief touchdown"))
    if rng.random() < 0.6:
        comments += f". ({rng.choice(_OFFICES)})"
    return {
        "Time": _time(rng),
        "Size": size,
        "F_Scale": f_scale,
        "Speed": speed,
        "Location": location,
        "County": rng.choice(_COUNTIES),
        "State": rng.choice(_STATES),
        "Lat": f"{rng.uniform(26.0, 45.0):.2f}",
        "Lon": f"{rng.uniform(-106.0, -90.0):.2f}",
        "Comments": comments,
        "EventType": etype,
    }


def make_backlog(seed: int, n_files: int, rows_per_file: int) -> list[list[str]]:
    """``n_files`` files of ``rows_per_file`` JSON lines each; about
    POISON_RATE of the lines are poison pills."""
    rng = random.Random(seed)
    files = []
    for _ in range(n_files):
        lines = []
        for _ in range(rows_per_file):
            if rng.random() < POISON_RATE:
                lines.append(rng.choice(_POISON))
            else:
                lines.append(json.dumps(storm_record(rng), separators=(",", ":")))
        files.append(lines)
    return files


def is_poison(line: str) -> bool:
    return line in _POISON


def write_backlog(files: list[list[str]], src_dir: str) -> list[str]:
    """Write the backlog as text files with strictly increasing mtimes, so
    the file source (which orders by modification time) reads file i in
    micro-batch i under maxFilesPerTrigger=1."""
    os.makedirs(src_dir, exist_ok=True)
    paths = []
    base = 1_700_000_000
    for i, lines in enumerate(files):
        path = os.path.join(src_dir, f"envelopes-{i:04d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (base + i, base + i))
        paths.append(path)
    return paths
