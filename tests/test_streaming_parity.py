"""Streaming output against the batch path, micro-batch by micro-batch.

`run_pipeline` builds its enrichment plan once per query and splits each
micro-batch into good events and dead letters. These tests drain small
file-source backlogs (one file per micro-batch) through it and check every
epoch against `enrich_envelope` over the same lines, for both envelope forms
the pipeline is fed: the text source adapted by `text_stream_to_envelope`
and a JSON-schema envelope. They also pin that the plan is built once, that
`processed_at=None` is one clock value per micro-batch, and the per-batch
cost settings: sink actions run without AQE on the stream's own session
(the caller's keeps it) and checkpoints use the FileSystem-based manager.
"""

from __future__ import annotations

import json
import os

from storm_data_etl_spark import session
from storm_data_etl_spark.functions.enrich import enrich_envelope, json_valid
from storm_data_etl_spark.sources.kafka import serialize_events
from storm_data_etl_spark.streaming import pipeline
from storm_data_etl_spark.streaming.metrics import PipelineMetricsListener
from storm_data_etl_spark.streaming.pipeline import run_pipeline, text_stream_to_envelope

PROCESSED_AT = "2024-04-27 06:00:00"
JSON_ENVELOPE = "value string, topic string, partition int, offset long, timestamp timestamp"

HAIL = {
    "Time": "1510", "Size": "125", "F_Scale": "", "Speed": "",
    "Location": "8 ESE Chappel", "County": "San Saba", "State": "TX",
    "Lat": "31.02", "Lon": "-98.44", "Comments": "Hail. (SJT)", "EventType": "hail",
}
WIND = {**HAIL, "EventType": "wind", "Size": "", "Speed": "65", "Time": "0930",
        "Location": "Hobart", "Comments": "Trees down."}
TORNADO = {**HAIL, "EventType": "tornado", "Size": "", "F_Scale": "EF2", "Time": "2210",
           "Location": "3 N Mcalester", "State": "OK", "Comments": "Survey. (TSA)"}

# one list of payload lines per file (= per micro-batch); None is a null
# value (JSON envelope only — a text line cannot be null)
BATCHES = [
    [json.dumps(HAIL), "not-json{{{", json.dumps(WIND), json.dumps(TORNADO)],
    [json.dumps({**WIND, "Speed": "80"}), json.dumps({**HAIL, "Size": "2.75"}), "[1, 2"],
    ["{oops", json.dumps({**TORNADO, "F_Scale": "F4"}), json.dumps({**HAIL, "Time": ""}), None],
]
TEXT_BATCHES = [[line for line in lines if line is not None] for lines in BATCHES]


def _write_files(src: str, files: list[list[str]]) -> list[str]:
    """One file per batch, mtimes strictly increasing so the file source
    (maxFilesPerTrigger=1) reads file i in micro-batch i."""
    os.makedirs(src)
    paths = []
    for i, lines in enumerate(files):
        path = os.path.join(src, f"part-{i}.txt")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
    return paths


def _text_stream(spark, src: str):
    return text_stream_to_envelope(
        spark.readStream.option("maxFilesPerTrigger", 1).format("text").load(src)
    )


def _drain(spark, envelope, ckpt: str):
    """Run the pipeline to the end of the backlog; per epoch, the good and
    dead-letter DataFrames' collected rows and the dead-letter schema."""
    good: dict[int, list] = {}
    dead: dict[int, tuple] = {}

    def sink(df, epoch):
        good[epoch] = serialize_events(df).collect()

    def dead_letter_sink(df, epoch):
        dead[epoch] = (df.schema, df.collect())

    q = run_pipeline(
        spark, envelope, ckpt, sink=sink, dead_letter_sink=dead_letter_sink,
        trigger_interval="0 seconds", processed_at=PROCESSED_AT,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return good, dead


def _fields(schema) -> list:
    return [(f.name, f.dataType) for f in schema.fields]


def _check_parity(good, dead, batch_envelopes, stream_schema) -> None:
    """Every epoch's events equal the batch path's on the same lines, and
    its dead letters are the original envelope rows, columns and types."""
    assert sorted(good) == sorted(dead) == list(range(len(batch_envelopes)))
    for epoch, envelope in enumerate(batch_envelopes):
        want = serialize_events(enrich_envelope(envelope, processed_at=PROCESSED_AT))
        assert good[epoch] == want.collect(), f"epoch {epoch}"
        schema, rows = dead[epoch]
        assert _fields(schema) == _fields(stream_schema)
        assert rows == envelope.filter(~json_valid("value")).collect(), f"epoch {epoch}"
        assert rows, "every batch carries a poison pill"


def test_stream_matches_batch_text_envelope(spark, tmp_path):
    paths = _write_files(str(tmp_path / "src"), TEXT_BATCHES)
    stream = _text_stream(spark, str(tmp_path / "src"))
    good, dead = _drain(spark, stream, str(tmp_path / "ckpt"))
    batches = [text_stream_to_envelope(spark.read.format("text").load(p)) for p in paths]
    _check_parity(good, dead, batches, stream.schema)
    # binary key/value, the headers array and the surrogate offset survive
    schema, rows = dead[0]
    assert dict(_fields(schema))["value"].simpleString() == "binary"
    assert dict(_fields(schema))["headers"].simpleString() == "array<struct<key:string,value:binary>>"
    assert [bytes(r.value) for r in rows] == [b"not-json{{{"]
    assert rows[0].offset is not None


def test_stream_matches_batch_json_envelope(spark, tmp_path):
    envelopes = [
        [
            json.dumps({"value": v, "topic": "t", "partition": 0, "offset": 10 * b + i,
                        "timestamp": "2024-04-26T00:00:00.000Z"})
            for i, v in enumerate(lines)
        ]
        for b, lines in enumerate(BATCHES)
    ]
    paths = _write_files(str(tmp_path / "src"), envelopes)
    stream = (
        spark.readStream.schema(JSON_ENVELOPE).option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "src"))
    )
    good, dead = _drain(spark, stream, str(tmp_path / "ckpt"))
    batches = [spark.read.schema(JSON_ENVELOPE).json(p) for p in paths]
    _check_parity(good, dead, batches, stream.schema)
    assert [r.offset for r in dead[2][1]] == [20, 23]
    assert dead[2][1][1].value is None


def test_enrichment_plan_built_once(spark, tmp_path, monkeypatch):
    calls = []
    real = pipeline.enrich_raw

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline, "enrich_raw", counted)
    _write_files(str(tmp_path / "src"), TEXT_BATCHES)
    stream = _text_stream(spark, str(tmp_path / "src"))
    good, _ = _drain(spark, stream, str(tmp_path / "ckpt"))
    assert sorted(good) == [0, 1, 2]
    assert len(calls) == 1


def test_processed_at_is_one_value_per_batch(spark, tmp_path):
    """processed_at=None (the CLI default) stamps a micro-batch once: every
    row and both actions on the batch see the same value."""
    _write_files(str(tmp_path / "src"), TEXT_BATCHES)
    stream = _text_stream(spark, str(tmp_path / "src"))
    seen: dict[int, list[set]] = {}

    def sink(df, epoch):
        stamps = df.select("processed_at")
        seen[epoch] = [{r[0] for r in stamps.collect()}, {r[0] for r in stamps.distinct().collect()}]

    q = run_pipeline(
        spark, stream, str(tmp_path / "ckpt"), sink=sink, trigger_interval="0 seconds",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(seen) == [0, 1, 2]
    for epoch, (first, second) in seen.items():
        assert len(first) == 1 and None not in first, f"epoch {epoch}: {first}"
        assert first == second, f"epoch {epoch}: {first} then {second}"


def test_get_spark_pins_filesystem_checkpoint_manager(spark):
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == session.CHECKPOINT_FILE_MANAGER
    assert session.CHECKPOINT_FILE_MANAGER.endswith(".FileSystemBasedCheckpointFileManager")


def test_sink_actions_run_without_aqe_caller_keeps_it(spark, tmp_path):
    """AQE is switched off on the stream's cloned session only: the batch
    DataFrames the sinks see carry it off, the caller's session keeps it."""
    _write_files(str(tmp_path / "src"), TEXT_BATCHES[:1])
    stream = _text_stream(spark, str(tmp_path / "src"))
    seen = {}

    def sink(df, epoch):
        seen[epoch] = df.sparkSession.conf.get("spark.sql.adaptive.enabled")

    q = run_pipeline(spark, stream, str(tmp_path / "ckpt"), sink=sink, trigger_interval="0 seconds")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen == {0: "false"}
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_metrics_count_a_batch_without_poison(spark, tmp_path):
    """The one counter aggregate records 0 errors when a batch has no
    poison pill, and every row of a clean batch as produced."""
    clean = [[json.dumps(HAIL), json.dumps(WIND)], [json.dumps(TORNADO)]]
    _write_files(str(tmp_path / "src"), clean)
    stream = _text_stream(spark, str(tmp_path / "src"))
    metrics = PipelineMetricsListener()
    q = run_pipeline(
        spark, stream, str(tmp_path / "ckpt"), sink=lambda df, epoch: None,
        trigger_interval="0 seconds", processed_at=PROCESSED_AT, metrics=metrics,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snap = metrics.snapshot()
    assert (snap.produced_total, snap.transform_errors_total) == (3, 0)
