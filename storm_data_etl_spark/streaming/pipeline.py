"""The streaming ETL pipeline (ST1-ST7): source → enrich → sink.

The reference's continuous micro-batch loop (internal/pipeline/
pipeline.go:63-118) maps onto one Structured Streaming query; its hand-rolled
reliability mechanics are Spark built-ins:

- batch/flush bounds (ST4)   → trigger(processingTime) + maxOffsetsPerTrigger
- commit-after-load (ST2)    → checkpointing; offsets commit only after the
                               sink completes a micro-batch (at-least-once;
                               effectively exactly-once to idempotent sinks —
                               the deterministic IDs (P6) exist precisely to
                               make the downstream upsert idempotent)
- poison-pill skip (ST3)     → `_valid` split: good rows → sink, bad rows →
                               dead-letter sink; offsets advance regardless
- backoff/retry (ST5)        → task retry + streaming restart policy
- readiness gate (ST6)      → StreamingQueryListener, ready on first
                               progress with numInputRows > 0
- metrics (ST7)              → StreamingQueryProgress counters

The enrichment plan is built once, on the streaming DataFrame, when the query
starts (`enrich_stream`); each micro-batch callback only splits that plan's
output into good events and dead letters. The transform is THE SAME
`enrich_raw` used in batch — batch tests certify streaming semantics (the
reference makes the identical argument for its shared Transformer,
docs/Architecture.md:93-96).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from storm_data_etl_spark.functions.enrich import SPLIT_COLS, enrich_raw, parse_raw_events
from storm_data_etl_spark.sources.kafka import serialize_events


def text_stream_to_envelope(
    text_df: DataFrame,
    topic: str = "file-source",
    timestamp: str = "2024-04-26 00:00:00",
) -> DataFrame:
    """Adapt a text file-source stream (one JSON payload per line) to the
    Kafka envelope contract (schema.ENVELOPE_SCHEMA columns) so the same
    pipeline runs broker-less — the single definition the streaming tests
    and the benchmark's stream workload share (two hand-maintained copies of
    this select would silently diverge when the envelope contract
    changes)."""
    return text_df.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
        F.lit(topic).alias("topic"),
        F.lit(0).alias("partition"),
        # any per-row long works as a surrogate offset; xxhash64 is
        # streaming-safe (monotonically_increasing_id is rejected)
        F.xxhash64("value").alias("offset"),
        F.lit(timestamp).cast("timestamp").alias("timestamp"),
    )


def _tag_envelope(envelope: DataFrame) -> DataFrame:
    """`parse_raw_events` with the original envelope row packed in the
    `_envelope` struct beside the `_valid` flag (enrich.SPLIT_COLS)."""
    packed = F.struct(*[F.col(c) for c in envelope.columns])
    return parse_raw_events(envelope.withColumn("_envelope", packed))


def _dead_letters(tagged: DataFrame) -> DataFrame:
    """The invalid rows of a tagged DataFrame as the original envelope rows
    (every column and type, value bytes and offsets intact)."""
    return tagged.filter("NOT _valid").select("_envelope.*")


def split_poison(envelope: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the raw envelope into (good_parsed, dead_letter_envelope).

    Dead-letter rows are the ORIGINAL envelope rows (value bytes, offsets,
    timestamps intact) so they can be replayed — mirroring the reference's
    log-and-skip with the raw payload in the warn record
    (pipeline.go:127-139).
    """
    tagged = _tag_envelope(envelope)
    return tagged.filter("_valid").drop("_envelope"), _dead_letters(tagged)


def enrich_stream(
    envelope: DataFrame, processed_at: str | None = None
) -> DataFrame:
    """The streaming plan, built once per query: every envelope row →
    `_valid`, `_envelope` (the original row, for dead-letter replay) and the
    EVENT_SCHEMA columns. Stateless narrow transform — no watermark or state
    store needed (there are no streaming windows in the reference;
    time_bucket is a per-row column, SURVEY §2.7).

    ``processed_at=None`` stamps each row with its micro-batch's timestamp
    from the offset log, so every action on a batch, a retried epoch
    included, sees the same value."""
    return enrich_raw(_tag_envelope(envelope), processed_at=processed_at)


def run_pipeline(
    spark: SparkSession,
    envelope_stream: DataFrame,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None] | None = None,
    kafka_brokers: str | None = None,
    output_topic: str | None = None,
    trigger_interval: str = "500 milliseconds",
    processed_at: str | None = None,
    dead_letter_path: str | None = None,
    dead_letter_sink: Callable[[DataFrame, int], None] | None = None,
    metrics=None,
) -> StreamingQuery:
    """ST1: the continuous pipeline as a foreachBatch streaming query.

    foreachBatch lets one micro-batch serve both sinks (main + dead-letter)
    with a single source read — the exact structure of the reference's
    extract→transform→load loop, with offset commit after load handled by
    the checkpoint.

    The enrichment plan (`enrich_stream`) is built once, here, at query
    start; the per-batch callback does only the good/dead split of its
    output. ``processed_at`` freezes the clock; None stamps rows with the
    micro-batch timestamp (stable across the batch's actions and retries).

    ``metrics`` (a PipelineMetricsListener) mirrors the reference's in-loop
    counter increments (pipeline.go's MessagesProduced / TransformErrors),
    both taken from one aggregate after every write has succeeded.
    Each micro-batch is persisted for its several actions (sinks and
    counts), bounded by the micro-batch size — the standard multi-action
    foreachBatch pattern.

    Per-batch fixed cost (docs/LIMITS.md): the sink actions run with AQE
    off on the stream's own cloned session (``batch_df.sparkSession``) —
    the batches are small and bounded, and the caller's session keeps
    AQE — and the checkpoint logs are written through the FileSystem-based
    checkpoint manager that `session.get_spark` pins.
    """

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # The batch's session is the stream's own clone, not the caller's:
        # with AQE on it, each small bounded sink action split into extra
        # jobs and stages (docs/LIMITS.md). The caller's session keeps AQE.
        batch_df.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
        # The batch is a scan of the query plan's computed rows, so every
        # action on it would re-run the enrichment: persist it once for the
        # sink, dead-letter and counter actions. Persist in try/finally: a
        # sink failure must not leak the cached micro-batch across the retry
        # (Spark re-runs the epoch). Counter increments are deferred to
        # after ALL sink writes (see below).
        batch_df = batch_df.persist()
        good = batch_df.filter("_valid").drop(*SPLIT_COLS)
        dead = _dead_letters(batch_df)
        try:
            if sink is not None:
                sink(good, epoch_id)
            elif kafka_brokers and output_topic:
                from storm_data_etl_spark.sources.kafka import write_kafka_batch

                write_kafka_batch(
                    serialize_events(good), kafka_brokers, output_topic
                )
            if dead_letter_sink is not None:
                dead_letter_sink(dead, epoch_id)
            if dead_letter_path:
                (
                    dead.select(
                        F.col("timestamp"),
                        F.col("topic"),
                        F.col("partition"),
                        F.col("offset"),
                        F.col("value").cast("string").alias("raw_value"),
                    )
                    .write.mode("append")
                    .json(dead_letter_path)
                )
            # Counters increment only after EVERY write in the epoch has
            # succeeded (main sink AND dead-letter): a failure in any sink
            # retries the whole epoch, so counting earlier — even after the
            # main write — would double-count on a dead-letter failure.
            # Mirrors the reference's count-after-produce loop
            # (pipeline.go increments MessagesProduced only once the Kafka
            # produce returns). One global aggregate gives both counts in
            # one action, 0 for a side with no rows.
            if metrics is not None:
                produced, errors = batch_df.selectExpr(
                    "count_if(_valid)", "count_if(NOT _valid)"
                ).first()
                metrics.record_produced(produced)
                metrics.record_transform_errors(errors)
        finally:
            batch_df.unpersist()

    enriched = enrich_stream(envelope_stream, processed_at=processed_at)
    return (
        enriched.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger_interval)
        .start()
    )


class ReadinessListener(StreamingQueryListener):
    """ST6: ready after the first progress event with input rows — the
    listener analog of the reference's atomic readiness flag feeding its
    HTTP 503→200 flip (pipeline.go:55-60, httpadapter/server.go:34-36)."""

    def __init__(self) -> None:
        self.ready = False
        self.total_input_rows = 0
        self.batches = 0

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        rows = event.progress.numInputRows
        self.total_input_rows += rows
        self.batches += 1
        if rows > 0:
            self.ready = True

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass
