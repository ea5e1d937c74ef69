"""Command-line entry points mirroring the reference's three executables
(`cmd/etl`, `cmd/genmock`, `cmd/validate` — /root/reference/cmd/*/main.go),
so a user of the reference can run the same workflows against this engine:

    python -m storm_data_etl_spark genmock --hail h.csv --tornado t.csv \
        --wind w.csv --etl-out etl.json --api-out api.json
    python -m storm_data_etl_spark validate --raw etl.json --api api.json
    python -m storm_data_etl_spark etl --source-json envelopes/ \
        --checkpoint /tmp/ckpt --out enriched/
    python -m storm_data_etl_spark etl --brokers host:9092 \
        --source-topic storm.raw --sink-topic storm.enriched \
        --checkpoint /tmp/ckpt

Configuration falls back to the reference's environment variables
(internal/config/config.go): KAFKA_BROKERS, KAFKA_SOURCE_TOPIC,
KAFKA_SINK_TOPIC, BATCH_SIZE, BATCH_FLUSH_INTERVAL.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F


def _spark(app: str):
    from storm_data_etl_spark.session import get_spark

    return get_spark(app)


def cmd_genmock(args: argparse.Namespace) -> int:
    from storm_data_etl_spark.plans.genmock import generate_fixtures, print_stats

    spark = _spark("genmock")
    csvs = {}
    for et in ("hail", "tornado", "wind"):
        path = getattr(args, et)
        if path:
            csvs[et] = path
    if not csvs:
        print("genmock: need at least one of --hail/--tornado/--wind", file=sys.stderr)
        return 2
    _, enriched = generate_fixtures(
        spark,
        csvs,
        etl_out=args.etl_out,
        api_out=args.api_out,
        base_date=args.base_date,
        processed_at=args.processed_at,
    )
    print_stats(enriched)
    return 0


def cmd_validate(args: argparse.Namespace) -> int:
    from storm_data_etl_spark.functions.enrich import enrich_raw
    from storm_data_etl_spark.plans import validate as V
    from storm_data_etl_spark.schema import EVENT_SCHEMA
    from storm_data_etl_spark.sources.jsonio import read_json_array, read_raw_fixture

    spark = _spark("validate")
    raw = read_raw_fixture(spark, args.raw).withColumn(
        "_pos", F.monotonically_increasing_id()
    )
    api = read_json_array(spark, args.api, EVENT_SCHEMA)

    checks: list[V.CheckResult] = []
    if args.collector:
        collector = read_raw_fixture(spark, args.collector)
        checks += V.phase1_source_parity(
            raw.drop("_pos"), collector, order_cols=list(raw.drop("_pos").columns)
        )
    # `_pos` passes through enrich_raw, so the first-wins dedup below keeps
    # the earliest raw record per id.
    expected = enrich_raw(
        raw.withColumn("_base_ts", F.lit(args.base_date).cast("timestamp")),
        processed_at=args.processed_at,
    )
    checks += V.phase2_etl_integrity(raw, raw)
    checks += V.phase3_api_transformation(expected, api, "_pos")
    checks += V.phase4_schema_alignment(V._flatten(api))

    results = V.run_all(checks)
    width = max(len(k) for k in results)
    failed = [k for k, ok in results.items() if not ok]
    for name, ok in results.items():
        print(f"{name:<{width}}  {'PASS' if ok else 'FAIL'}")
    print(f"\n{'ALL CHECKS PASSED' if not failed else f'{len(failed)} FAILED: {failed}'}")
    return 0 if not failed else 1


def _parse_http_addr(env_addr: str) -> tuple[str, int]:
    """Parse a Go net.Listen-style HTTP_ADDR into (host, port).

    Go semantics (the reference hands HTTP_ADDR straight to
    http.Server.Addr, cmd/etl/main.go:35): an empty host (":8080") binds
    all interfaces; a named host binds ONLY that interface —
    HTTP_ADDR=127.0.0.1:8080 is a loopback-only listener and must not
    expose /metrics on 0.0.0.0. Accepted forms: ":8080", "host:8080",
    "[::1]:8080". A port-less or bare-IPv6 address has no usable port —
    rejected loudly rather than crashing with int('localhost') or
    silently binding port 1 from '::1'."""
    host, sep, port_s = env_addr.rpartition(":")
    if not sep or not port_s.isdigit() or (":" in host and not host.startswith("[")):
        raise SystemExit(
            f"HTTP_ADDR={env_addr!r}: expected a listen address with "
            "an explicit port (':8080', 'host:8080', '[::1]:8080')"
        )
    return (host.strip("[]") or "0.0.0.0", int(port_s))


def cmd_etl(args: argparse.Namespace) -> int:
    from storm_data_etl_spark.sources.kafka import read_kafka_stream
    from storm_data_etl_spark.streaming.pipeline import ReadinessListener, run_pipeline

    spark = _spark("etl")
    if args.brokers:
        envelope = read_kafka_stream(
            spark,
            args.brokers,
            args.source_topic,
            max_offsets_per_trigger=args.batch_size,
        )
    elif args.source_json:
        # File-source envelopes carry `value` as a JSON string (JSON files
        # cannot hold raw binary); the pipeline's parse casts to string
        # first, so the two envelope forms behave identically.
        file_schema = (
            "key string, value string, "
            "headers array<struct<key:string,value:string>>, "
            "topic string, partition int, offset long, timestamp timestamp"
        )
        envelope = (
            spark.readStream.schema(file_schema)
            .option("maxFilesPerTrigger", 1)
            .json(args.source_json)
        )
    else:
        print("etl: need --brokers or --source-json", file=sys.stderr)
        return 2

    sink = None
    if args.out:
        out_dir = args.out

        def sink(batch_df, epoch_id):  # noqa: F811
            batch_df.write.mode("append").parquet(out_dir)

    # Observability: /healthz /readyz /metrics, the reference's HTTP_ADDR
    # surface (cmd/etl/main.go:35, config.go HTTP_ADDR default :8080).
    # --http-port 0 picks an ephemeral port; --http-port -1 disables.
    srv = None
    metrics = None
    http_port = args.http_port
    http_host = "0.0.0.0"
    if http_port is None:
        env_addr = os.environ.get("HTTP_ADDR")
        if env_addr:
            http_host, http_port = _parse_http_addr(env_addr)
    if http_port is not None and http_port >= 0:
        from storm_data_etl_spark.streaming.http_observability import (
            ObservabilityServer,
        )
        from storm_data_etl_spark.streaming.metrics import PipelineMetricsListener

        ready = ReadinessListener()
        metrics = PipelineMetricsListener()
        spark.streams.addListener(ready)
        spark.streams.addListener(metrics)
        srv = ObservabilityServer(
            lambda: ready.ready, metrics=metrics, host=http_host, port=http_port
        ).start()
        print(
            f"observability: http://{http_host}:{srv.port} "
            "(/healthz /readyz /metrics)"
        )

    query = run_pipeline(
        spark,
        envelope,
        checkpoint_dir=args.checkpoint,
        sink=sink,
        kafka_brokers=args.brokers,
        output_topic=args.sink_topic,
        trigger_interval=args.flush_interval,
        dead_letter_path=args.dead_letter,
        metrics=metrics,
    )
    try:
        query.awaitTermination(args.timeout if args.timeout > 0 else None)
    finally:
        if query.isActive:
            query.stop()
        if srv is not None:
            srv.shutdown()
    return 0


def cmd_list(args: argparse.Namespace) -> int:
    """Catalog listing: every registered analytics query with its check
    mode and first docstring line — the discoverability surface for a user
    switching from the reference."""
    import __spark_entry__ as entrymod
    from storm_data_etl_spark.plans.queries import REGISTRY

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    for name in qs:
        kind = "oracle" if name in oracles else "rows-only"
        doc = (REGISTRY[name].doc or "").strip().splitlines()
        first = doc[0] if doc else ""
        print(f"{name:34s} [{kind:9s}] {first}")
    print(f"\n{len(qs)} queries ({len(oracles)} oracle-backed)")
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    """Print a query's physical plan (formatted) — the plan-inspection
    surface behind tools/explain_check.py, exposed for users."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if args.query not in qs:
        print(f"explain: unknown query '{args.query}' (see `list`)", file=sys.stderr)
        return 2
    spark = _spark("explain")
    df = qs[args.query](spark, args.sf_dir)
    df.explain(mode=args.mode)
    return 0


def build_parser() -> argparse.ArgumentParser:
    env = os.environ
    p = argparse.ArgumentParser(prog="storm_data_etl_spark")
    sub = p.add_subparsers(dest="command", required=True)

    g = sub.add_parser("genmock", help="CSV fixtures + stats report (cmd/genmock)")
    g.add_argument("--hail")
    g.add_argument("--tornado")
    g.add_argument("--wind")
    g.add_argument("--etl-out", required=True)
    g.add_argument("--api-out", required=True)
    g.add_argument("--base-date", default="2024-04-26 00:00:00")
    g.add_argument("--processed-at", default="2024-04-27 06:00:00")
    g.set_defaults(fn=cmd_genmock)

    v = sub.add_parser("validate", help="4-phase cross-dataset checks (cmd/validate)")
    v.add_argument("--raw", required=True, help="raw ETL fixture (JSON array)")
    v.add_argument("--api", required=True, help="enriched API fixture (JSON array)")
    v.add_argument("--collector", help="optional collector CSV-JSON for phase 1")
    v.add_argument("--base-date", default="2024-04-26 00:00:00")
    v.add_argument("--processed-at", default="2024-04-27 06:00:00")
    v.set_defaults(fn=cmd_validate)

    e = sub.add_parser("etl", help="streaming enrichment pipeline (cmd/etl)")
    e.add_argument("--brokers", default=env.get("KAFKA_BROKERS"))
    e.add_argument("--source-topic", default=env.get("KAFKA_SOURCE_TOPIC", "storm.raw"))
    e.add_argument(
        "--sink-topic", default=env.get("KAFKA_SINK_TOPIC", "storm.enriched")
    )
    e.add_argument("--source-json", help="file-source mode: envelope JSON dir")
    e.add_argument("--out", help="file-sink mode: output parquet dir")
    e.add_argument("--checkpoint", required=True)
    e.add_argument("--dead-letter")
    e.add_argument("--batch-size", type=int, default=int(env.get("BATCH_SIZE", "50")))
    e.add_argument(
        "--flush-interval",
        default=env.get("BATCH_FLUSH_INTERVAL", "500 milliseconds"),
    )
    e.add_argument("--timeout", type=int, default=0, help="seconds; 0 = run forever")
    e.add_argument(
        "--http-port",
        type=int,
        default=None,
        help="observability port (/healthz /readyz /metrics); 0 = ephemeral,"
        " -1 = disabled; defaults to $HTTP_ADDR's port if set, else off",
    )
    e.set_defaults(fn=cmd_etl)

    l = sub.add_parser("list", help="list the analytics query catalog")
    l.set_defaults(fn=cmd_list)

    x = sub.add_parser("explain", help="print a query's physical plan")
    x.add_argument("query")
    x.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    x.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "codegen", "cost", "formatted"],
    )
    x.set_defaults(fn=cmd_explain)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
