"""The benchmark's workloads and the metrics they report.

An *operation* is one micro-batch or the batch-path re-run (etl_stream),
or one registry query (registry_*). Every workload reports every
end-to-end metric:

- ``setup_s``: importing the engine and starting its session (once), plus
  the median of three repetitions of making the workload's inputs resident
  (registry: fill the table cache for every table; stream: open the file
  source). Generating the inputs is load generation and is not counted.
- ``peak_rss_mb``: peak resident memory (VmHWM) of the Spark JVM.
- ``cold_total_s``: what a one-shot caller waits for. Registry: Σ over
  queries of (runner call + first execution). Stream: the whole drain of
  the backlog, from `run_pipeline` to the last committed micro-batch.
- ``warm_total_s``: registry: Σ over queries of the median re-execution of
  the same prepared DataFrame. Stream: median re-execution of the drained
  backlog as one prepared batch-path DataFrame (`enrich_envelope`), i.e.
  the same rows without per-batch planning and commits.
- ``stream_rows_per_s``: stream: good rows the sink received in the steady
  micro-batches ÷ those batches' trigger time. Registry: rows its scans
  read (the cached-table scans' output rows, from the SQL status store) per
  second of warm execution.
- ``batch_latency_p50_ms`` / ``_p75_ms``: per operation. Stream: each
  micro-batch's triggerExecution time, warm-up batches excluded. Registry:
  each query's median warm re-execution (one sample per query, so the
  quantiles do not move with how many re-executions each query got).

Errors and wrong results are counted in ``attempted``/``failed`` (their
ratio is the error rate); a failing operation is never dropped from the
workload.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

from perfbench import datagen, spark_stats
from perfbench.trace import NullTracer, Tracer

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "cold_total_s": "s",
    "warm_total_s": "s",
    "stream_rows_per_s": "rows/s",
    "batch_latency_p50_ms": "ms",
    "batch_latency_p75_ms": "ms",
}

#: Per-layer metrics of the traced run. The sql.*_ms phases are Catalyst's
#: own trackers: analysis of each query's final DataFrame (during its runner
#: call) plus analysis, optimization and planning of the first execution's
#: write, read from that write's QueryExecution.
LAYER_UNITS = {
    "session.start_s": "s",
    "session.pins_live": "count",
    "session.storage_mb": "MB",
    "session.release_s": "s",
    "tables.fill_s": "s",
    "tables.partitions": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "sql.analysis_ms": "ms",
    "sql.optimization_ms": "ms",
    "sql.planning_ms": "ms",
    "sql.exchanges": "count",
    "sql.python_nodes": "count",
    "sql.cached_scans": "count",
    "exec.first_s": "s",
    "exec.warm_s": "s",
    "exec.cold_gap_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_time_s": "s",
    "exec.skew": "ratio",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "exec.python_eval_ms": "ms",
    "enrich.build_ms": "ms",
    "sink.write_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.rows_per_batch": "rows",
    "streaming.dead_letter_rows": "rows",
    "trace.overhead_ms": "ms",
    **{f"trace.{k}": v for k, v in E2E_UNITS.items()},
}

#: The clock every enriched row is stamped with, so the streaming sink and
#: the batch path produce byte-identical records.
PROCESSED_AT = "2024-04-27 06:00:00"

#: Micro-batch sink checksum: order-insensitive and overflow-free (each
#: row contributes its 32 low hash bits, so the sum fits a long).
_MASK32 = 0xFFFFFFFF

RESIDENT_REPS = 3
MIN_WARM_REPS = 3
MAX_WARM_REPS = 15


@dataclass
class RegistryWorkload:
    sf: float
    tables: list[str]  # filled during setup: every table the queries read
    queries: list[str]


#: The reference's analytic surface plus TPC-H-shaped joins and windows:
#: oracle-backed, codegen-only, no Python operators.
REGISTRY_WORKLOADS = {
    "registry_relational": RegistryWorkload(
        sf=0.1,
        tables=["customer", "lineitem", "orders", "events", "supplier", "nation", "region"],
        queries=[
            "group_count_composite",
            "semi_join",
            "first_per_group",
            "grouping_sets_counts",
            "asof_join",
            "join_multiway",
        ],
    ),
}

#: etl_stream backlog: files × rows per file; maxFilesPerTrigger=1 makes
#: every file one micro-batch. The first batches run while the JVM is still
#: compiling the per-batch path (measured on 4 idle cores: 4.4 s, then 0.95,
#: 0.83, 0.78 s before settling near 0.65-0.75 s), so latency percentiles
#: and throughput cover the 24 batches after STREAM_WARMUP_BATCHES (6 of
#: them lie beyond p75). More batches would not fit the run-time budget
#: when the host runs at half speed.
STREAM_WARMUP_BATCHES = 4
STREAM_FILES = STREAM_WARMUP_BATCHES + 24
STREAM_ROWS_PER_FILE = 1000

WORKLOADS = ("etl_stream", *REGISTRY_WORKLOADS)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    samples: dict[str, int] = field(default_factory=dict)
    info: dict[str, object] = field(default_factory=dict)

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {why}")

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quantile(xs: list[float], q: int) -> float:
    """q-th quartile (1..3) by statistics.quantiles' default method."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=4)[q - 1]


class _Phases:
    """Wall time of the run's phases (generate, setup, queries, ...),
    accumulated into ``res.info["phase_s"]``: each call charges the time
    since the previous call to the named phase."""

    def __init__(self, res: "Result") -> None:
        self.phases = res.info.setdefault("phase_s", {})
        self.last = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.phases[name] = round(self.phases.get(name, 0.0) + now - self.last, 3)
        self.last = now


def _error_line(exc: BaseException) -> str:
    text = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {text[0][:200] if text else ''}"


class Bench:
    """One benchmark process: its work directory, tracer and session."""

    def __init__(self, work_dir: str, traced: bool, cpus: int) -> None:
        self.work_dir = work_dir
        self.tracer = Tracer() if traced else NullTracer()
        self.cpus = cpus
        self.spark = None
        self.java_version = ""

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def start_session(self) -> float:
        """Import the engine and start its session; returns the seconds
        taken. Wrappers go in after the imports (so every module that
        binds a wrapped name is loaded) and before get_spark."""
        t0 = time.perf_counter()
        from storm_data_etl_spark import session
        from storm_data_etl_spark.plans import (  # noqa: F401  (populate REGISTRY)
            corpus_queries, enrich_queries, geo_queries, lake_queries, ml_queries,
            queries, retrieval_queries, sft_queries, window_queries,
        )
        from storm_data_etl_spark.streaming import pipeline  # noqa: F401

        self.tracer.install()
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = session.get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            extra_conf={
                # keep every JVM-side temp file inside the work directory
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.local.dir": self.path("spark-local"),
            },
        )
        elapsed = time.perf_counter() - t0
        self.java_version = self.spark._jvm.System.getProperty("java.version")
        self.jvm_pid = spark_stats.jvm_pid(self.spark)
        return elapsed

    def cpu_s(self) -> float:
        """CPU seconds used so far by the Spark JVM and this process."""
        return spark_stats.process_cpu_s(self.jvm_pid) + time.process_time()

    def close(self) -> None:
        self.tracer.uninstall()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        self.spark = None


def run(bench: Bench, name: str, seed: int, seconds: float) -> Result:
    if name == "etl_stream":
        return run_stream(bench, seed, seconds)
    return run_registry(bench, name, seed, seconds)


# -------------------------------------------------------------- stream --

def _checksum_cols(serialized):  # noqa: ANN001
    """(row count, Σ low 32 bits of xxhash64(value)) over serialized
    records: one action that forces every enriched column."""
    from pyspark.sql import functions as F

    return serialized.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.xxhash64("value").bitwiseAND(F.lit(_MASK32))), F.lit(0)).alias("sum"),
    )


def _batch_path(spark, files: list[list[str]]):  # noqa: ANN001
    """The backlog's envelopes as one DataFrame in file order, through the
    batch path (`enrich_envelope`, same clock) and `serialize_events`."""
    import pandas as pd

    from storm_data_etl_spark.functions.enrich import enrich_envelope
    from storm_data_etl_spark.sources.kafka import serialize_events
    from storm_data_etl_spark.streaming.pipeline import text_stream_to_envelope

    lines = pd.DataFrame({"value": [line for f in files for line in f]})
    envelope = text_stream_to_envelope(spark.createDataFrame(lines))
    return serialize_events(enrich_envelope(envelope, processed_at=PROCESSED_AT))


def _expected_per_file(serialized, files: list[list[str]]) -> tuple[list[int], list[int], list[int]]:  # noqa: ANN001
    """Per file: good rows, dead-letter rows and checksum. The batch path is
    narrow, so the collected record hashes come back in input order."""
    from pyspark.sql import functions as F

    hashes = [
        r[0] for r in serialized.select(F.xxhash64("value").bitwiseAND(F.lit(_MASK32))).collect()
    ]
    good, dead, sums, at = [], [], [], 0
    for f in files:
        n_good = sum(not datagen.is_poison(line) for line in f)
        good.append(n_good)
        dead.append(len(f) - n_good)
        sums.append(sum(hashes[at:at + n_good]))
        at += n_good
    if at != len(hashes):
        raise AssertionError(f"batch path kept {len(hashes)} rows, generator made {at} good rows")
    return good, dead, sums


def run_stream(bench: Bench, seed: int, seconds: float) -> Result:
    """Drain a fixed backlog of envelope files through `run_pipeline`
    (maxFilesPerTrigger=1, trigger "0 seconds": a closed drain paced by the
    engine), sinking each micro-batch with one checksum action over
    `serialize_events(good)`; then check every batch against the batch path."""
    res = Result(info={"files": STREAM_FILES, "rows_per_file": STREAM_ROWS_PER_FILE})
    tr = bench.tracer
    clock = _Phases(res)
    files = datagen.make_backlog(seed, STREAM_FILES, STREAM_ROWS_PER_FILE)
    src = bench.path("backlog")
    datagen.write_backlog(files, src)
    clock("generate")

    session_s = bench.start_session()
    spark = bench.spark
    from storm_data_etl_spark.sources.kafka import serialize_events
    from storm_data_etl_spark.streaming.pipeline import run_pipeline, text_stream_to_envelope

    opened = []
    for _ in range(RESIDENT_REPS):
        t0 = time.perf_counter()
        envelope = text_stream_to_envelope(
            spark.readStream.option("maxFilesPerTrigger", 1).format("text").load(src)
        )
        opened.append(time.perf_counter() - t0)
    res.metrics["setup_s"] = session_s + _median(opened)
    res.samples["setup_s"] = len(opened)
    clock("setup")

    delivered: dict[int, tuple[int, int]] = {}
    dead: dict[int, int] = {}
    # span index at the end of each micro-batch (the dead-letter sink runs
    # last in a batch), to split the spans per batch
    batch_ends = [0]

    def sink(good_df, epoch: int) -> None:  # noqa: ANN001
        with tr.span("sink.write"):
            row = _checksum_cols(serialize_events(good_df)).first()
        delivered[epoch] = (row["rows"], row["sum"])

    def dead_letter_sink(dead_df, epoch: int) -> None:  # noqa: ANN001
        with tr.span("sink.write"):
            dead[epoch] = dead_df.count()
        batch_cpu.append(bench.cpu_s())
        if tr.enabled:
            batch_ends.append(len(tr.spans))

    if tr.enabled:
        stage0, job0 = spark_stats.last_stage_id(spark), spark_stats.last_job_id(spark)
    batch_cpu = [bench.cpu_s()]
    t0 = time.perf_counter()
    query = run_pipeline(
        spark, envelope, bench.path("checkpoint"), sink=sink,
        dead_letter_sink=dead_letter_sink, trigger_interval="0 seconds",
        processed_at=PROCESSED_AT,
    )
    stream_error = ""
    try:
        query.processAllAvailable()
    except Exception as exc:  # noqa: BLE001 — a failed micro-batch is a result, not a crash
        stream_error = _error_line(exc)
    finally:
        drain_s = time.perf_counter() - t0
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        query.stop()
    clock("drain")
    if tr.enabled:
        exec_stats = spark_stats.stages_after(spark, stage0)
        exec_stats["jobs"] = spark_stats.last_job_id(spark) - job0

    # Correctness, outside the timed region: batch i read file i.
    serialized = _batch_path(spark, files)
    exp_good, exp_dead, exp_sum = _expected_per_file(serialized, files)
    # A batch the stream never delivered (it stopped on an error) fails here.
    for i in range(STREAM_FILES):
        res.attempted += 1
        got = (delivered.get(i), dead.get(i))
        want = ((exp_good[i], exp_sum[i]), exp_dead[i])
        if got != want:
            stopped = f" (stream stopped: {stream_error})" if stream_error and i not in dead else ""
            res.fail(f"batch {i}", f"(good, checksum), dead = {got}, want {want}{stopped}")
    clock("checks")

    # warm: the same envelopes as one prepared batch-path DataFrame
    prepared = _checksum_cols(serialized)
    warm = []
    while len(warm) < MIN_WARM_REPS or (sum(warm) < seconds and len(warm) < MAX_WARM_REPS):
        t1 = time.perf_counter()
        row = prepared.first()
        warm.append(time.perf_counter() - t1)
    res.attempted += 1
    if (row["rows"], row["sum"]) != (sum(exp_good), sum(exp_sum)):
        res.fail("batch path", f"re-execution gave {tuple(row)}")
    clock("warm")

    steady = progress[STREAM_WARMUP_BATCHES:]
    lat = [float(p.durationMs["triggerExecution"]) for p in steady]
    steady_rows = sum(delivered.get(p.batchId, (0, 0))[0] for p in steady)
    m = res.metrics
    m["cold_total_s"] = drain_s
    m["warm_total_s"] = _median(warm)
    m["stream_rows_per_s"] = steady_rows / (sum(lat) / 1000.0) if lat else 0.0
    m["batch_latency_p50_ms"] = _quantile(lat, 2)
    m["batch_latency_p75_ms"] = _quantile(lat, 3)
    m["peak_rss_mb"] = spark_stats.peak_rss_mb(spark_stats.jvm_pid(spark))
    res.info["cpu_s"] = {"drain": round(batch_cpu[-1] - batch_cpu[0], 3),
                         "batches": [round(b - a, 3) for a, b in zip(batch_cpu, batch_cpu[1:])]}
    res.samples.update(
        cold_total_s=1, warm_total_s=len(warm), stream_rows_per_s=len(lat),
        batch_latency_p50_ms=len(lat), batch_latency_p75_ms=len(lat), peak_rss_mb=1,
    )
    res.info["batches"] = len(progress)
    res.info["trigger_ms"] = [p.durationMs["triggerExecution"] for p in progress]
    if tr.enabled:
        # per-batch figures are medians over the steady batches, like the
        # latency percentiles
        def dur(key: str) -> float:
            return _median([float(p.durationMs.get(key, 0)) for p in steady])

        def per_batch_ms(span: str) -> float:
            return _median([
                tr.total_s(span, batch_ends[b], batch_ends[b + 1]) * 1000.0
                for b in range(STREAM_WARMUP_BATCHES, len(batch_ends) - 1)
            ])

        layers = _zero_layers()
        layers.update({f"exec.{k}": v for k, v in exec_stats.items()})
        layers.pop("exec.skew_ms", None)
        layers.update({
            "session.start_s": session_s,
            "exec.skew": spark_stats.skew_ratio(exec_stats),
            "enrich.build_ms": per_batch_ms("enrich.build"),
            "sink.write_ms": per_batch_ms("sink.write"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.get_batch_ms": dur("getBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.rows_per_batch": _median(
                [float(delivered[i][0] + dead[i]) for i in delivered
                 if i in dead and i >= STREAM_WARMUP_BATCHES]
            ),
            "streaming.dead_letter_rows": float(sum(dead.values())),
        })
        res.info["layers"] = layers
    return res


# ------------------------------------------------------------ registry --

def run_registry(bench: Bench, name: str, seed: int, seconds: float,
                 workload: RegistryWorkload | None = None) -> Result:
    """Fill the table cache, then per query (in seed-permuted order): the
    runner call and first execution (cold), warm re-executions of the same
    DataFrame, and the oracle check (untimed), then release its pins."""
    wl = workload or REGISTRY_WORKLOADS[name]
    res = Result(info={"sf": wl.sf, "queries": len(wl.queries)})
    tr = bench.tracer
    data_dir = bench.path("data")
    clock = _Phases(res)
    datagen.write_tables(seed, wl.sf, wl.tables, data_dir)
    clock("generate")

    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    session_s = bench.start_session()
    spark = bench.spark
    from storm_data_etl_spark import session
    from storm_data_etl_spark.plans import tables
    from storm_data_etl_spark.plans.queries import REGISTRY

    from perfbench.oracle import Oracle, mismatch

    fills = []
    for _ in range(RESIDENT_REPS):
        for df in tables._CACHE.values():
            df.unpersist(blocking=True)
        tables._CACHE.clear()
        t0 = time.perf_counter()
        for tname in wl.tables:
            tables.t(spark, data_dir, tname).count()
        fills.append(time.perf_counter() - t0)
    res.metrics["setup_s"] = session_s + _median(fills)
    res.samples["setup_s"] = len(fills)
    clock("setup")
    filled = set(tables._CACHE)
    base_storage = spark_stats.storage_mb(spark) if tr.enabled else 0.0

    oracle = Oracle(data_dir, wl.tables)
    phases = spark_stats.CommandPhases(spark) if tr.enabled else None
    order = list(wl.queries)
    random.Random(seed).shuffle(order)
    warm_budget = seconds / max(1, len(order))

    cold, warm_med = [], []
    cold_cpu, warm_cpu = [], []
    per_query = res.info.setdefault("per_query", {})
    scan_rows = 0
    lay: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        lay[key] = lay.get(key, 0.0) + value

    for qname in order:
        res.attempted += 1
        qd = REGISTRY.get(qname)
        try:
            if qd is None or qd.oracle is None:
                raise LookupError("not an oracle-backed registry query")
            job0 = spark_stats.last_job_id(spark) if tr.enabled else 0
            c0 = bench.cpu_s()
            with tr.span("plans.build"):
                t0 = time.perf_counter()
                df = qd.runner(spark, data_dir)
                build_s = time.perf_counter() - t0
            if tr.enabled:
                # between the build and the first execution, off both clocks
                add("plans.build_jobs", spark_stats.last_job_id(spark) - job0)
                add("sql.analysis_ms", spark_stats.analysis_ms(df))
                phases.arm()
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            first_s = time.perf_counter() - t1
            cold_cpu.append(bench.cpu_s() - c0)
            cold.append(build_s + first_s)
            if tr.enabled:
                # Catalyst phases of the write that just ran: it re-analyzes
                # (cheaply), optimizes and plans the query
                for phase, ms in phases.wait().items():
                    add(f"sql.{phase}_ms", ms)
                add("plans.build_s", build_s)
                add("exec.first_s", first_s)
                add("session.pins_live", len(session._PINNED))
                add("session.storage_mb", spark_stats.storage_mb(spark) - base_storage)
                shape = spark_stats.plan_shape(df)
                for k, v in shape.items():
                    add(f"sql.{k}", v)
                job0 = spark_stats.last_job_id(spark)
                stage0 = spark_stats.last_stage_id(spark)
            exec0 = spark_stats.execution_count(spark)
            times: list[float] = []
            cpus: list[float] = []
            while len(times) < MIN_WARM_REPS or (
                sum(times) < warm_budget and len(times) < MAX_WARM_REPS
            ):
                c0 = bench.cpu_s()
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
                cpus.append(bench.cpu_s() - c0)
            warm_cpu.append(_median(cpus))
            warm_med.append(_median(times))
            per_query[qname] = {"build_s": round(build_s, 4), "first_s": round(first_s, 4),
                                "warm_s": [round(x, 4) for x in times]}
            scan_rows += spark_stats.scan_rows(spark, exec0)
            if tr.enabled:
                # per-execution averages over the warm reps
                for k, v in spark_stats.stages_after(spark, stage0).items():
                    add(f"exec.{k}", v / len(times))
                add("exec.jobs", (spark_stats.last_job_id(spark) - job0) / len(times))
                if shape["python_nodes"]:
                    add("exec.python_eval_ms",
                        spark_stats.python_eval_ms_after(spark, exec0) / len(times))

            clock("queries")
            why = mismatch(df.toPandas(), oracle.query(qd.oracle))
            clock("checks")
            if why:
                raise AssertionError(f"oracle mismatch ({why})")
        except Exception as exc:  # noqa: BLE001 — a failing query is a result, not a crash
            res.fail(qname, _error_line(exc))
        finally:
            session.release_pinned()
    oracle.close()
    if phases is not None:
        phases.close()
    clock("queries")
    # a table first loaded inside a query would have put its fill into
    # that query's cold time
    res.info["late_tables"] = sorted(name for _, name in set(tables._CACHE) - filled)

    m = res.metrics
    m["cold_total_s"] = sum(cold)
    m["warm_total_s"] = sum(warm_med)
    m["stream_rows_per_s"] = scan_rows / m["warm_total_s"] if m["warm_total_s"] else 0.0
    m["batch_latency_p50_ms"] = _quantile(warm_med, 2) * 1000.0
    m["batch_latency_p75_ms"] = _quantile(warm_med, 3) * 1000.0
    m["peak_rss_mb"] = spark_stats.peak_rss_mb(spark_stats.jvm_pid(spark))
    # CPU seconds (JVM + this process) of the timed regions, beside their wall
    # times: on a shared host the wall time also moves with other tenants
    res.info["cpu_s"] = {"cold_total": round(sum(cold_cpu), 3), "warm_total": round(sum(warm_cpu), 3)}
    res.samples.update(
        cold_total_s=len(cold), warm_total_s=len(warm_med), stream_rows_per_s=len(warm_med),
        batch_latency_p50_ms=len(warm_med), batch_latency_p75_ms=len(warm_med), peak_rss_mb=1,
    )
    if tr.enabled:
        layers = _zero_layers()
        layers.update(lay)
        layers.update({
            "session.start_s": session_s,
            "session.release_s": tr.total_s("session.release"),
            "tables.fill_s": _median(fills),
            "tables.partitions": sum(
                df.rdd.getNumPartitions() for key, df in tables._CACHE.items() if key in filled
            ),
            "exec.warm_s": m["warm_total_s"],
            "exec.cold_gap_s": lay.get("exec.first_s", 0.0) - m["warm_total_s"],
            "exec.skew": spark_stats.skew_ratio(
                {"skew_ms": lay.get("exec.skew_ms", 0.0),
                 "task_time_s": lay.get("exec.task_time_s", 0.0)}
            ),
        })
        layers.pop("exec.skew_ms", None)
        res.info["layers"] = layers
    return res


def _zero_layers() -> dict[str, float]:
    return {k: 0.0 for k in LAYER_UNITS if not k.startswith("trace.")}
