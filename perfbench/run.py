"""Benchmark entry point for storm_data_etl_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see perfbench/workloads.py):

- ``etl_stream``: the reference's streaming ETL. A seeded backlog of
  storm-report envelope files is drained by `run_pipeline`, one file per
  micro-batch, into a checksum sink; every batch is checked against the
  batch path.
- ``registry_relational``: oracle-backed relational registry queries at
  sf0.1 on seeded TPC-H-shaped tables; every result is checked against its
  DuckDB oracle.

The session runs on local[nproc]. ``--seconds`` is the warm re-execution
budget of the run. ``--trace 0`` prints every end-to-end metric; ``--trace
1`` wraps the engine's layer functions, reads Spark's status stores after
each action and prints every per-layer metric, including ``trace.<metric>``
(the end-to-end values under tracing: tracing overhead is ``trace.X``
minus ``X`` of the untraced run at the same seed) and ``trace.overhead_ms``
(span bookkeeping inside timed regions).

Stdout ends with a provenance record and, as the last line, one JSON object
with the keys correct, attempted, failed and metrics. Everything the run
writes lives in ``.perfbench_work/`` under the repository root and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prepare_env(work_dir: str, cpus: int) -> None:
    """Point every writer (Python, the JVM, Spark's scratch and warehouse
    dirs) into the work directory, and give Python workers the import path
    of the engine package."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # spark-submit's short-lived launcher JVM: no /tmp/hsperfdata file
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work_dir, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _provenance(bench, workload: str, seed: int, seconds: float, res) -> dict:  # noqa: ANN001
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "nproc": len(os.sched_getaffinity(0)),
        "cpus": bench.cpus,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "java": bench.java_version,
        "python": sys.version.split()[0],
        **res.info,
        "samples": res.samples,
        "error_rate": res.error_rate,
        "failures": res.failures,
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "storm_data_etl_spark", "__init__.py")):
        print(f"error: no storm_data_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    _prepare_env(work_dir, cpus)
    bench = workloads.Bench(work_dir, traced=bool(args.trace), cpus=cpus)
    steal0, total0 = _cpu_ticks()
    try:
        res = workloads.run(bench, args.workload, args.seed, args.seconds)
    finally:
        bench.close()
        shutil.rmtree(work_dir, ignore_errors=True)
    steal1, total1 = _cpu_ticks()

    layers = res.info.pop("layers", None)
    record = _provenance(bench, args.workload, args.seed, args.seconds, res)
    # share of the host's CPU time taken by other tenants while this ran:
    # wall-clock metrics move with it
    record["host_steal_pct"] = round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 1)
    if args.trace:
        units = workloads.LAYER_UNITS
        values = dict(layers)
        values.update({f"trace.{k}": v for k, v in res.metrics.items()})
        values["trace.overhead_ms"] = bench.tracer.overhead_ms()
    else:
        units, values = workloads.E2E_UNITS, res.metrics
    for name, unit in units.items():
        print(f"{args.workload} {name} = {values[name]:.6g} {unit}"
              f" (n={res.samples.get(name.removeprefix('trace.'), 1)})")
    print(f"{args.workload} error_rate = {res.error_rate:.6g} ({res.failed}/{res.attempted})")
    for failure in res.failures:
        print(f"{args.workload} FAILED {failure}")
    print("record " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
