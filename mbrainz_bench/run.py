"""Run one benchmark workload and print its metrics.

    python3 mbrainz_bench/run.py --workload import|serve --seed N \
        --seconds S --trace 0|1

Run from the repository root. The workload generates its own input from
the seed, runs on one Spark driver with two cores, checks every
answer, and prints, as the last line of standard output, one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones from
a run whose calls into each module are wrapped in spans. The line before
it is the run's full record (every metric under its use-specific name with
unit and sample count, the effective Spark confs and core count, the
failed checks). Records and span files are also kept under
`.mbrainz_bench_work/results/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".mbrainz_bench_work")
# Two of at most four cores: on these inputs every extra task is launch
# overhead, and an interleaved A/B on a shared 4-core box measured two
# cores at least as fast as four, with less spread.
MAX_CORES = 2
DRIVER_MEM = "2g"


def pin_environment(work: str, cores: int) -> dict:
    """Fix every input that silently changes the engine's session. Spark's
    Python workers import the engine, so the repository root goes on
    PYTHONPATH. `session._initial_partition_floor` sizes AQE's initial
    partition count from TPC-H parquet under SPARK_GRAFT_SF_DIR, which has
    nothing to do with these workloads: point it at an empty directory and
    pin the partition counts to the core count."""
    empty = os.path.join(work, "no-sf-dir")
    tmp = os.path.join(work, "tmp")
    for d in (empty, tmp):
        os.makedirs(d, exist_ok=True)
    pins = {
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_MASTER": f"local[{cores}]",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cores),
        "SPARK_GRAFT_INITIAL_PARTITIONS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SF_DIR": empty,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    }
    os.environ.update(pins)
    return pins


def start_session(work: str, cores: int):
    """The engine's own session, plus: job and stage retention for the
    tracer, directories inside the work dir, and the JVM told how many
    processors it has, so its GC and compiler thread counts follow the
    benchmark's core count rather than the host's."""
    from mbrainz_importer_spark.session import get_spark

    spark = get_spark("mbrainz_bench", extra_conf={
        # keep every job and stage so per-span deltas never undercount
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "400000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-XX:ActiveProcessorCount={cores}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def effective_confs(spark) -> dict:
    confs = dict(spark.sparkContext.getConf().getAll())
    for k in ("spark.sql.shuffle.partitions",
              "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
              "spark.sql.adaptive.enabled",
              "spark.sql.autoBroadcastJoinThreshold"):
        confs[k] = spark.conf.get(k)
    return dict(sorted(confs.items()))


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python worker
    daemon it started) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=60)


def _report(record: dict) -> None:
    print(f"# {record['workload']} seed={record['seed']} trace={record['trace']} "
          f"cores={record['cores']} attempted={record['attempted']} "
          f"failed={record['failed']}", file=sys.stderr)
    for name, m in record["metrics"].items():
        print(f"  {name:28s} {m['value']:14.6g} {m['unit']:10s} n={m['n']}",
              file=sys.stderr)
    for f in record["failures"][:20]:
        print(f"  FAILED: {f}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from mbrainz_bench import metrics
    from mbrainz_bench.clock import Clock
    from mbrainz_bench.trace import Tracer
    from mbrainz_bench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    import mbrainz_importer_spark  # noqa: F401 - fail before any work if absent

    cores = min(MAX_CORES, os.cpu_count() or 1)
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    pins = pin_environment(work, cores)

    w0, c0 = time.perf_counter(), time.process_time()
    spark = start_session(work, cores)
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    clock = Clock(jvm.pid if jvm else None)
    w1, c1 = clock.now()
    session = (w1 - w0, c1 - c0)
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        res = WORKLOADS[args.workload](spark, tracer, clock, work, args.seed, args.seconds)
        rss = _vm_hwm_mb(os.getpid()) + (_vm_hwm_mb(jvm.pid) if jvm else 0.0)
        e2e, record_metrics = metrics.end_to_end(args.workload, res, session, rss)
        confs = effective_confs(spark)
    finally:
        stop_session(spark)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "env": pins, "spark_conf": confs,
        "setup_parts": {"session": session, **res.setup_parts},
        "facts": res.facts, "attempted": res.attempted, "failed": res.failed,
        "failures": res.failures, "metrics": record_metrics,
        "samples": {k: {"wall": res.samples[k], "cpu": res.cpu[k]} for k in res.samples},
    }
    if args.trace:
        layers = metrics.per_layer(args.workload, tracer, res)
        # the traced run's own figures, beside the overhead per_layer gives
        layers["trace.read_p50_cpu_s"] = e2e["read_p50_cpu_s"]["value"]
        layers["trace.write_p50_cpu_s"] = e2e["write_p50_cpu_s"]["value"]
        out = {k: {"value": layers[k], "unit": u} for k, u in metrics.PER_LAYER.items()}
        tracer.write(os.path.join(results, f"{tag}.spans.jsonl"))
        record["per_layer"] = out
    else:
        out = e2e
        record["end_to_end"] = out
    with open(os.path.join(results, f"{tag}.json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    _report(record)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
