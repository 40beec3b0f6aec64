"""CDC ingest benchmark for maestro_spark.

Run from the repository root:

    python3 perfbench/run.py --workload tail --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

* ``tail``        small-epoch CDC tail into a 64-bucket merge-on-read table;
* ``bulk_serve``  backfill of a schema-evolving log in big epochs, then
                  reads on the delta-heavy table it leaves.

One driver process runs Spark in ``local[N]`` (N = usable cores, shuffle
partitions = N, driver heap through ``MAESTRO_DRIVER_MEM``). Every byte it
writes lives under one temporary directory inside the checkout, removed at
exit, and the Spark JVM is stopped and waited for before the result is
printed.

Output: the second-to-last stdout line is a JSON record of the run (counts
that must repeat exactly for a seed, per-operation samples, and the host
annotation: a fixed single-thread CPU probe and ``/proc/loadavg`` before and
after the run, never used to rescale a metric). The last line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics for ``--trace 0`` and the per-layer metrics for ``--trace 1``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"

PER_LAYER = {
    "session.start_s": "s", "gen.generate_s": "s", "gen.write_log_s": "s",
    "warmup_s": "s", "bench.oracle_s": "s",
    "epoch.commit_p50_s": "s", "merge.merge_batch_s": "s", "merge.self_s": "s",
    "lake.write_bucket_files_s": "s", "lake.commit_s": "s", "lake.snapshot_s": "s",
    "lake.snapshot_calls": "count", "lake.committed_epoch_keys_s": "s",
    "lake.files_written_per_epoch": "count", "lake.bytes_written_per_event": "B",
    "lake.files_per_bucket_end": "count",
    "lake.delta_buckets_s": "s", "lake.compact_tiered_s": "s", "lake.compactions": "count",
    "lake.fold_files": "count", "lake.fold_bytes": "B",
    "ledger.last_watermark_s": "s", "ledger.record_s": "s", "ledger.committed_s": "s",
    "lineage.append_lineage_s": "s",
    "lake.read_plan_s": "s", "scan.exec_s": "s", "mor_scan.register_s": "s",
    "lake.plan_lookup_s": "s", "lookup.exec_s": "s", "lookup.candidate_files": "count",
    "lookup.bucket_files": "count", "lookup.prune_ratio": "ratio",
    "lake.changes_plan_s": "s", "changes.exec_s": "s",
    "spark.jobs_per_epoch": "count", "spark.tasks_per_epoch": "count",
    "spark.executor_run_s": "s", "spark.busy_share": "ratio",
    "spark.shuffle_write_bytes_per_event": "B", "spark.spill_bytes": "B",
    "spark.task_skew": "ratio", "spark.scaling_eff_1to4": "ratio",
    "trace.spans": "count", "trace.overhead_s": "s", "trace.timed_s": "s",
}
WORKLOAD_NAMES = ("tail", "bulk_serve")
END_TO_END = {"events_per_s": "1/s", "scan_s": "s", "setup_s": "s"}


def host_probe() -> dict:
    """Fixed single-thread CPU work and the load average: how fast this host
    ran around the run. An annotation only."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"cpu_probe_s": time.perf_counter() - t0, "loadavg": load}


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(tmp: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={os.path.join(tmp, 'derby')}",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(master: str, cores: int, conf: dict[str, str]):
    from maestro_spark.session import get_spark

    spark = get_spark("perfbench", master=master, shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active SparkContext and the JVM behind it, and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except (Py4JError, ConnectionError):
            pass  # the JVM is gone already
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pinned_mismatch(workload: str, key: str, counts: dict) -> list[str]:
    """Counts pinned for this workload and "seed/seconds/trace" that differ."""
    with open(os.path.join(HERE, "pinned_counts.json")) as fh:
        pinned = json.load(fh).get(workload, {}).get(key)
    if pinned is None:
        return []
    return [f"{k}: pinned {v}, got {counts.get(k)}" for k, v in pinned.items() if counts.get(k) != v]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "maestro_spark", "__init__.py")):
        print(f"perfbench: no maestro_spark package under {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "jtmp"))
    os.environ["TMPDIR"] = os.path.join(tmp, "jtmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["MAESTRO_DRIVER_MEM"] = DRIVER_MEM
    # every JVM Spark starts keeps its temp files in the run's directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    # Spark's Python workers import maestro_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    from perfbench import tracing, workloads

    host_before = host_probe()
    cores = usable_cores()
    event_log = os.path.join(tmp, "events") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    try:
        with tracer.span("session.start"):
            spark = start_session(f"local[{cores}]", cores, session_conf(tmp, event_log))
        tracer.sc = spark.sparkContext if args.trace else None
        if args.trace:
            tracing.install(tracer)

        def restart(master: str, n: int):
            tracer.unwrap()
            tracer.enabled, tracer.sc = False, None
            spark.stop()
            return start_session(master, n, session_conf(tmp, None))

        run = workloads.Run(
            spark=spark, tmp=tmp, seed=args.seed, seconds=args.seconds, cores=cores,
            tracer=tracer, restart=restart, event_log=event_log or "",
        )
        workloads.WORKLOADS[args.workload](run)
    finally:
        try:
            tracer.unwrap()
            stop_jvm()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:
                pass  # another run still uses it
    host_after = host_probe()

    setup_s = run.timed_at - T_PROCESS
    mismatch = pinned_mismatch(
        args.workload, f"{args.seed}/{args.seconds}/{args.trace}", run.counts
    )
    for line in mismatch:
        print(f"perfbench: count differs from pinned value: {line}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": float(run.layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {**run.metrics, "setup_s": setup_s}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "counts": run.counts,
        "samples": {k: [round(x, 4) for x in v] for k, v in run.samples.items()},
        "host": {"before": host_before, "after": host_after},
        "pinned_mismatch": mismatch,
    }
    if args.trace:
        record["spans"] = run.span_summary
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and not mismatch,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
