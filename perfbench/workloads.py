"""The benchmark workloads, driven through maestro_spark's public API.

Both workloads run the same steps as a closed loop with one client (each
epoch or read starts when the previous one returns):

1. warm-up: the log's first epochs into a table of their own, then one
   merge-on-read scan, so JIT/codegen and the Spark Python workers are warm
   before anything is timed;
2. write: ``replay()`` applies the seeded log epoch by epoch into a fresh
   64-bucket merge-on-read table under default settings; every epoch is
   timed, triggered folds included;
3. serve: timed full resolved scans (``LakeTable.read()``), then
   zipf-sampled point ``lookup()``s and one ``changes()`` feed.

They differ in the shape of the log (see :func:`shape_of`): ``tail`` is
eight ~5k-event epochs, one fold cycle, read right after its fold;
``bulk_serve`` is four 50k-event epochs of a schema-evolving log, read with
four files in every bucket.

All sizes are constants, so every count repeats exactly for a given seed:
a slower run is slower, never a different program. Every read is checked
against the pure-Python oracle ``gen.expected_final_state``; a check that
does not match counts as a failed operation, and so does an epoch that
does not commit.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from maestro_spark import gen, replay
from maestro_spark.lake import LakeTable
from perfbench.tracing import Tracer, spark_metrics

N_BUCKETS = 64            # LakeTable.create default
EVENTS_PER_CONV = 20      # a little under the generator's ~21.8 mean
LOOKUPS = 3               # checked point lookups per run (zipf-sampled)


@dataclass(frozen=True)
class Shape:
    """One run's measured table: every epoch is timed, in log order, then
    the timed full scans read the final table."""

    sizes: tuple[int, ...]  # events per epoch
    scans: int              # timed full resolved scans
    evolution_at: float | None
    folds: int              # triggered folds the epochs must cause


SECONDS_PER_REPEAT = 30     # --seconds / this = repeats of the timed scans
WARM = 2                    # warm-up epochs (the log's first), into another table
SMALL, BIG = 5_000, 50_000


def shape_of(workload: str, seconds: int) -> Shape:
    """Sizes for one run. With the default maestro.compact.maxDeltas of 8,
    tail's 8 epochs are one fold cycle whose last epoch triggers the fold
    of every bucket; its scans read the folded table. bulk_serve's 4 epochs
    leave 4 files per bucket, read through ``mor_scan``. ``--seconds``
    scales the timed scans by a whole number of repeats (never by the
    clock), so counts stay exact for (seed, seconds)."""
    k = max(1, round(seconds / SECONDS_PER_REPEAT))
    if workload == "tail":
        return Shape((SMALL,) * 8, 8 * k, None, 1)
    return Shape((BIG,) * 4, 3 * k, 0.5, 0)


@dataclass
class Run:
    """What one workload run reports."""

    spark: object
    tmp: str
    seed: int
    seconds: int
    cores: int
    tracer: Tracer
    restart: object  # (master, cores) -> a new SparkSession
    event_log: str = ""  # Spark event-log directory of a traced run
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    timed_at: float = 0.0  # perf_counter() when the timed part began
    span_summary: dict = field(default_factory=dict)

    def check(self, ok: bool) -> bool:
        """Count one operation, failed unless ``ok``."""
        self.attempted += 1
        self.failed += not ok
        return ok


# ------------------------------------------------------------------ helpers
def make_log(seed: int, n_events: int, evolution_at: float | None = None) -> gen.EventLog:
    """The first ``n_events`` arrivals of a seeded log (exact length)."""
    cfg = gen.GenConfig(
        seed=seed,
        n_convs=-(-n_events // EVENTS_PER_CONV),
        evolution_at=evolution_at,
    )
    log = gen.generate(cfg)
    if len(log) < n_events:
        raise RuntimeError(f"generated {len(log)} events, need {n_events}")
    return slice_log(log, 0, n_events)


DIGEST_SQL = (
    "count(1) AS n",
    "bit_xor(xxhash64(conv_id, cast(turn_idx AS int), text)) AS x",
    "sum(xxhash64(conv_id, cast(turn_idx AS int), text) & 4294967295) AS s",
)


def digest(df) -> tuple:
    """Order-free digest of a live table: row count plus two hashes of every
    (conv_id, turn_idx, text) triple. One Spark job that reads every row."""
    return tuple(df.selectExpr(*DIGEST_SQL).head())


def oracle_digest(run: Run, expected) -> tuple:
    """:func:`digest` of the oracle's rows, handed to Spark as a parquet file."""
    with run.tracer.span("bench.oracle"):
        path = os.path.join(run.tmp, "oracle.parquet")
        pq.write_table(
            pa.Table.from_pandas(expected[["conv_id", "turn_idx", "text"]], preserve_index=False),
            path,
        )
        return digest(run.spark.read.parquet(path))


def oracle_state(run: Run, log: gen.EventLog):
    with run.tracer.span("bench.oracle"):
        return gen.expected_final_state(log)


def zipf_convs(run: Run, n_convs: int, k: int) -> list[str]:
    """``k`` conversation ids drawn with the generator's zipf skew."""
    rng = np.random.default_rng(run.seed + 1_000_003)
    w = 1.0 / np.power(np.arange(1, n_convs + 1, dtype=np.float64), 1.2)
    picks = rng.choice(n_convs, size=k, p=w / w.sum())
    return [f"conv_{int(c):06d}" for c in picks]


def rows_by_conv(expected) -> dict[str, list]:
    out: dict[str, list] = {}
    for c, t, x in zip(expected["conv_id"], expected["turn_idx"], expected["text"]):
        out.setdefault(c, []).append((int(t), x))
    return {c: sorted(v) for c, v in out.items()}


def changed_keys(log: gen.EventLog, lo: int, hi: int) -> set:
    return set(zip(log.cols["conv_id"][lo:hi], log.cols["turn_idx"][lo:hi].tolist()))


def layout_counts(table: LakeTable) -> dict[str, int]:
    """What the table's snapshots did, from the persisted manifests: epochs
    committed, triggered folds, the data files and bytes each added over its
    parent, and the files and bytes the folds read; plus the files in the
    current snapshot."""
    out = dict.fromkeys(
        ("epochs_committed", "compactions", "data_files_written", "data_bytes_written",
         "fold_files", "fold_bytes"), 0
    )
    for sid in table.snapshot_ids():
        snap = table.snapshot(sid)
        parent = table.snapshot(snap.parent_id).files if snap.parent_id is not None else {}
        out["epochs_committed"] += bool(snap.epoch_key)
        out["compactions"] += str(snap.stats.get("maintenance", "")).startswith("compact")
        out["fold_files"] += snap.stats.get("fold_files", 0)
        out["fold_bytes"] += snap.stats.get("fold_bytes", 0)
        for b, ps in snap.files.items():
            old = set(parent.get(b, ()))
            for p in ps:
                if p not in old:
                    out["data_files_written"] += 1
                    out["data_bytes_written"] += os.path.getsize(os.path.join(table.root, p))
    out["files_at_end"] = sum(len(ps) for ps in table.snapshot().files.values())
    return out


def scaling_leg(run: Run, unit) -> None:
    """``spark.scaling_eff_1to4``: the same unit of work timed on the run's
    ``local[N]`` session, then on a fresh ``local[1]`` one after one untimed
    repeat; efficiency = T(1) / (N x T(N))."""
    t0 = time.perf_counter()
    unit(run, "n")
    t_n = time.perf_counter() - t0
    run.spark = run.restart("local[1]", 1)
    unit(run, "1-warm")
    t0 = time.perf_counter()
    unit(run, "1")
    t_1 = time.perf_counter() - t0
    run.layers["spark.scaling_eff_1to4"] = t_1 / (run.cores * t_n)


def write_side_layers(run: Run, events: int, epochs: int) -> None:
    """Write-side figures of the timed epochs, the folds they triggered
    included (every snapshot of the measured table: ``run.counts``)."""
    t = run.tracer
    for name in (
        "lake.write_bucket_files", "lake.commit", "lake.snapshot", "lake.committed_epoch_keys",
        "lake.delta_buckets", "lake.compact_tiered", "ledger.last_watermark", "ledger.record",
        "ledger.committed", "lineage.append_lineage", "merge.merge_batch",
    ):
        run.layers[f"{name}_s"] = t.total(name, "bench.timed")
    lc = run.counts
    run.layers.update(
        {
            "merge.self_s": t.self_time("merge.merge_batch", "bench.timed"),
            "lake.snapshot_calls": t.count("lake.snapshot", "bench.timed"),
            "lake.files_written_per_epoch": lc["data_files_written"] / epochs,
            "lake.bytes_written_per_event": lc["data_bytes_written"] / events,
            "lake.files_per_bucket_end": lc["files_at_end"] / N_BUCKETS,
            "lake.compactions": lc["compactions"],
            "lake.fold_files": lc["fold_files"],
            "lake.fold_bytes": lc["fold_bytes"],
        }
    )


def scan(run: Run, table: LakeTable, expected_digest: tuple) -> None:
    """One timed full resolved scan, checked; its wall time in ``samples``."""
    t = run.tracer
    t0 = time.perf_counter()
    with t.span("bench.serve"), t.span("bench.scan"):
        df = table.read()
        with t.span("scan.exec"):
            got = digest(df)
    run.samples.setdefault("scan_s", []).append(time.perf_counter() - t0)
    run.check(got == expected_digest)


def lookups_and_feed(run: Run, table: LakeTable, lookups: list[str], by_conv: dict,
                     from_snapshot: int, want_keys: set) -> None:
    """Point lookups and one change feed, each checked. Records per-operation
    wall times in ``run.samples``."""
    t = run.tracer
    for cid in lookups:
        t0 = time.perf_counter()
        with t.span("bench.serve"), t.span("bench.lookup"):
            df = table.lookup(cid)
            with t.span("lookup.exec"):
                rows = sorted((int(r["turn_idx"]), r["text"]) for r in df.collect())
        run.samples.setdefault("lookup_s", []).append(time.perf_counter() - t0)
        run.check(rows == by_conv.get(cid, []))
    t0 = time.perf_counter()
    with t.span("bench.serve"), t.span("bench.changes"):
        df = table.changes(from_snapshot)
        with t.span("changes.exec"):
            keys = {(r["conv_id"], int(r["turn_idx"])) for r in df.select("conv_id", "turn_idx").collect()}
    run.samples.setdefault("changes_s", []).append(time.perf_counter() - t0)
    run.check(keys == want_keys)


def read_side_layers(run: Run, table: LakeTable, scope: str) -> None:
    t = run.tracer
    plans = [
        (args[1], out) for idx, args, out in t.results.get("lake.plan_lookup", [])
        if t.within(idx, scope)
    ]
    cand = sum(len(c) for _, (_, c, _) in plans)
    useful = 0
    for cid, (_, c, _) in plans:
        for _, rel in c:
            hit = pq.read_table(
                os.path.join(table.root, rel), columns=["conv_id"], filters=[("conv_id", "=", cid)]
            )
            useful += hit.num_rows > 0
    n = max(1, len(plans))
    for name in ("lake.read", "scan.exec", "lake.plan_lookup",
                 "lookup.exec", "lake.changes", "changes.exec"):
        run.layers[f"{name}_s"] = t.total(name, scope)
    # the data source registers on first use (the warm-up): whole run
    run.layers["mor_scan.register_s"] = t.total("mor_scan.register")
    run.layers["lake.read_plan_s"] = run.layers.pop("lake.read_s")
    run.layers["lake.changes_plan_s"] = run.layers.pop("lake.changes_s")
    run.layers.update(
        {
            "lookup.candidate_files": cand / n,
            "lookup.bucket_files": sum(total for _, (_, _, total) in plans) / n,
            "lookup.prune_ratio": useful / max(1, cand),
        }
    )


def traced_layers(run: Run, table: LakeTable, *, events: int, epochs: int,
                  wall: float) -> None:
    """Every per-layer figure of a traced run (before its scaling leg)."""
    t = run.tracer
    for name in ("session.start", "gen.generate", "gen.write_log", "warmup", "bench.oracle"):
        run.layers[f"{name}_s"] = t.total(name)
    write_side_layers(run, events, epochs)
    read_side_layers(run, table, "bench.serve")
    run.layers.update(
        spark_metrics(t, run.event_log, epochs=epochs, events=events, wall_s=wall, cores=run.cores)
    )
    run.counts["spark_merge_jobs"] = round(run.layers["spark.jobs_per_epoch"] * epochs)
    run.layers["epoch.commit_p50_s"] = statistics.median(run.samples["commit_s"])
    per_span = t.calibrate()
    run.layers["trace.spans"] = len(t.spans)
    run.layers["trace.overhead_s"] = per_span * len(t.spans)
    run.layers["trace.timed_s"] = wall
    run.span_summary = t.summary()


def epoch_snapshot(table: LakeTable, epoch_key: str) -> int:
    return next(s for s in table.snapshot_ids() if table.snapshot(s).epoch_key == epoch_key)


def replay_unit(log_dir: str, epoch: int):
    """Scaling-leg unit: replay one epoch of the log into a fresh table."""
    def unit(run: Run, tag: str) -> None:
        t = LakeTable.create(run.spark, os.path.join(run.tmp, f"scale-{tag}"), n_buckets=N_BUCKETS)
        replay.replay(run.spark, log_dir, t, query_id="scale", start_epoch=epoch, max_epochs=1)
    return unit


# --------------------------------------------------------------- workload
def slice_log(log: gen.EventLog, lo: int, hi: int) -> gen.EventLog:
    return gen.EventLog(
        cols={k: v[lo:hi] for k, v in log.cols.items()},
        evolved=log.evolved,
        extra={k: v[lo:hi] for k, v in log.extra.items()},
    )


def write_segments(log: gen.EventLog, sizes: tuple[int, ...], log_dir: str) -> list[int]:
    """One log segment per epoch; returns each epoch's end offset."""
    os.makedirs(log_dir)
    ends = np.cumsum(sizes).tolist()
    for i, (lo, hi) in enumerate(zip([0, *ends], ends)):
        gen.write_log(slice_log(log, lo, hi), os.path.join(log_dir, f"e{i}"), segment_rows=hi - lo)
        os.rename(os.path.join(log_dir, f"e{i}", "segment-00000.parquet"),
                  os.path.join(log_dir, f"segment-{i:05d}.parquet"))
        os.rmdir(os.path.join(log_dir, f"e{i}"))
    return ends


def warm_up(run: Run, log_dir: str) -> None:
    """JIT/codegen of the merge path: the log's first ``WARM`` epochs into
    a table of their own, then a merge-on-read scan of one bucket per core,
    which starts one Spark Python worker per core for ``mor_scan``."""
    table = LakeTable.create(run.spark, os.path.join(run.tmp, "warm"), n_buckets=N_BUCKETS)
    with run.tracer.span("warmup"):
        done = replay.replay(run.spark, log_dir, table, query_id="warm", max_epochs=WARM)
        run.check(done == WARM)
        digest(table.read(buckets=list(range(run.cores))))


def write_then_serve(run: Run, shape: Shape, query_id: str) -> None:
    spark = run.spark
    n_events = sum(shape.sizes)
    log_dir = os.path.join(run.tmp, "log")
    table = LakeTable.create(spark, os.path.join(run.tmp, "lake"), n_buckets=N_BUCKETS)
    calls: list[float] = []
    walls: list[float] = []

    with run.tracer.span("bench.setup"):
        log = make_log(run.seed, n_events, shape.evolution_at)
        ends = write_segments(log, shape.sizes, log_dir)
        expected = oracle_state(run, log)
        want = oracle_digest(run, expected)
        by_conv = rows_by_conv(expected)
        lookups = zipf_convs(run, -(-n_events // EVENTS_PER_CONV), LOOKUPS)
        warm_up(run, log_dir)

    run.timed_at = time.perf_counter()
    for i in range(len(shape.sizes)):
        calls.append(time.time())
        t0 = time.perf_counter()
        with run.tracer.span("bench.timed"):
            done = replay.replay(spark, log_dir, table, query_id=query_id,
                                 start_epoch=i, max_epochs=1)
        walls.append(time.perf_counter() - t0)
        run.check(done == 1)

    snaps = [epoch_snapshot(table, f"{query_id}:{i}") for i in range(len(shape.sizes))]
    # call -> committed snapshot; a triggered fold runs after the commit
    latency = [table.snapshot(s).committed_at - c for s, c in zip(snaps, calls)]
    run.samples["commit_s"] = latency
    for _ in range(shape.scans):
        scan(run, table, want)
    # the change feed covers the last epoch
    lookups_and_feed(run, table, lookups, by_conv, snaps[-2], changed_keys(log, ends[-2], n_events))

    run.metrics.update(
        {
            "events_per_s": n_events / sum(walls),
            "scan_s": statistics.median(run.samples["scan_s"]),
        }
    )
    lc = layout_counts(table)
    run.counts.update(lc)
    run.counts["live_rows"] = int(want[0])
    run.check(lc["epochs_committed"] == len(shape.sizes))
    run.check(lc["compactions"] == shape.folds)
    if run.tracer.enabled:
        traced_layers(run, table, events=n_events, epochs=len(shape.sizes), wall=sum(walls))
        scaling_leg(run, replay_unit(log_dir, 0))


def tail(run: Run) -> None:
    """Small-epoch CDC tail: ~5k-event log segments, one per epoch."""
    write_then_serve(run, shape_of("tail", run.seconds), "tail")


def bulk_serve(run: Run) -> None:
    """Backfill in big epochs, then reads on a delta-heavy table."""
    write_then_serve(run, shape_of("bulk_serve", run.seconds), "bulk")


WORKLOADS = {"tail": tail, "bulk_serve": bulk_serve}
