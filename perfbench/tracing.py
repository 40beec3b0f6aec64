"""Spans around calls into maestro_spark's public functions, and a fold of
Spark's own event log.

Tracing is installed only in a traced run (``--trace 1``). It wraps public
functions and methods of the engine's modules from the outside (the engine
itself is not modified), keeps every span in memory and derives the
per-layer metrics at the end:

* a span is ``(name, start, end, parent)``; its self time is its duration
  minus the time its child spans cover;
* while a span is open, the Spark local property ``perfbench.span`` holds its
  index, so each Spark job in the event log can be attributed to the span
  that launched it and that span's ancestors.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a no-op,
    so workload code is the same for traced and untraced runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # SparkContext that receives the span property
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        # span name -> (span index, call args, result) of wrapped calls
        self.results: dict[str, list] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        self._set_property(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._set_property(self._stack[-1] if self._stack else None)

    def _set_property(self, idx: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if idx is None else str(idx))

    def within(self, idx: int, name: str) -> bool:
        """Whether span ``idx`` is a ``name`` span or nested inside one."""
        while idx is not None:
            if self.spans[idx].name == name:
                return True
            idx = self.spans[idx].parent
        return False

    def wrap(self, owner: object, attr: str, name: str, keep_result: bool = False) -> None:
        """Replace ``owner.attr`` by a spanned version until :meth:`unwrap`."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            idx = len(tracer.spans)
            with tracer.span(name):
                out = original(*args, **kwargs)
            if keep_result:
                tracer.results.setdefault(name, []).append((idx, args, out))
            return out

        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # ------------------------------------------------------------- summaries
    def _named(self, name: str, scope: str | None) -> list[int]:
        return [
            i for i, s in enumerate(self.spans)
            if s.name == name and (scope is None or self.within(i, scope))
        ]

    def total(self, name: str, scope: str | None = None) -> float:
        """Summed duration of ``name`` spans (inside a ``scope`` span)."""
        return sum(self.spans[i].end - self.spans[i].start for i in self._named(name, scope))

    def count(self, name: str, scope: str | None = None) -> int:
        return len(self._named(name, scope))

    def _child_time(self) -> list[float]:
        """Per span, the time its direct children cover (children of one
        span run one after another on one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return child

    def self_time(self, name: str, scope: str | None = None) -> float:
        """:meth:`total` minus the time the spans' children cover."""
        child = self._child_time()
        return sum(
            self.spans[i].end - self.spans[i].start - child[i] for i in self._named(name, scope)
        )

    def summary(self) -> dict[str, list]:
        """Span name -> [count, total seconds, self seconds]."""
        child = self._child_time()
        out: dict[str, list] = {}
        for i, s in enumerate(self.spans):
            row = out.setdefault(s.name, [0, 0.0, 0.0])
            row[0] += 1
            row[1] += s.end - s.start
            row[2] += s.end - s.start - child[i]
        return {k: [n, round(t, 4), round(x, 4)] for k, (n, t, x) in out.items()}

    def calibrate(self, n: int = 200) -> float:
        """Seconds one span costs (open + close, Spark property included)."""
        if not self.enabled:
            return 0.0
        mark = len(self.spans)
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("trace.calibrate"):
                pass
        per_span = (time.perf_counter() - t0) / n
        del self.spans[mark:]
        return per_span


def install(tracer: Tracer) -> None:
    """Wrap the engine's public functions, one span name per layer call."""
    from maestro_spark import gen, ledger, merge, mor_scan, replay
    from maestro_spark.lake import LakeTable

    for attr in (
        "write_bucket_files", "commit", "snapshot", "committed_epoch_keys",
        "delta_buckets", "compact_tiered", "read", "changes",
    ):
        tracer.wrap(LakeTable, attr, f"lake.{attr}")
    tracer.wrap(LakeTable, "plan_lookup", "lake.plan_lookup", keep_result=True)
    for attr in ("last_watermark", "record", "committed"):
        tracer.wrap(ledger.Ledger, attr, f"ledger.{attr}")
    # merge.py and replay.py bind these by name at import; wrap those bindings
    tracer.wrap(merge, "append_lineage", "lineage.append_lineage")
    tracer.wrap(merge, "merge_batch", "merge.merge_batch")
    tracer.wrap(replay, "merge_batch", "merge.merge_batch")
    tracer.wrap(mor_scan, "register", "mor_scan.register")
    for attr in ("generate", "write_log"):
        tracer.wrap(gen, attr, f"gen.{attr}")


# ------------------------------------------------------------ Spark event log
@dataclass
class Task:
    stage: int
    run_ms: int
    shuffle_write: int
    spill: int


def fold_event_log(log_dir: str) -> tuple[dict[int, int | None], dict[int, list[int]], list[Task]]:
    """Read the one application event log under ``log_dir``: returns job id
    -> index of the span that launched it, job id -> stage ids, and every
    finished task."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    job_span: dict[int, int | None] = {}
    job_stages: dict[int, list[int]] = {}
    tasks: list[Task] = []
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                prop = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                job_span[ev["Job ID"]] = int(prop) if prop else None
                job_stages[ev["Job ID"]] = list(ev.get("Stage IDs") or [])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    Task(
                        stage=ev["Stage ID"],
                        run_ms=int(m.get("Executor Run Time", 0)),
                        shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
                        spill=int(m.get("Memory Bytes Spilled", 0))
                        + int(m.get("Disk Bytes Spilled", 0)),
                    )
                )
    return job_span, job_stages, tasks


def spark_metrics(
    tracer: Tracer, log_dir: str, *, epochs: int, events: int, wall_s: float, cores: int
) -> dict[str, float]:
    """Per-layer Spark figures. Jobs and tasks per epoch count the merge
    calls' own jobs (triggered compactions excluded); executor time, busy
    share, shuffle, spill and skew cover every job of the timed part."""
    job_span, job_stages, tasks = fold_event_log(log_dir)

    def jobs_where(pred) -> list[int]:
        return [j for j, s in job_span.items() if s is not None and pred(s)]

    timed = jobs_where(lambda s: tracer.within(s, "bench.timed"))
    merge = jobs_where(
        lambda s: tracer.within(s, "merge.merge_batch")
        and not tracer.within(s, "lake.compact_tiered")
    )

    def tasks_of(jobs: list[int]) -> list[Task]:
        stages = {st for j in jobs for st in job_stages[j]}
        return [t for t in tasks if t.stage in stages]

    mine = tasks_of(timed)
    run_s = sum(t.run_ms for t in mine) / 1000.0
    # skew of each job's last stage that ran tasks (for a merge, the write
    # stage after its one exchange): max over median task run time
    by_stage: dict[int, list[int]] = {}
    for t in mine:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    skews = []
    for j in timed:
        ran = [st for st in job_stages[j] if st in by_stage]
        if ran:
            times = by_stage[max(ran)]
            skews.append(max(times) / max(1.0, statistics.median(times)))
    return {
        "spark.jobs_per_epoch": len(merge) / epochs,
        "spark.tasks_per_epoch": len(tasks_of(merge)) / epochs,
        "spark.executor_run_s": run_s,
        "spark.busy_share": run_s / (wall_s * cores),
        "spark.shuffle_write_bytes_per_event": sum(t.shuffle_write for t in mine) / events,
        "spark.spill_bytes": float(sum(t.spill for t in mine)),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }
