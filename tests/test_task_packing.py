"""Per-core packing of small per-bucket work: ``mor_scan`` packs whole bucket
groups into at most one input partition per task slot, and the epoch
merge's exchange has an explicit partition count, so a small epoch's bucket
write runs on every core instead of in one AQE-coalesced task."""

from __future__ import annotations

import datetime as dt
import json
import os
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from maestro_spark import schema as S
from maestro_spark.lake import LakeTable
from maestro_spark.merge import merge_batch
from maestro_spark.mor_scan import MorScanReader, pack_groups
from maestro_spark.verify import symmetric_diff_empty


def _groups_of(d: str, sizes: list[list[int]]) -> list[list[str]]:
    """Real files of the given byte sizes under ``d``, one list per bucket
    group."""
    groups = []
    for b, fs in enumerate(sizes):
        g = []
        for j, n in enumerate(fs):
            p = os.path.join(d, f"pk_bucket={b}", f"f{j}.parquet")
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as fh:
                fh.write(b"x" * n)
            g.append(p)
        groups.append(g)
    return groups


@settings(max_examples=60, deadline=None)
@given(
    sizes=st.lists(
        st.lists(st.integers(0, 400), min_size=1, max_size=4), max_size=20
    ),
    slots=st.integers(1, 6),
)
def test_pack_groups_keeps_each_bucket_whole(sizes, slots):
    with tempfile.TemporaryDirectory(prefix="pack_") as d:
        groups = _groups_of(d, sizes)
        packs = pack_groups(groups, slots)
    assert 1 <= len(packs) <= slots
    assert len(packs) == max(1, min(slots, len(groups)))
    # every input group appears whole, files in commit order, in exactly
    # one pack; each pack keeps its groups in input order
    seen = [g for p in packs for g in p.groups]
    assert sorted(map(tuple, seen)) == sorted(map(tuple, groups))
    for p in packs:
        idx = [groups.index(g) for g in p.groups]
        assert idx == sorted(idx)
    # largest-first onto the least-loaded pack: loads differ by at most
    # the largest group
    if groups:
        size = {tuple(g): sum(fs) for g, fs in zip(groups, sizes)}
        load = [sum(size[tuple(g)] for g in p.groups) for p in packs]
        assert max(load) - min(load) <= max(size.values())


def test_reader_packs_to_slot_count(tmp_path):
    groups = _groups_of(
        str(tmp_path), [[300, 10], [50, 50], [200, 5, 5], [10, 10], [400, 1]]
    )
    r = MorScanReader(
        S.TRANSCRIPT_SCHEMA,
        {"groups_json": json.dumps(groups), "slots": "2"},
    )
    # bytes 310, 100, 210, 20, 401: 401 and 310 seed the two packs, 210
    # joins 310, then 100 and 20 join 401
    packs = r.partitions()
    assert [p.groups for p in packs] == [
        [groups[1], groups[3], groups[4]],
        [groups[0], groups[2]],
    ]


def _epoch(spark, lsn0: int, n_convs: int, text: str):
    return spark.createDataFrame(
        [(lsn0 + i, "insert", f"c{i}", 0, "user", f"{text}{i}", None,
          dt.datetime(2025, 1, 1)) for i in range(n_convs)],
        S.CHANGE_EVENT_SCHEMA,
    )


def _stage_tasks(spark, group: str) -> dict[int, int]:
    """stage id -> task count over every job run under ``group``."""
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None:
                out[sid] = info.numTasks
    return out


def test_compact_tiered_packs_buckets_and_writes_one_file_each(spark, tmp_path):
    """With more buckets than task slots, every scan task folds several
    whole buckets: one file per folded bucket, content unchanged, and the
    fold's tasks number at most the slot count."""
    spark.conf.set("maestro.compact.maxDeltas", "0")  # manual control
    sc = spark.sparkContext
    try:
        t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=16)
        for e in range(3):
            merge_batch(t, _epoch(spark, 1000 * e, 80, f"e{e}-"), "q", e)
        pre = t.snapshot().files
        assert len(pre) == 16 and all(len(ps) == 3 for ps in pre.values())
        before = t.read().orderBy("conv_id", "turn_idx")
        sc.setJobGroup("tiered-fold", "tiered fold")
        try:
            snap = t.compact_tiered()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert snap is not None
        after = t.snapshot().files
        assert sorted(after) == sorted(pre)
        assert all(len(ps) == 1 and ps[0] not in pre[b] for b, ps in after.items())
        assert symmetric_diff_empty(before, t.read().orderBy("conv_id", "turn_idx"))
        tasks = _stage_tasks(spark, "tiered-fold")
        assert tasks and max(tasks.values()) <= sc.defaultParallelism < 16
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")


def test_epoch_write_spreads_over_shuffle_partitions(spark, tmp_path):
    """A small MOR epoch touching every bucket writes on more than one task
    (AQE would coalesce a by-column repartition of it into one), and still
    writes exactly one file per changed bucket."""
    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        t = LakeTable.create(spark, str(tmp_path / "lake"), n_buckets=16)
        parent = t.snapshot().files
        sc.setJobGroup("epoch-write", "one MOR epoch")
        try:
            merge_batch(t, _epoch(spark, 1, 200, "v"), "q", 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    snap = t.snapshot()
    assert snap.stats["changed_buckets"] == 16
    new = {b: [p for p in ps if p not in parent.get(b, [])]
           for b, ps in snap.files.items()}
    assert len(new) == 16 and all(len(ps) == 1 for ps in new.values())
    tasks = _stage_tasks(spark, "epoch-write")
    write_stage = max(tasks)  # the write is the epoch's last stage
    assert tasks[write_stage] > 1, tasks
