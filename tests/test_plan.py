"""The one file-group planner (``maestro_spark.plan``).

A Spark-free property runs ``plan_groups`` over generated snapshot chains —
appends, purge-style bucket rewrites, compactions, a rebucket and a
rollback — against the manifest itself: whole-bucket groups are the
manifest's bucket lists, ``since=`` groups are each epoch's added files
(the per-snapshot set difference the change feed was defined by), group
bytes are the file-stats bytes, and ``mor_scan`` packs the same from those
bytes as from on-disk sizes. The Spark tests pin the bucket-id refusal and
that planning stats no data file."""

from __future__ import annotations

import json
import math
import os
import tempfile
from types import SimpleNamespace

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from maestro_spark.lake import Snapshot
from maestro_spark.mor_scan import MorScanReader, pack_groups
from maestro_spark.plan import file_bytes, plan_groups

KEYS = range(24)


class _Chain:
    """An in-memory snapshot chain over real files of known sizes; a key
    ``k`` lives in bucket ``k % n_buckets``. Most files have a stats entry,
    some (every fifth) do not, so the getsize fallback is planned too."""

    def __init__(self, root: str):
        self.root = root
        self.snaps: list[Snapshot] = []
        self.keys: dict[str, set[int]] = {}
        self._stats: dict[str, dict] = {}
        self.file_stats = SimpleNamespace(get=self._stats.get)
        self._n = 0
        self._commit({}, 4, {})

    def snapshot(self, sid: int | None = None) -> Snapshot:
        return self.snaps[-1 if sid is None else sid]

    def _file(self, b: int, keys: set[int]) -> str:
        rel = f"data/pk_bucket={b}/f{self._n:04d}.parquet"
        size = 50 + 7 * len(keys) + self._n % 11
        os.makedirs(os.path.join(self.root, os.path.dirname(rel)), exist_ok=True)
        with open(os.path.join(self.root, rel), "wb") as fh:
            fh.write(b"x" * size)
        if self._n % 5:
            self._stats[rel] = {"rows": len(keys), "bytes": size}
        self._n += 1
        self.keys[rel] = set(keys)
        return rel

    def _commit(self, files, n_buckets, stats) -> None:
        sid = len(self.snaps)
        self.snaps.append(Snapshot(
            snapshot_id=sid, parent_id=sid - 1 if sid else None, epoch_key=None,
            schema_json="{}", files=files, n_buckets=n_buckets, stats=stats,
        ))

    def apply(self, op: str, arg: int) -> None:
        cur = self.snapshot()
        files = {b: list(ps) for b, ps in cur.files.items()}
        n = cur.n_buckets
        if op == "append":  # an epoch: one delta file per bucket it touches
            keys = {k for k in KEYS if (k * 7 + arg) % 5 < 2}
            for b in sorted({k % n for k in keys}):
                rel = self._file(b, {k for k in keys if k % n == b})
                files.setdefault(str(b), []).append(rel)
            self._commit(files, n, {})
        elif op in ("purge", "compact"):  # one bucket rewritten into one file
            b = str(arg % n)
            if not files.get(b):
                return
            held = set().union(*(self.keys[p] for p in files[b]))
            files[b] = [self._file(int(b), held)]
            self._commit(files, n, {"maintenance": "compact"} if op == "compact"
                         else {"purge_bucket": int(b)})
        elif op == "rebucket":
            n2 = (2, 4, 6, 8)[arg % 4]
            held = set().union(set(), *(self.keys[p] for ps in files.values() for p in ps))
            out = {str(b): [self._file(b, {k for k in held if k % n2 == b})]
                   for b in sorted({k % n2 for k in held})}
            self._commit(out, n2, {"maintenance": "rebucket"})
        else:  # rollback to an earlier snapshot of the same layout
            same = [s.snapshot_id for s in self.snaps if s.n_buckets == n]
            to = same[arg % len(same)]
            self._commit(dict(self.snaps[to].files), n, {"rollback_to": to})


def _added_by_epoch(chain: _Chain, since: int, to: int):
    """What the change feed was defined by: for every non-maintenance
    snapshot in ``(since, to]``, bucket -> the files it added over its
    parent (per-bucket set difference, manifest order)."""
    out = []
    for sid in range(since + 1, to + 1):
        s = chain.snapshot(sid)
        if s.stats.get("rollback_to") is not None:
            return None
        if s.stats.get("maintenance"):
            continue
        parent = chain.snapshot(s.parent_id)
        added = {}
        for b, ps in s.files.items():
            prev = set(parent.files.get(b, []))
            if new := [p for p in ps if p not in prev]:
                added[b] = new
        if added:
            out.append((sid, s.n_buckets, added))
    return out


def _bytes_on_disk(chain: _Chain, rel: str) -> int:
    return os.path.getsize(os.path.join(chain.root, rel))


OPS = st.lists(
    st.tuples(st.sampled_from(["append", "append", "purge", "compact",
                               "rebucket", "rollback"]),
              st.integers(0, 50)),
    min_size=1, max_size=12,
)


@settings(max_examples=60, deadline=None)
@given(ops=OPS, slots=st.integers(1, 5), data=st.data())
def test_plan_groups_matches_the_manifest(ops, slots, data):
    with tempfile.TemporaryDirectory(prefix="plan_") as root:
        chain = _Chain(root)
        for op, arg in ops:
            chain.apply(op, arg)
        tip = chain.snapshot()

        # whole buckets: the manifest's lists, in manifest and commit order
        plan = plan_groups(chain, tip)
        assert [(g.bucket, g.rels, g.seqs) for g in plan.groups] == [
            (int(b), ps, list(range(len(ps)))) for b, ps in tip.files.items()
        ]
        assert plan.n_buckets == tip.n_buckets and not plan.mixed
        assert plan.total == sum(len(ps) for ps in tip.files.values())
        for g in plan.groups:
            # bytes: file stats where recorded, the on-disk size otherwise
            # (the same number: data files are immutable)
            assert g.sizes == [
                (chain.file_stats.get(p) or {}).get("bytes") or _bytes_on_disk(chain, p)
                for p in g.rels
            ]
            assert g.sizes == [_bytes_on_disk(chain, p) for p in g.rels]

        # mor_scan packs the same from planned bytes as from on-disk sizes
        groups = [[os.path.join(root, p) for p in g.rels] for g in plan.groups if g.rels]
        on_disk = [sum(os.path.getsize(f) for f in g) for g in groups]
        planned = [g.bytes for g in plan.groups if g.rels]
        assert [p.groups for p in pack_groups(groups, planned, slots)] == [
            p.groups for p in pack_groups(groups, on_disk, slots)
        ]

        # since=k: each epoch's added files, grouped by bucket mod the gcd
        since = data.draw(st.integers(0, tip.snapshot_id), label="since")
        want = _added_by_epoch(chain, since, tip.snapshot_id)
        if want is None:
            with pytest.raises(ValueError, match="rollback"):
                plan_groups(chain, tip, since=since)
            return
        plan = plan_groups(chain, tip, since=since)
        g = 0
        for _, n, _ in want:
            g = math.gcd(g, n)
        expect: dict[int, list[tuple[str, int]]] = {}
        for sid, _, added in want:
            for b, ps in added.items():
                expect.setdefault(int(b) % g, []).extend((p, sid) for p in ps)
        assert {gr.bucket: list(zip(gr.rels, gr.seqs)) for gr in plan.groups} == expect
        assert plan.n_buckets == g
        assert plan.mixed == any(n != g for _, n, _ in want)
        # every key's added files sit in one group, across a rebucket too
        for k in KEYS:
            holding = {gr.bucket for gr in plan.groups for p in gr.rels
                       if k in chain.keys[p]}
            assert len(holding) <= 1, (k, holding)


def test_keep_prunes_within_groups_and_drops_emptied_ones(tmp_path):
    chain = _Chain(str(tmp_path))
    for arg in (1, 2, 3):
        chain.apply("append", arg)
    tip = chain.snapshot()
    whole = plan_groups(chain, tip)
    plan = plan_groups(chain, tip, keep=lambda rels: [j for j in range(len(rels)) if j])
    assert plan.total == whole.total
    assert [(g.bucket, g.rels, g.seqs) for g in plan.groups] == [
        (g.bucket, g.rels[1:], g.seqs[1:]) for g in whole.groups if len(g.rels) > 1
    ]


@pytest.mark.parametrize("bad", [[-1], [4], [0, 999]])
def test_bucket_ids_outside_the_layout_are_refused(tmp_path, bad):
    chain = _Chain(str(tmp_path))
    chain.apply("append", 1)
    with pytest.raises(ValueError, match=r"outside \[0, 4\)"):
        plan_groups(chain, chain.snapshot(), bad)


def test_pack_groups_stats_no_file():
    """The planner worker packs from the sizes it is handed: these paths do
    not exist, and nothing is opened or statted."""
    groups = [["/nonexistent/pk_bucket=0/a", "/nonexistent/pk_bucket=0/b"],
              ["/nonexistent/pk_bucket=1/c", "/nonexistent/pk_bucket=1/d"]]
    r = MorScanReader(None, {"groups_json": json.dumps(groups),
                             "sizes_json": "[10, 30]", "slots": "2"})
    # the larger group seeds the first pack
    assert [p.groups for p in r.partitions()] == [[groups[1]], [groups[0]]]


# ------------------------------------------------------------------ Spark
def _small_table(spark, root):
    import datetime as dt

    from maestro_spark import schema as S
    from maestro_spark.lake import LakeTable
    from maestro_spark.merge import merge_batch

    t = LakeTable.create(spark, root, n_buckets=4)
    for e in range(2):
        merge_batch(t, spark.createDataFrame(
            [(100 * e + i, "insert", f"c{i}", e, "user", f"e{e}-{i}", None,
              dt.datetime(2025, 1, 1)) for i in range(20)],
            S.CHANGE_EVENT_SCHEMA,
        ), "q", e)
    return t


def test_bucket_ids_outside_the_table_are_refused_before_any_commit(spark, tmp_path):
    spark.conf.set("maestro.compact.maxDeltas", "0")
    try:
        t = _small_table(spark, str(tmp_path / "lake"))
        tip = t.snapshot().snapshot_id
        for call in (lambda: t.compact(buckets=[999]),
                     lambda: t.compact_tiered(buckets=[999]),
                     lambda: t.read_resolved(buckets=[999])):
            with pytest.raises(ValueError, match="outside"):
                call()
        assert t.snapshot_ids()[-1] == tip
        assert "999" not in t.snapshot().files
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")


def test_planning_stats_no_data_file(spark, tmp_path, monkeypatch):
    """On an engine-written table every file has stats, so the planner's
    bytes, the fold trigger's tier sizing and every read's plan come from
    them: no ``stat`` of a data file on the driver."""
    from maestro_spark.lake import LakeTable

    spark.conf.set("maestro.compact.maxDeltas", "0")
    try:
        _small_table(spark, str(tmp_path / "lake"))
        t = LakeTable(spark, str(tmp_path / "lake"))  # a cold stats store
        seen: list[str] = []
        real = os.stat

        def spy(path, *a, **kw):
            if "pk_bucket=" in str(path):
                seen.append(str(path))
            return real(path, *a, **kw)

        monkeypatch.setattr(os, "stat", spy)
        t.read()
        t.lookup("c3")
        t.changes(0)
        t.read_where("turn_idx", 1, 1)
        assert t.delta_buckets(2)
        assert [file_bytes(t, p) for g in plan_groups(t, t.snapshot()).groups
                for p in g.rels]
        monkeypatch.setattr(os, "stat", real)
        assert seen == []
        # and the fold those sizes planned folds exactly their bytes
        before = plan_groups(t, t.snapshot())
        snap = t.compact_tiered()
        assert snap.stats["fold_bytes"] == sum(g.bytes for g in before.groups)
    finally:
        spark.conf.set("maestro.compact.maxDeltas", "8")
