"""The one file-group planner: which data files hold a bucket's versions (or
a snapshot range's changes), in commit order, and how many bytes they are.
Every read, bucket fold, change feed and cost estimate asks
:func:`plan_groups` instead of walking ``Snapshot.files``. Resolving max
``(_lsn, position)`` within one :class:`Group` gives each key's winner
without any other group. Bytes come from file stats; no Spark here, so the
streaming feed's planner worker calls it too.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from functools import cached_property, partial
from typing import Callable, Iterable


def file_bytes(table, rel: str) -> int:
    """The one bytes rule: filestats' recorded ``bytes``, and ``getsize``
    only for a file with no stats (a pre-upgrade or foreign file). Data
    files are immutable, so both give the same number."""
    st = table.file_stats.get(rel)
    if st is not None and st.get("bytes") is not None:
        return int(st["bytes"])
    return os.path.getsize(os.path.join(table.root, rel))


@dataclass
class Group:
    bucket: int        # bucket id; under ``since=``, bucket mod the gcd
    rels: list[str]    # table-relative data file paths, commit order
    # each file's commit position: its index in the bucket's manifest list,
    # or under ``since=`` the id of the snapshot that added it
    seqs: list[int]
    _bytes_of: Callable[[str], int] = field(repr=False, compare=False)

    @cached_property
    def sizes(self) -> list[int]:  # per file, looked up on first use
        return [self._bytes_of(p) for p in self.rels]

    @property
    def bytes(self) -> int:
        return sum(self.sizes)

    def sub(self, idx: Iterable[int]) -> "Group":  # positions, ascending
        idx = list(idx)
        return Group(self.bucket, [self.rels[i] for i in idx],
                     [self.seqs[i] for i in idx], self._bytes_of)


@dataclass
class Plan:
    groups: list[Group]
    total: int       # files planned before ``keep`` pruned them


def plan_groups(table, snap, buckets=None, since=None, keep=None) -> Plan:
    """File groups of snapshot ``snap`` of ``table`` (anything with
    ``root``, ``file_stats`` and ``snapshot(sid)``).

    By default one group per manifest bucket, empty ones included, in
    manifest order; ``buckets`` keeps those ids, each in
    ``[0, snap.n_buckets)``. ``since=k`` plans the files each
    non-maintenance snapshot in ``(k, snap]`` added over its parent and
    refuses a rollback, whose delta is files removed. Those group by bucket
    mod the gcd of the adding snapshots' bucket counts (a key's buckets
    agree modulo it across a rebucket). ``keep(rels) -> positions`` is
    the per-group prune rule; a group it empties is dropped.
    """
    bytes_of = partial(file_bytes, table)
    if since is None:
        n = snap.n_buckets
        if buckets is not None:
            bad = sorted({b for b in buckets if not 0 <= b < n})
            if bad:
                raise ValueError(
                    f"bucket ids {bad[:8]} outside [0, {n}) of snapshot "
                    f"{snap.snapshot_id}"
                )
            want = {str(b) for b in buckets}
        groups = [
            Group(int(b), list(ps), list(range(len(ps))), bytes_of)
            for b, ps in snap.files.items()
            if buckets is None or b in want
        ]
    else:
        if buckets is not None:
            raise ValueError("plan_groups: buckets= and since= do not combine")
        added: list[tuple[int, int, str, list[str]]] = []  # sid, n, bucket, new
        prev = None
        for sid in range(since + 1, snap.snapshot_id + 1):
            s = snap if sid == snap.snapshot_id else table.snapshot(sid)
            if s.stats.get("rollback_to") is not None:
                raise ValueError(
                    f"change range ({since}, {snap.snapshot_id}] spans "
                    f"rollback snapshot {sid}; re-sync from a full read"
                )
            if not s.stats.get("maintenance"):
                parent = prev if prev and prev.snapshot_id == s.parent_id else (
                    None if s.parent_id is None else table.snapshot(s.parent_id))
                for b, ps in s.files.items():
                    old = set(parent.files.get(b, [])) if parent else set()
                    if new := [p for p in ps if p not in old]:
                        added.append((sid, s.n_buckets, b, new))
            prev = s
        n = math.gcd(*(nb for _, nb, _, _ in added))
        by: dict[int, Group] = {}
        for sid, _, b, new in added:
            g = by.setdefault(int(b) % n, Group(int(b) % n, [], [], bytes_of))
            g.rels.extend(new)
            g.seqs.extend([sid] * len(new))
        groups = list(by.values())
    total = sum(len(g.rels) for g in groups)
    if keep is not None:
        groups = [g.sub(k) for g in groups if (k := keep(g.rels))]
    return Plan(groups, total)
