"""Per-file zone maps (min/max stats) for manifest-level data skipping.

Iceberg keeps per-file column bounds in its manifests so a planner can drop
files without opening them; this module is that capability for the lake.
Stats are harvested from parquet FOOTERS at the single chokepoint where data
files are born (``LakeTable.write_bucket_files``) — metadata-only, no second
pass over the data — and persisted as one small JSON *shard per commit*
(``_snapshots/fstats-<uid>.json``). A shard is O(files written by that
commit), so commit cost never grows with table size; a reader loads shards
once per process and incrementally afterwards (same pattern as the
epoch-key index).

Tracked per file: ``rows, bytes, lsn_min, lsn_max, ts_min_us, ts_max_us``.
Byte sizes feed the size-tiered compaction planner (fold small delta tiers,
never rewrite settled base files — see ``LakeTable.compact_tiered``). LSN
bounds double as the lineage source (maestro_spark.lineage) and pick the
out-of-range "mask" files that a range read resolves together with its
candidates, which keeps zone-map pruning EXACT under merge-on-read (see
``LakeTable.plan_col_scan``); ts bounds are the zone map
for event-time range scans — at 100 TB a "yesterday's conversations" query
touches yesterday's delta files, not the table.

A file with no entry (pre-upgrade tables, foreign files) degrades safely:
the planner treats its bounds as unknown → never pruned.
"""

from __future__ import annotations

import base64
import datetime as _dt
import json
import os
import uuid

import pyarrow.parquet as pq

from maestro_spark import schema as S

SHARD_PREFIX = "fstats-"
_TS_COL = "ts"

# ---------------------------------------------------------------- key blooms
# Per-file membership filters over the primary key column (conv_id): zone
# maps answer RANGE predicates, blooms answer EQUALITY — the point-lookup
# planner needs "could this delta file contain conversation X?", which
# min/max bounds on a high-cardinality uuid-ish key can never answer.
# The two Kirsch-Mitzenmacher base hashes are h1 = xxhash64(key) and
# h2 = xxhash64(key, seed=h1) — both JVM-computable as ``F.xxhash64(c)`` /
# ``F.xxhash64(c, c)`` (Spark chains multi-arg xxhash64 through the seed),
# so the BUILD is a plain codegen aggregation with map-side partial
# collect_set (no Python workers, shuffle carries only distinct hash pairs)
# while the PROBE uses the pure-Python XXH64 twin (maestro_spark.keyhash)
# on the driver. Sized at ~12 bits/distinct key, k=4 → ~0.6% false
# positives; capped at 2^18 bits (32 KiB) per file — a saturated bloom on a
# huge base file just stops pruning (false positives only), never breaks
# correctness.
BLOOM_K = 4
BLOOM_BITS_PER_KEY = 12
BLOOM_MAX_BITS = 1 << 18
BLOOM_FIELD = "key_bloom"

_U64 = (1 << 64) - 1


def _hash_pair(value: str) -> tuple[int, int]:
    """(h1, h2) for ``value`` — bit-identical (mod 2^64) to the JVM pair
    ``xxhash64(value)`` / ``xxhash64(value, value)`` used at build time."""
    from maestro_spark.keyhash import xxh64

    b = value.encode("utf-8")
    h1 = xxh64(b, 42)
    return h1, xxh64(b, h1)


def _bloom_size(n_distinct: int) -> int:
    m = 1024
    while m < BLOOM_BITS_PER_KEY * n_distinct and m < BLOOM_MAX_BITS:
        m <<= 1
    return m


def bloom_from_pairs(pairs) -> dict | None:
    """Bloom dict ``{m, k, b64}`` from an iterable of DISTINCT (h1, h2)
    hash pairs (signed or unsigned 64-bit ints; None for an empty set)."""
    ps = list(pairs)
    if not ps:
        return None
    m = _bloom_size(len(ps))
    bits = bytearray(m // 8)
    for h1, h2 in ps:
        h1 &= _U64
        h2 &= _U64
        for i in range(BLOOM_K):
            p = (h1 + i * h2) % m
            bits[p >> 3] |= 1 << (p & 7)
    return {"m": m, "k": BLOOM_K, "b64": base64.b64encode(bytes(bits)).decode()}


def build_bloom(values) -> dict | None:
    """Bloom dict over an iterable of DISTINCT key strings — the driver-side
    twin of the JVM build in ``LakeTable._build_key_blooms`` (parity is
    asserted in tests/test_lookup.py). Used by tests and self-heal paths;
    the hot path builds from JVM-aggregated hash pairs instead."""
    return bloom_from_pairs(_hash_pair(v) for v in set(values))


def bloom_maybe_contains(st: dict | None, value: str) -> bool:
    """Membership probe against a file's key bloom. Missing stats entry,
    pre-bloom shard, or empty file → True (never prune blind — absence of
    evidence is not evidence of absence)."""
    bl = (st or {}).get(BLOOM_FIELD)
    if not bl:
        return True
    m, k = bl["m"], bl["k"]
    bits = base64.b64decode(bl["b64"])
    h1, h2 = _hash_pair(value)
    for i in range(k):
        p = (h1 + i * h2) % m
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def _micros(v) -> int | None:
    """Parquet timestamp statistics → int microseconds (JSON-safe)."""
    if v is None:
        return None
    if isinstance(v, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return int((v - epoch).total_seconds() * 1_000_000)
    return int(v)


_MAX_STR_BOUND = 64  # longer string bounds bloat the shard; mark unknown


def _bound_safe(v):
    """Parquet statistic value → JSON-safe zone bound, or None (= unknown,
    never prune). Strings longer than the cap are dropped BOTH ways (a
    one-sided bound could prune wrongly). Truncated parquet stats are still
    valid bounds by spec (min truncated down, max incremented), so using
    them as-is is prune-safe."""
    if isinstance(v, bool):
        return None  # boolean bounds carry no range-pruning signal
    if isinstance(v, _dt.datetime):
        return _micros(v)
    if isinstance(v, int) or isinstance(v, float):
        return v
    if isinstance(v, str) and len(v) <= _MAX_STR_BOUND:
        return v
    return None


def collect_file(path: str) -> dict:
    """Footer-only stats for one parquet file:
    ``{rows, bytes, lsn_min, lsn_max, ts_min, ts_max, cols}`` where ``cols``
    maps every scalar leaf column to ``[min, max]`` (timestamps in epoch
    micros; bounds absent when the column is missing, all-null, non-scalar,
    or its string bounds exceed the size cap — absent = never pruned)."""
    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    out = {"rows": md.num_rows, "bytes": os.path.getsize(path),
           "lsn_min": None, "lsn_max": None,
           "ts_min": None, "ts_max": None, "cols": {}}
    for ci, col in enumerate(names):
        if "." in col:
            continue  # nested leaf (list/struct path): not a scalar column
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st and st.has_min_max:
                mins.append(st.min)
                maxs.append(st.max)
        if not mins:
            continue
        lo, hi = _bound_safe(min(mins)), _bound_safe(max(maxs))
        if lo is None or hi is None:
            continue
        out["cols"][col] = [lo, hi]
    # legacy top-level keys (lineage + pre-upgrade readers use them)
    if S.LSN_COL in out["cols"]:
        out["lsn_min"], out["lsn_max"] = (int(v) for v in out["cols"][S.LSN_COL])
    if _TS_COL in out["cols"]:
        out["ts_min"], out["ts_max"] = out["cols"][_TS_COL]
    return out


class FileStatsStore:
    """Sharded rel-path → stats map under ``<root>/_snapshots/``.

    Shards are immutable once written (like snapshots), so incremental
    loading is safe; entries for vacuumed files are harmless garbage and are
    dropped whenever :meth:`compact_shards` runs (piggybacked on vacuum).
    """

    def __init__(self, root: str, snap_dir: str):
        self.root = root
        self.dir = os.path.join(root, snap_dir)
        self._stats: dict[str, dict] = {}
        self._loaded: set[str] = set()

    # ------------------------------------------------------------- load/get
    def _refresh(self) -> None:
        for fn in os.listdir(self.dir):
            if fn.startswith(SHARD_PREFIX) and fn.endswith(".json") and fn not in self._loaded:
                with open(os.path.join(self.dir, fn)) as fh:
                    self._stats.update(json.load(fh))
                self._loaded.add(fn)

    def get(self, rel: str) -> dict | None:
        if rel not in self._stats:
            self._refresh()
        return self._stats.get(rel)

    def get_or_read(self, rel: str) -> dict:
        """Stats for ``rel``, reading the footer once on a store miss
        (self-healing for pre-upgrade tables; not persisted)."""
        st = self.get(rel)
        if st is None:
            st = collect_file(os.path.join(self.root, rel))
            self._stats[rel] = st
        return st

    # ---------------------------------------------------------------- write
    def _write_shard(self, shard: dict[str, dict]) -> None:
        self._stats.update(shard)
        fn = f"{SHARD_PREFIX}{uuid.uuid4().hex[:12]}.json"
        tmp = os.path.join(self.dir, f".{fn}.tmp")
        with open(tmp, "w") as fh:
            json.dump(shard, fh)
        os.rename(tmp, os.path.join(self.dir, fn))
        self._loaded.add(fn)

    def add_files(self, rels: list[str]) -> None:
        """Harvest footer stats for freshly-written files; one shard."""
        if not rels:
            return
        self._write_shard(
            {rel: collect_file(os.path.join(self.root, rel)) for rel in rels}
        )

    def merge_extra(self, extra: dict[str, dict]) -> None:
        """Merge per-file metadata (e.g. backfilled blooms) into existing
        entries and persist one shard of the COMPLETE updated entries —
        loaders replace whole entries, so a partial shard would erase the
        footer stats it rode in on."""
        if not extra:
            return
        shard = {}
        for rel, add in extra.items():
            entry = dict(self.get_or_read(rel))
            entry.update(add)
            shard[rel] = entry
        self._write_shard(shard)

    # ------------------------------------------------------------------- gc
    def compact_shards(self, live_rels: set[str]) -> None:
        """Fold all shards into one, dropping entries for dead files."""
        self._refresh()
        self._stats = {r: s for r, s in self._stats.items() if r in live_rels}
        for fn in list(self._loaded):
            p = os.path.join(self.dir, fn)
            if os.path.exists(p):
                os.unlink(p)
        self._loaded.clear()
        if self._stats:
            fn = f"{SHARD_PREFIX}{uuid.uuid4().hex[:12]}.json"
            tmp = os.path.join(self.dir, f".{fn}.tmp")
            with open(tmp, "w") as fh:
                json.dump(self._stats, fh)
            os.rename(tmp, os.path.join(self.dir, fn))
            self._loaded.add(fn)


def col_overlaps(st: dict | None, col: str, lo, hi) -> bool:
    """Generic zone test over the per-column bounds map: could a file with
    these stats hold a row with ``col`` in [lo, hi]? Unknown bounds (no
    stats shard, pre-upgrade shard without ``cols``, absent/all-null/
    uncapped column) → True — never prune blind."""
    bounds = (st or {}).get("cols", {}).get(col)
    if bounds is None:
        return True
    cmin, cmax = bounds
    if lo is not None and cmax < lo:
        return False
    if hi is not None and cmin > hi:
        return False
    return True
