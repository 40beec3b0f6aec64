"""Offset / watermark ledger (SURVEY §2.A7) — the engine's commit journal.

One JSON file per committed epoch under ``<root>/_ledger/<query_id>/``,
written atomically *after* the snapshot publish. The snapshot chain is the
authoritative exactly-once index (lake.LakeTable.committed_epoch_keys); the
ledger is the fast-path lookup plus the place offsets/watermarks live so
``replay`` can resume from any checkpoint.
"""

from __future__ import annotations

import json
import os

from maestro_spark.lake import LEDGER_DIR, _atomic_write_json


class Ledger:
    def __init__(self, root: str, query_id: str):
        self.dir = os.path.join(root, LEDGER_DIR, query_id)
        os.makedirs(self.dir, exist_ok=True)
        self.query_id = query_id

    def _path(self, epoch_id: int) -> str:
        return os.path.join(self.dir, f"epoch-{epoch_id:013d}.json")

    def committed(self, epoch_id: int) -> bool:
        return os.path.exists(self._path(epoch_id))

    def record(
        self,
        epoch_id: int,
        snapshot_id: int,
        offsets: dict | None = None,
        watermark: str | None = None,
        stats: dict | None = None,
    ) -> None:
        _atomic_write_json(
            self._path(epoch_id),
            {
                "query_id": self.query_id,
                "epoch_id": epoch_id,
                "snapshot_id": snapshot_id,
                "offsets": offsets or {},
                "watermark": watermark,
                "stats": stats or {},
            },
            exclusive=False,  # re-recording after crash-before-ledger is fine
        )

    def entries(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self.dir)):
            if fn.startswith("epoch-") and fn.endswith(".json"):
                with open(os.path.join(self.dir, fn)) as fh:
                    out.append(json.load(fh))
        return out

    def last_watermark(self) -> str | None:
        """Monotone high-water mark over committed epochs ('YYYY-MM-DD
        HH:MM:SS[.ffffff]' strings compare lexicographically)."""
        best = None
        for e in self.entries():
            w = e.get("watermark")
            if w and (best is None or w > best):
                best = w
        return best
