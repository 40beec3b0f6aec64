"""Persisted declarations of feed-maintained derived data — the one registry
behind ``ivm``'s views and ``index_maint``'s indexes.

A declaration (what to maintain, plus the base table's root) is a JSON
file at a per-kind path derived from the derived root, so any later
process — the SQL front door's REFRESH, the CLI, a scheduler — can rebuild
the object by path alone. Re-declaring a root checks the stored
declaration and refuses any difference: two declarations over one root
would corrupt its cursor.

The BASE table carries a marker registry, ``<base.root>/<reg_dir>/``, with
one idempotent file per derived root. Concurrent declares write distinct
files, so no CAS is needed. ``lake.optimize`` folds every registered view
and index BEFORE snapshot expiry trims the change-feed horizon their
O(delta) refresh reads. A missed fold stays correct (refresh degrades to
its rebuild fallback): the registry is a cost guarantee, not a
correctness one.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import SparkSession

from maestro_spark.lake import LakeTable, _atomic_write_json


class Registry:
    """Declarations of one derived kind. ``decl_path(root)`` locates a
    root's declaration file; ``build(spark, base, root, decl)`` turns a
    stored declaration back into the live object; ``defaults`` fill fields
    that older declarations lack before they are compared."""

    def __init__(
        self,
        noun: str,
        reg_dir: str,
        decl_path: Callable[[str], str],
        build: Callable,
        defaults: dict | None = None,
    ):
        self.noun = noun
        self.reg_dir = reg_dir
        self.decl_path = decl_path
        self.build = build
        self.defaults = defaults or {}

    def read(self, root: str) -> dict | None:
        """The declaration stored for ``root``, or None."""
        p = self.decl_path(root)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def _marker(self, base: LakeTable, root: str) -> str:
        h = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:16]
        return os.path.join(base.root, self.reg_dir, f"{h}.json")

    def _markers(self, base: LakeTable) -> list[tuple[str, str]]:
        """(derived root, marker path) per marker registered with ``base``."""
        reg = os.path.join(base.root, self.reg_dir)
        if not os.path.isdir(reg):
            return []
        out = []
        for f in sorted(os.listdir(reg)):
            if f.endswith(".json"):
                with open(os.path.join(reg, f)) as fh:
                    out.append((json.load(fh)["root"], os.path.join(reg, f)))
        return out

    def declare(self, base: LakeTable, root: str, decl: dict,
                make: Callable[[], object]):
        """Persist ``decl`` for ``root`` and register it with ``base``;
        ``make()`` builds the object (before anything is written, so an
        invalid declaration leaves no trace)."""
        prev = self.read(root)
        if prev is not None:
            prev = {**self.defaults, **prev}
            if prev != decl:
                diff = sorted(k for k in decl if prev.get(k) != decl[k])
                raise ValueError(
                    f"{self.noun} at {root!r} already holds a DIFFERENT "
                    f"declaration (differs in {diff}) — refusing; drop the "
                    f"{self.noun} directory or declare a new root"
                )
        obj = make()
        if prev is None:
            _atomic_write_json(self.decl_path(root), decl, exclusive=False)
        p = self._marker(base, root)
        if not os.path.exists(p):
            os.makedirs(os.path.dirname(p), exist_ok=True)
            _atomic_write_json(p, {"root": os.path.abspath(root)},
                               exclusive=False)
        return obj

    def load(self, spark: SparkSession, root: str,
             base: LakeTable | None = None):
        """Reconstruct the object declared at ``root``. ``base`` defaults to
        opening the declared base root; pass it to assert ownership
        (refuses another table's declaration)."""
        decl = self.read(root)
        if decl is None:
            raise ValueError(f"{root!r} holds no declared {self.noun}")
        if base is None:
            base = LakeTable(spark, decl["base_root"])
        elif os.path.abspath(base.root) != decl["base_root"]:
            raise ValueError(
                f"{self.noun} at {root!r} is declared over "
                f"{decl['base_root']!r}, not {os.path.abspath(base.root)!r}"
            )
        return self.build(spark, base, root, decl)

    def remove(self, base: LakeTable, root: str) -> None:
        """Delete ``root``, its declaration and its marker in ``base`` —
        no ownership check (callers check it)."""
        shutil.rmtree(root, ignore_errors=True)
        for p in (self.decl_path(root), self._marker(base, root)):
            if os.path.exists(p):
                os.unlink(p)

    def undeclare(self, spark: SparkSession, root: str,
                  base: LakeTable | None = None) -> str:
        """Remove a declared root after the :meth:`load` ownership check.
        Returns the removed root path."""
        obj = self.load(spark, root, base=base)
        self.remove(obj.base, root)
        return os.path.abspath(root)

    def registered(self, spark: SparkSession, base: LakeTable) -> list:
        """Reconstruct every object registered over ``base``. Stale markers
        (the root removed out-of-band) and foreign ones (a registry dir
        copied wholesale into another table root) are pruned, never
        raised — table maintenance must not wedge on a vanished root."""
        out = []
        for root, marker in self._markers(base):
            decl = self.read(root)
            if decl is None or decl["base_root"] != os.path.abspath(base.root):
                os.unlink(marker)
                continue
            out.append(self.build(spark, base, root, decl))
        return out

    def list_declared(self, base: LakeTable) -> list[dict]:
        """Metadata-only listing of the declarations registered over
        ``base`` (read straight from disk — no Spark analysis, no pruning
        side effects; serving ``describe`` and ``SHOW``)."""
        return [
            {"root": root, **decl}
            for root, _ in self._markers(base)
            if (decl := self.read(root)) is not None
        ]
