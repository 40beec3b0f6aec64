"""Max-LSN dedup — the engine's hottest operator (SURVEY §2.D2/E1/K2).

:func:`dedup_max_lsn` is the engine's ONE Spark-side winner rule, for keys
that arrive unbucketed: every merge epoch and index probe resolves through
it. Table reads (``read``, ``lookup``, ``read_where``, the change feed) and
bucket rewrites resolve bucket-locally instead, in ``mor_scan``'s Arrow
fold, which applies the same max ``(_lsn, commit-seq)`` order with no
shuffle. The **aggregation
form** is used because ``groupBy().agg(max_by(...))`` gets map-side partial
aggregation for free (duplicates and superseded updates collapse before the
shuffle), while the window form (`row_number`) must shuffle every event. The
window form lives on only as the reference ``tests/test_ops.py`` checks
it against (SURVEY §5.2).

A delete is a *winner*, not an absence: deletes survive dedup as rows so the
merge can apply them (the classic CDC bug called out in SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from maestro_spark.schema import KEY_COLS


def dedup_max_lsn(
    events: DataFrame,
    keys: list[str] | None = None,
    order: Column | str = "op_lsn",
) -> DataFrame:
    """One winning row per ``keys``: the one with the max ``order``, every
    other column carried along (output = ``keys`` then the rest, in input
    order).

    ``order`` is a column name or expression; callers with a tie-break pass a
    struct (reads pass ``struct(_lsn, _seq)`` so the later commit wins).
    Columns that only feed the order ride along in the output; drop them
    after.
    """
    keys = keys or KEY_COLS
    rest = [c for c in events.columns if c not in keys]
    return (
        events.groupBy(*keys)
        .agg(F.max_by(F.struct(*rest), order).alias("_w"))
        .select(*keys, "_w.*")
    )

