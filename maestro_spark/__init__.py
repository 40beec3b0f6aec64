"""maestro_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Reimagines the pipeline-stage idea of the reference (vineethMM/maestro; checkout
empty at build time, see SURVEY.md §0 — the binding spec is BASELINE.json
`north_rule`/`north_star`) as a Spark-first binlog/WAL-tail → lake-upsert flow:

- ordered change events (insert/update/delete) over multi-turn transcript rows,
- max-LSN dedup per (conv_id, turn_idx),
- key-partitioned merge-on-read MERGE into a snapshot-versioned parquet lake
  (Iceberg-capability layer built from scratch: no Iceberg jars exist here),
- schema evolution on write, exactly-once epoch-stamped commits,
- per-partition lineage + throughput metrics,
- all row transforms vectorized (built-in functions / pandas UDFs, no per-row
  Python).

Design notes live in SURVEY.md; every module docstring cites the SURVEY §2
operator rows it implements.
"""

from maestro_spark.session import get_spark  # noqa: F401
from maestro_spark.schema import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA  # noqa: F401

__version__ = "0.1.0"
