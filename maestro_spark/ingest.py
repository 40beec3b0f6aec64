"""Typed ingest stage — the maestro `load` analogue (SURVEY §2.A4/B3/B4/B5).

Schema-enforced decode with an invalid-row side channel: rows that fail the
declared schema land in a corrupt-record column instead of poisoning the
table (PERMISSIVE mode), and rows that fail semantic validation are routed to
an error channel (ops.validate_split).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maestro_spark import schema as S
from maestro_spark.ops import validate_split


def read_csv_typed(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt",
    **options,
) -> DataFrame:
    """CSV scan with a declared schema; malformed rows fill ``corrupt_col``."""
    full = T.StructType([*schema.fields, T.StructField(corrupt_col, T.StringType(), True)])
    return spark.read.csv(
        path,
        schema=full,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=corrupt_col,
        header=True,
        **options,
    )


CSV_DEMO_PATH = "/tmp/maestro_csv_demo/events.csv"


def csv_ingest_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-check demo: materialize a deterministic synthetic CSV (seeded
    arithmetic rows + two planted corrupt rows — independent of sf_dir, so a
    static DuckDB oracle can read the very same file), ingest it typed, and
    return per-channel counts + a value checksum."""
    csv_path = CSV_DEMO_PATH
    if not os.path.exists(csv_path):
        os.makedirs(os.path.dirname(csv_path), exist_ok=True)
        kinds = ["click", "view", "purchase", "signup"]
        with open(csv_path + ".tmp", "w") as fh:
            fh.write("event_id,user_id,event_type,value\n")
            for i in range(2000):
                fh.write(f"{i},{(i * 7) % 500},{kinds[i % 4]},{i * 0.5:.2f}\n")
            fh.write("oops,not_a_number,click,abc\n")  # planted corrupt rows
            fh.write("123,456,purchase,not_a_double\n")
        os.replace(csv_path + ".tmp", csv_path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    raw = read_csv_typed(spark, csv_path, schema)
    # the predicate references EVERY typed column: Spark's CSV parser only
    # parses referenced columns (csv.parser.columnPruning), so a row whose
    # only malformed field is an unreferenced column would silently pass the
    # corrupt check — naming all columns forces the full parse the corrupt
    # channel is defined over
    good, bad = validate_split(
        raw,
        F.col("_corrupt").isNull()
        & F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull(),
    )
    return good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum("event_id").alias("id_checksum"),
    ).crossJoin(bad.agg(F.count(F.lit(1)).alias("n_bad")))


def read_json_typed(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt",
    **options,
) -> DataFrame:
    """JSON-lines scan with a declared schema; malformed rows (invalid JSON
    or unconvertible field values) fill ``corrupt_col``."""
    full = T.StructType([*schema.fields, T.StructField(corrupt_col, T.StringType(), True)])
    return spark.read.json(
        path,
        schema=full,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=corrupt_col,
        **options,
    )


# ------------------------------------------------- Debezium envelope ingest
def debezium_envelope_schema(payload: T.StructType) -> T.StructType:
    """The standard Debezium change-event envelope (public wire format:
    ``before``/``after`` row images, ``source`` block with the origin
    LSN/commit timestamp, ``op`` code, envelope ``ts_ms``) typed against a
    payload row schema. All fields nullable — a snapshot read carries no
    ``before``, a delete no ``after``, and connectors differ on which
    ``source`` members they populate."""
    row = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in payload.fields]
    )
    source = T.StructType(
        [
            T.StructField("lsn", T.LongType(), True),
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField("db", T.StringType(), True),
            T.StructField("table", T.StringType(), True),
            T.StructField("snapshot", T.StringType(), True),
        ]
    )
    return T.StructType(
        [
            T.StructField("before", row, True),
            T.StructField("after", row, True),
            T.StructField("source", source, True),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
        ]
    )


def from_debezium(
    raw: DataFrame,
    payload_schema: T.StructType | None = None,
    col: str = "value",
) -> DataFrame:
    """Decode Debezium JSON envelopes in ``raw[col]`` into the engine's
    change-event rows (``op_lsn, op, <payload…>``) — the real-world binlog
    front door: a Kafka topic dump or connector archive feeds ``merge_batch``
    / ``stream_ingest`` directly.

    Pure ``from_json`` + codegen projection, no UDFs. Mapping:

    - op codes ``c`` (create) and ``r`` (snapshot read) → ``insert``,
      ``u`` → ``update``, ``d`` → ``delete``;
    - row image = ``after`` for upserts, ``before`` for deletes (each
      falling back to the other when a connector omits its primary image);
    - ``op_lsn`` = ``source.lsn``, falling back to ``source.ts_ms``: a
      per-connector fallback for connectors without a numeric LSN (MySQL
      GTID mode), commit-timestamp ordering, the same total order Debezium
      itself falls back to. One feed comes from one connector, so its rows
      share one ordering domain. The envelope ``ts_ms`` is never an LSN (its
      epoch-ms value would outrank every real LSN for good): an envelope
      with no ``source`` block has a null ``op_lsn`` and dead-letters as
      ``null_op_lsn``.

    DEFECTS ARE DATA, not exceptions: an unparseable line decodes to a row
    whose ``op`` is ``corrupt_envelope`` and whose key/LSN are null, an
    unknown op code passes through verbatim — both shapes are exactly what
    ``merge.quarantine_reason`` dead-letters (``bad_op`` /
    ``null_conv_id`` / ``null_op_lsn``), so the standard DLQ + repair flow
    covers envelope corruption with zero extra machinery.

    Op codes ``t`` (TRUNCATE) and ``m`` (logical message) also pass through
    verbatim and dead-letter as ``debezium_truncate`` / ``debezium_message``.
    A source TRUNCATE is therefore NOT applied: the rows it removed stay
    live here, and the replica must be re-synced from a fresh snapshot of
    the source (e.g. a ``TRUNCATE TABLE`` on this table, then the
    connector's snapshot read)."""
    payload = payload_schema or S.TRANSCRIPT_SCHEMA
    e = F.from_json(F.col(col), debezium_envelope_schema(payload))
    opcode = e["op"]
    op = (
        F.when(opcode.isin("c", "r"), F.lit("insert"))
        .when(opcode == "u", F.lit("update"))
        .when(opcode == "d", F.lit("delete"))
        .otherwise(F.coalesce(opcode, F.lit("corrupt_envelope")))
    )
    row = F.when(opcode == "d", F.coalesce(e["before"], e["after"])).otherwise(
        F.coalesce(e["after"], e["before"])
    )
    lsn = F.coalesce(e["source"]["lsn"], e["source"]["ts_ms"])
    return raw.select(
        lsn.cast("long").alias("op_lsn"),
        op.alias("op"),
        *[row[f.name].alias(f.name) for f in payload.fields],
    )


def to_debezium(feed: DataFrame, payload_cols: list[str] | None = None) -> DataFrame:
    """Render a change feed (:meth:`LakeTable.changes` output: payload
    columns + ``op`` + ``lsn``) as standard Debezium envelope JSON lines —
    the symmetric EXPORT half of :func:`from_debezium`, so any Debezium
    consumer (or another instance of this engine) can subscribe to a lake
    table's changes over the public wire format.

    Upserts emit op ``u`` with an ``after`` image, deletes op ``d`` with a
    ``before`` image; ``source.lsn`` carries the engine LSN so a consumer
    applying the envelopes reconverges by LSN dominance. ONE
    ``to_json(struct(…))`` projection — pure codegen, no UDFs.

    Round trip: ``from_debezium(to_debezium(feed))`` re-decodes to the
    same rows with op ``u`` → ``update`` (LSN-dominance upsert semantics —
    identical merge behavior to the original insert/update distinction,
    which the wire format does not preserve)."""
    cols = payload_cols or [c for c in feed.columns if c not in ("op", "lsn")]
    row = F.struct(*[F.col(c) for c in cols])
    is_del = F.col("op") == "delete"
    env = F.struct(
        F.when(is_del, row).alias("before"),
        F.when(~is_del, row).alias("after"),
        F.struct(F.col("lsn").alias("lsn")).alias("source"),
        F.when(is_del, F.lit("d")).otherwise(F.lit("u")).alias("op"),
    )
    return feed.select(F.to_json(env).alias("value"))


DEBEZIUM_DEMO_PATH = "/tmp/maestro_dbz_demo/envelopes.jsonl"


def write_debezium_demo(path: str = DEBEZIUM_DEMO_PATH) -> str:
    """Materialize a deterministic Debezium envelope JSONL exercising the
    whole mapping surface: snapshot reads (``r``), creates, updates,
    deletes (before-image only), the ``source.ts_ms`` LSN fallback, plus
    planted defects (invalid JSON, unknown op, an envelope with no row
    image, envelopes with no source block and so no LSN). sf-independent,
    so the DuckDB oracle reads the same bytes."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    lines = []
    for i in range(2500):
        conv = f"c{i % 100:03d}"
        turn = (i // 100) % 5
        code = ["r", "c", "u", "u", "d"][i % 5]
        row = (
            '{"conv_id": "%s", "turn_idx": %d, "role": "%s", '
            '"text": "turn %d of %s rev%d", "tool": %s, '
            '"ts": "2025-03-01T00:%02d:%02d"}'
            % (conv, turn, "user" if turn % 2 == 0 else "assistant",
               turn, conv, i, '"search"' if i % 3 == 0 else "null",
               (i // 60) % 60, i % 60)
        )
        before = row if code in ("d", "u") else "null"
        after = row if code != "d" else "null"
        if i % 13 == 0:
            src = "null"  # no source block: no LSN (null op_lsn)
        elif i % 7 == 0:
            # connector without a numeric LSN (MySQL GTID): commit ts_ms
            src = '{"ts_ms": %d, "db": "crm"}' % (1_700_000_000_000 + i)
        else:
            src = '{"lsn": %d, "ts_ms": %d, "db": "crm", "table": "turns"}' % (
                1000 + i, 1_700_000_000_000 + i)
        lines.append(
            '{"before": %s, "after": %s, "source": %s, "op": "%s", "ts_ms": %d}'
            % (before, after, src, code, 1_700_000_100_000 + i)
        )
    lines.append('{"before": null, BROKEN')                       # invalid JSON
    lines.append('{"op": "x", "source": {"lsn": 1}, "after": '
                 '{"conv_id": "cx", "turn_idx": 0}}')             # unknown op
    lines.append('{"op": "c", "source": {"lsn": 2}, "ts_ms": 5}')  # no image
    with open(path + ".tmp", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(path + ".tmp", path)
    return path


def debezium_ingest_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-check demo for :func:`from_debezium`: decode the
    deterministic envelope file and aggregate per mapped op — event count,
    source-LSN checksum, distinct conversations — so every branch of the
    op/row-image/LSN-fallback mapping lands in the oracle comparison."""
    raw = spark.read.text(write_debezium_demo())
    ev = from_debezium(raw)
    return ev.groupBy("op").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("op_lsn").alias("lsn_sum"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


JSON_DEMO_PATH = "/tmp/maestro_json_demo/events.jsonl"


def json_ingest_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-check demo, JSON twin of csv_ingest_demo: deterministic
    synthetic JSONL (sf-independent) with two planted corrupt rows — one
    syntactically invalid line, one type-invalid field — ingested typed,
    returning per-channel counts + a checksum the oracle can restate."""
    path = JSON_DEMO_PATH
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        kinds = ["click", "view", "purchase", "signup"]
        with open(path + ".tmp", "w") as fh:
            for i in range(2000):
                fh.write(
                    '{"event_id": %d, "user_id": %d, "event_type": "%s", "value": %.2f}\n'
                    % (i, (i * 7) % 500, kinds[i % 4], i * 0.5)
                )
            fh.write('{"event_id": 7, "user_id": 7, BROKEN\n')  # invalid JSON
            fh.write('{"event_id": 123, "user_id": 456, "event_type": "purchase", "value": "not_a_double"}\n')
        os.replace(path + ".tmp", path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    raw = read_json_typed(spark, path, schema)
    good, bad = validate_split(
        raw,
        F.col("_corrupt").isNull()
        & F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull(),
    )
    return good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum("event_id").alias("id_checksum"),
    ).crossJoin(bad.agg(F.count(F.lit(1)).alias("n_bad")))


def copy_into(
    table,
    src: str,
    fileformat: str,
    query_id: str = "copy",
    per_file: bool = True,
    evolve: bool = False,
    **options,
) -> dict:
    """Idempotent bulk file load (Databricks ``COPY INTO`` parity, CDC-
    adapted): load every data file under ``src`` (a directory, glob, or
    single file) into the lake table EXACTLY ONCE per file, as upserts at
    a fresh LSN. Re-running after new files arrive loads only the new
    files.

    Two commit granularities, interoperable on the same table:

    - ``per_file=True`` (default): each file is its own merge epoch whose
      key is the file's name+size fingerprint. Per-file commits are the
      right unit when files are large and few.
    - ``per_file=False`` (batched): ALL pending files load as ONE merge
      epoch (one exchange, one commit) keyed by the pending-set hash —
      the 10k-small-files shape, where per-file commits would serialize
      the load behind 10k snapshot publishes.

    The loaded set is derived IDENTICALLY in both modes, so they fully
    interoperate on one table (a file loaded batched is skipped per-file
    and vice versa): every COPY commit persists its file tags in the
    snapshot's own stats (``copy_files``, riding the commit — authoritative
    through the crash window between commit and ledger record, even when
    the next run's pending set differs) and in the ledger's offsets (the
    durable long-horizon record that survives snapshot expiry); per-file
    epoch keys are additionally consulted for pre-upgrade tables. A commit
    that crashed before its ledger record is recognized and the ledger
    entry is backfilled, so the crash window costs nothing.

    ``fileformat``: ``csv`` / ``json`` / ``parquet`` / ``orc`` /
    ``debezium``. CSV types each file by its OWN header validated against
    the table (column-subset files fill absent columns through the merge's
    schema conform; unknown header columns refuse); JSON decodes
    name-based; parquet and ORC read schema-projected against their file
    footers. Corrupt rows dead-letter to the table's quarantine
    dir (``_reason='corrupt_record'``, same layout/repair flow as the
    merge DLQ) instead of poisoning the table.

    ``debezium`` is the CDC-native bulk path: files are JSONL of standard
    Debezium envelopes (:func:`from_debezium`), and rows keep their OWN
    op (insert/update/delete rides through — deletes tombstone) and their
    SOURCE LSN instead of a fresh table LSN — so a directory of binlog
    archive dumps loads in ANY order and max-LSN dominance reconverges it
    to the same final state as a live tail (defective envelopes
    dead-letter through the merge's own quarantine with precise reasons).
    ``evolve`` is refused for debezium (the envelope is typed against the
    table's payload schema).

    ``evolve=True`` (SQL: ``WITH (evolve = 1)``) turns unknown incoming
    columns into SCHEMA EVOLUTION instead of a refusal (Databricks
    ``mergeSchema`` parity): the new columns ride the batch into
    ``merge_batch``'s existing add-only/safe-widen schema merge, so the
    table evolves in the same commit that loads the rows — and the
    dropped/renamed-name protections apply unchanged (a re-sent retired
    name gets a fresh physical alias via ``schema.assign_physical``, never
    stale bytes). Types for the new columns: CSV/JSON pay one extra
    inference pass over that file only (files without new columns read
    exactly as before); parquet uses the file's own footer types. A new
    column whose name collides with the engine's internal/event columns
    (``op``, ``op_lsn``, ``_lsn``, ``_deleted``, ``_corrupt*``) refuses in
    every mode — those names can never be payload.

    Returns ``{files_loaded, files_skipped, rows_loaded,
    rows_quarantined, lsn}``.
    """
    import glob as _glob
    import hashlib

    from maestro_spark.dml import max_live_lsn
    from maestro_spark.ledger import Ledger
    from maestro_spark.merge import merge_batch

    fmt = fileformat.lower()
    if fmt not in ("csv", "json", "parquet", "orc", "debezium"):
        raise ValueError(f"COPY INTO fileformat {fileformat!r} — accepted: "
                         "csv, json, parquet, orc, debezium")
    if fmt == "debezium" and evolve:
        raise ValueError(
            "COPY INTO … FILEFORMAT = debezium does not take evolve — the "
            "envelope decodes against the table's payload schema (ALTER "
            "TABLE … ADD COLUMN first, then load)"
        )
    if os.path.isfile(src) or any(ch in src for ch in "*?["):
        pattern = src
    else:
        pattern = os.path.join(src, "*")
    files = sorted(p for p in _glob.glob(pattern) if os.path.isfile(p))
    if not files:
        raise ValueError(f"COPY INTO found no files at {src!r}")
    # fingerprint root: tags are <path relative to here>:<size>. For the
    # flat-directory case the relative path IS the basename (the original
    # tag format — existing loaded sets keep matching); for recursive
    # globs it keeps two same-named same-sized files in different
    # subdirectories from colliding into one tag (a collision would
    # silently skip the second file forever)
    if os.path.isfile(src):
        tag_root = os.path.dirname(src)
    elif any(ch in src for ch in "*?["):
        import re as _re

        tag_root = os.path.dirname(_re.split(r"[*?\[]", src)[0])
    else:
        tag_root = src
    spark = table.spark
    payload = table.snapshot().payload_schema()
    committed = table.committed_epoch_keys()

    def _fid(text: str) -> int:
        # 48-bit epoch id; the (query_id, id) KEY is what must be unique
        return int.from_bytes(hashlib.md5(text.encode()).digest()[:6], "big")

    # names that can never become payload columns via evolution: the merge
    # event columns, the internal fields, and the corrupt-record channels
    _reserved = {"op", S.LSN_COL, S.DELETED_COL, "op_lsn",
                 "_corrupt", "_corrupt_record"}

    def _check_new(path: str, new_names: list[str]) -> None:
        bad = [n for n in new_names if n in _reserved or n.startswith("_")]
        if bad:
            raise ValueError(
                f"COPY INTO file {os.path.basename(path)!r} carries "
                f"column(s) {bad} that collide with the engine's "
                "internal/event names — these can never be payload"
            )

    def _sig_and_schema(path: str):
        """``(signature, read_schema)`` for one file. Files with EQUAL
        signatures are type-compatible and share one multi-path scan —
        the batched mode's 10k-small-files shape reads them all in a
        handful of Spark jobs instead of one scan + checkpoint per file.
        The signature is driver-side metadata only (CSV header line,
        parquet footer / JSON inference only under ``evolve``)."""
        if fmt == "debezium":
            # envelopes all decode against the table payload: every file is
            # type-compatible, so batched mode reads the whole load as ONE
            # multi-path text scan
            return ("debezium", ()), payload
        if fmt in ("parquet", "orc"):
            # both are footer-schema'd columnar formats: read
            # schema-projected against the table, evolve from the footer
            read_schema = payload
            sig: tuple = ()
            if evolve:
                known = {f.name for f in payload.fields}
                footer = getattr(spark.read, fmt)(path).schema
                extra = [f for f in footer.fields if f.name not in known]
                if extra:
                    _check_new(path, [f.name for f in extra])
                    # file's own footer types; absent payload cols read null
                    read_schema = T.StructType([*payload.fields, *extra])
                    sig = tuple((f.name, f.dataType.simpleString())
                                for f in extra)
            return (fmt, sig), read_schema
        if fmt == "csv":
            # CSV is POSITIONAL: reading a column-subset file against the
            # full table schema would mark every row corrupt (header
            # length != schema size). Type the file by its OWN header.
            import csv as _csv

            with open(path, newline="") as fh:
                header = next(_csv.reader(
                    [fh.readline()], delimiter=options.get("sep", ",")
                ))
            by_name = {f.name: f for f in payload.fields}
            unknown = [h for h in header if h not in by_name]
            if unknown and not evolve:
                raise ValueError(
                    f"COPY INTO file {os.path.basename(path)!r} has "
                    f"column(s) {unknown} not in the table schema — "
                    "ALTER TABLE … ADD COLUMN first, fix the header, or "
                    "opt into schema evolution with WITH (evolve = 1)"
                )
            if unknown:
                _check_new(path, unknown)
                # one inference pass over THIS file types the new columns;
                # merge_schemas then gates the evolution (add-only/widen)
                inferred = {
                    f.name: f.dataType
                    for f in spark.read.csv(
                        path, header=True, inferSchema=True, **options
                    ).schema.fields
                }
                by_name = {
                    **by_name,
                    **{h: T.StructField(h, inferred.get(h, T.StringType()),
                                        True) for h in unknown},
                }
            file_schema = T.StructType([by_name[h] for h in header])
            return ("csv", tuple((f.name, f.dataType.simpleString())
                                 for f in file_schema.fields)), file_schema
        # JSON is name-based: absent fields are null, not corrupt
        read_schema = payload
        sig = ()
        if evolve:
            known = {f.name for f in payload.fields}
            extra = [f for f in spark.read.json(path, **options)
                     .schema.fields if f.name not in known
                     and f.name != "_corrupt_record"]
            if extra:
                _check_new(path, [f.name for f in extra])
                read_schema = T.StructType([*payload.fields, *extra])
                sig = tuple((f.name, f.dataType.simpleString())
                            for f in extra)
        return ("json", sig), read_schema

    def _read_group(paths: list[str], read_schema: T.StructType):
        """(valid, corrupt|None) for a signature group, typed against the
        table — ONE scan over all the group's files."""
        if fmt == "debezium":
            # decode envelopes into change events carrying their SOURCE op
            # + LSN; defects become quarantine-shaped rows the merge's own
            # DLQ gates (bad_op / null_conv_id / null_op_lsn) — corrupt
            # handling needs no second channel here
            return from_debezium(spark.read.text(list(paths)), payload), None
        if fmt in ("parquet", "orc"):
            reader = spark.read.schema(read_schema)
            return getattr(reader, fmt)(*paths), None
        if fmt == "csv":
            df = read_csv_typed(spark, paths, read_schema, **options)
        else:
            df = read_json_typed(spark, paths, read_schema, **options)
        # checkpoint: Spark refuses corrupt-column-only queries on raw
        # CSV/JSON scans (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — and the
        # split below reads the parse twice anyway
        df = df.localCheckpoint(eager=True)
        return (
            df.filter(F.col("_corrupt").isNull()).drop("_corrupt"),
            df.filter(F.col("_corrupt").isNotNull()),
        )

    def _read_one(path: str):
        """(valid, corrupt|None) for one file (per-file commit mode)."""
        _, read_schema = _sig_and_schema(path)
        return _read_group([path], read_schema)

    def _quarantine(corrupt, epoch_id: int) -> int:
        n_bad = corrupt.count() if corrupt is not None else 0
        if n_bad:
            # same layout + overwrite-per-epoch contract as the merge DLQ,
            # so read_quarantine/repair work unchanged
            qdir = os.path.join(table.root, "_quarantine", query_id,
                                f"epoch={epoch_id}")
            (corrupt.withColumn("_reason", F.lit("corrupt_record"))
             .write.mode("overwrite").parquet(qdir))
        return n_bad

    out = {"files_loaded": 0, "files_skipped": 0, "rows_loaded": 0,
           "rows_quarantined": 0, "lsn": None}
    tags = {p: f"{os.path.relpath(p, tag_root)}:{os.path.getsize(p)}"
            for p in files}

    # The loaded set, derived the same way in BOTH modes (mode interop +
    # crash safety): file tags persisted in snapshot stats by every COPY
    # commit (authoritative through the commit-vs-ledger crash window,
    # O(retained snapshots) driver JSON — the same cost class as the
    # epoch-key index every writer consults), unioned with the ledger's
    # recorded tags (durable past snapshot expiry).
    ledger = Ledger(table.root, query_id)
    ledger_tags: set[str] = set()
    for e in ledger.entries():
        offs = e.get("offsets") or {}
        ledger_tags.update(offs.get("files") or [])
        if offs.get("file"):
            ledger_tags.add(offs["file"])
    loaded: set[str] = set(ledger_tags)
    pref = f"{query_id}:"
    for sid in table.snapshot_ids():
        s = table.snapshot(sid)
        if not (s.epoch_key and s.epoch_key.startswith(pref)):
            continue
        ctags = s.stats.get("copy_files") or []
        if ctags and not set(ctags) <= ledger_tags:
            # a crash between commit and ledger record lost this load's
            # entry: backfill it so the durable record survives snapshot
            # expiry (re-recording an epoch id is idempotent)
            ledger.record(int(s.epoch_key.rsplit(":", 1)[1]),
                          s.snapshot_id, offsets={"files": sorted(ctags)})
            ledger_tags.update(ctags)
        loaded.update(ctags)

    if not per_file:
        pending = [
            p for p in files
            if tags[p] not in loaded
            and f"{query_id}:{_fid(tags[p])}" not in committed
        ]
        out["files_skipped"] = len(files) - len(pending)
        if not pending:
            return out
        batch_tags = sorted(tags[p] for p in pending)
        bid = _fid("+".join(batch_tags))
        # group type-compatible files into shared scans: N same-header CSVs
        # become ONE read + ONE checkpoint, not N
        groups: dict[tuple, list[str]] = {}
        schemas: dict[tuple, T.StructType] = {}
        for p in pending:
            sig, sch = _sig_and_schema(p)
            groups.setdefault(sig, []).append(p)
            schemas[sig] = sch
        parts = [_read_group(ps, schemas[sig]) for sig, ps in groups.items()]
        valid = parts[0][0]
        for v, _ in parts[1:]:
            valid = valid.unionByName(v, allowMissingColumns=True)
        corrupts = [c for _, c in parts if c is not None]
        if corrupts:
            allc = corrupts[0]
            for c in corrupts[1:]:
                allc = allc.unionByName(c, allowMissingColumns=True)
            out["rows_quarantined"] = _quarantine(allc, bid)
        if fmt == "debezium":
            lsn, events = None, valid  # events carry their SOURCE op + LSN
        else:
            lsn = max_live_lsn(table) + 1
            events = valid.withColumn("op", F.lit("upsert")).withColumn(
                "op_lsn", F.lit(lsn).cast("long")
            )
        snap = merge_batch(table, events, query_id=query_id, epoch_id=bid,
                           offsets={"files": batch_tags},
                           extra_stats={"copy_files": batch_tags})
        if snap is None:
            # a racing loader committed this very pending set mid-run; its
            # copy_files stats make the next run's derivation (which also
            # backfills any lost ledger entry) skip these files
            out["files_skipped"] += len(pending)
            return out
        out["files_loaded"] = len(pending)
        out["rows_loaded"] = snap.stats.get("rows_in") or 0
        # debezium defects dead-letter through the merge's own DLQ (precise
        # reasons) — surface them in the load summary all the same
        out["rows_quarantined"] += snap.stats.get("invalid_events") or 0
        out["lsn"] = lsn
        return out

    for path in files:
        tag = tags[path]
        fid = _fid(tag)
        if tag in loaded or f"{query_id}:{fid}" in committed:
            out["files_skipped"] += 1
            continue
        valid, corrupt = _read_one(path)
        out["rows_quarantined"] += _quarantine(corrupt, fid)
        if fmt == "debezium":
            lsn, events = None, valid  # events carry their SOURCE op + LSN
        else:
            lsn = max_live_lsn(table) + 1
            events = valid.withColumn("op", F.lit("upsert")).withColumn(
                "op_lsn", F.lit(lsn).cast("long")
            )
        snap = merge_batch(
            table, events, query_id=query_id, epoch_id=fid,
            offsets={"file": tag}, extra_stats={"copy_files": [tag]},
        )
        if snap is None:  # raced another loader to this very file
            out["files_skipped"] += 1
            continue
        out["files_loaded"] += 1
        out["rows_loaded"] += snap.stats.get("rows_in") or 0
        out["rows_quarantined"] += snap.stats.get("invalid_events") or 0
        out["lsn"] = lsn
    return out
