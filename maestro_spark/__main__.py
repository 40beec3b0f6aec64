"""CLI — the spark-submit entry surface (north_rule: run via
``spark-submit --py-files maestro_spark.zip -m`` or plain ``python -m``).

Subcommands:
  gen     --out DIR [--events N] [--seed S] [--epochs K] [--evolve FRAC]
          [--shards P]   (P>1: executor-parallel generation, cluster-scale)
  replay  --log DIR --table DIR [--buckets B] [--query-id ID]
          [--segments-per-epoch K]
  stream  --log DIR --table DIR [--continuous INTERVAL]
  show    --table DIR [--limit N] [--snapshot ID]
  changes --table DIR --from-snapshot K [--to-snapshot N] [--limit N] [--all | --scd2]
  compact --table DIR [--tombstone-horizon LSN] [--policy tiered|full]
  sql     "<statement>" --table ROOT[=NAME] [--table …] [--warehouse DIR]
          [--snapshot N]   (statement kinds: maestro_spark.sqldml.STATEMENTS)
  resume-txns --table DIR
  ivm     --table DIR --view DIR [--to-snapshot N] [--keys … --aggs …]
          [--where …] [--dim DIR --dim-on COLS [--dim-how left|inner]]
  lineage --table DIR [--limit N]
  rollback --table DIR --to-snapshot N
  clone   --table DIR --dest DIR [--snapshot N]
  bench   (same contract as bench.py)
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="maestro_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate a seeded CDC event log")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--epochs", type=int, default=4)
    g.add_argument("--evolve", type=float, default=None)
    g.add_argument("--shards", type=int, default=1,
                   help=">1 generates in parallel on the executors")

    r = sub.add_parser("replay", help="batch-replay a log into a lake table")
    r.add_argument("--log", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument("--query-id", default="replay")
    r.add_argument("--segments-per-epoch", type=int, default=1,
                   help="log segments per epoch (use the shard count for sharded logs)")

    s = sub.add_parser("stream", help="stream-ingest a log into a lake table")
    s.add_argument("--log", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--buckets", type=int, default=64)
    s.add_argument("--query-id", default="stream")
    s.add_argument("--continuous", default=None, metavar="INTERVAL",
                   help="processing-time trigger (e.g. '5 seconds'); default availableNow")

    w = sub.add_parser("show", help="read the table's current (or pinned) snapshot")
    w.add_argument("--table", required=True)
    w.add_argument("--limit", type=int, default=20)
    w.add_argument("--snapshot", type=int, default=None)

    ch = sub.add_parser("changes", help="incremental change feed between snapshots")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-snapshot", type=int, required=True, dest="from_snapshot")
    ch.add_argument("--to-snapshot", type=int, default=None, dest="to_snapshot")
    ch.add_argument("--limit", type=int, default=20)
    ch.add_argument("--all", action="store_true", dest="all_changes",
                    help="every retained version (collapse=False), not the net feed")
    ch.add_argument("--scd2", action="store_true",
                    help="type-2 history: validity intervals + is_current")

    c = sub.add_parser("compact", help="compact data files / GC tombstones")
    c.add_argument("--table", required=True)
    c.add_argument("--tombstone-horizon", type=int, default=None)
    c.add_argument("--policy", choices=["tiered", "full"], default="full",
                   help="tiered = fold only the delta tier (no horizon GC); "
                        "full = whole-bucket rewrite (required for GC)")

    op = sub.add_parser(
        "optimize",
        help="one-call maintenance: tiered fold (or clustered rewrite), "
             "bloom backfill, snapshot expiry, vacuum",
    )
    op.add_argument("--table", required=True)
    op.add_argument("--keep-last", type=int, default=10)
    op.add_argument("--cluster-by", default=None,
                    help="comma-separated sort columns for a clustered FULL "
                         "rewrite (e.g. ts); default = tiered delta fold")
    op.add_argument("--target-file-rows", type=int, default=None)
    op.add_argument("--no-blooms", action="store_true")
    op.add_argument("--zorder", action="store_true",
                    help="Morton-interleave the --cluster-by columns so "
                         "EVERY one keeps tight per-file zone-map bounds")

    rt = sub.add_parser(
        "resume-txns",
        help="roll forward crash-interrupted cross-table transactions",
    )
    rt.add_argument("--table", required=True, help="the coordinator table")

    iv = sub.add_parser(
        "ivm", help="refresh a materialized view off the change feed "
                    "(default: the per-conversation stats view; pass "
                    "--keys/--aggs to declare your own)"
    )
    iv.add_argument("--table", required=True)
    iv.add_argument("--view", required=True)
    iv.add_argument("--to-snapshot", type=int, default=None, dest="to_snapshot")
    iv.add_argument("--keys", default=None,
                    help="comma-separated GROUP BY columns (declarative view)")
    iv.add_argument("--aggs", default=None,
                    help="SQL aggregate list, each aliased — e.g. "
                         "\"count(1) AS n_turns, max(ts) AS last_ts\"")
    iv.add_argument("--columns", default=None,
                    help="comma-separated base columns the aggs touch "
                         "(scan pruning; default: all payload columns)")
    iv.add_argument("--query-id", default="ivm-view", dest="ivm_query_id",
                    help="epoch-key namespace for a declarative view")
    iv.add_argument("--where", default=None,
                    help="pre-aggregation SQL filter for a declarative view")
    iv.add_argument("--dim", default=None,
                    help="dim lake-table root for broadcast enrichment")
    iv.add_argument("--dim-on", default=None, dest="dim_on",
                    help="comma-separated equi-join columns onto --dim")
    iv.add_argument("--dim-how", default="left", dest="dim_how",
                    choices=["left", "inner"])

    ln = sub.add_parser("lineage", help="per-epoch lineage/metrics rollup")
    ln.add_argument("--table", required=True)
    ln.add_argument("--limit", type=int, default=50)

    rb = sub.add_parser("rollback", help="revert to an earlier snapshot (forward-only)")
    rb.add_argument("--table", required=True)
    rb.add_argument("--to-snapshot", type=int, required=True, dest="to_snapshot")

    cl = sub.add_parser("clone", help="zero-copy clone a snapshot to a new table")
    cl.add_argument("--table", required=True)
    cl.add_argument("--dest", required=True)
    cl.add_argument("--snapshot", type=int, default=None)

    rk = sub.add_parser("rebucket", help="re-hash the table into a new bucket count")
    rk.add_argument("--table", required=True)
    rk.add_argument("--buckets", type=int, required=True)

    lk = sub.add_parser("lookup", help="point-read one conversation (one-bucket scan)")
    lk.add_argument("--table", required=True)
    lk.add_argument("--conv-id", required=True, dest="conv_id")
    lk.add_argument("--turn", type=int, default=None)

    bi = sub.add_parser(
        "bloom-index",
        help="backfill per-file key blooms for point-lookup pruning (serving prep)",
    )
    bi.add_argument("--table", required=True)

    pg = sub.add_parser("purge", help="right-to-be-forgotten: erase a conversation's content")
    pg.add_argument("--table", required=True)
    pg.add_argument("--conv-id", required=True, dest="conv_id")

    ad = sub.add_parser("adopt", help="write-audit-publish: fast-forward main to an audited branch")
    ad.add_argument("--table", required=True)
    ad.add_argument("--branch", required=True)

    hi = sub.add_parser("history", help="snapshot chain (metadata table)")
    hi.add_argument("--table", required=True)
    hi.add_argument("--limit", type=int, default=50)

    al = sub.add_parser(
        "alter",
        help="ALTER TABLE (all metadata-only): --add name:type | "
             "--rename old:new | --drop name [--erase = immediate RTBF "
             "rewrite instead of the deferred-excision mask]",
    )
    al.add_argument("--table", required=True)
    al.add_argument("--add", default=None, metavar="NAME:TYPE")
    al.add_argument("--rename", default=None, metavar="OLD:NEW")
    al.add_argument("--drop", default=None, metavar="NAME")
    al.add_argument("--erase", action="store_true",
                    help="with --drop: rewrite now (RTBF) instead of masking")

    de = sub.add_parser(
        "describe",
        help="one-call table report: schema, layout, snapshot, tags, "
             "constraints, size totals (metadata-only)",
    )
    de.add_argument("--table", required=True)

    cn = sub.add_parser(
        "constraint",
        help="CHECK constraints: --name/--expr adds (validated against "
             "current data), --drop removes; violating writes dead-letter "
             "as constraint:<name>",
    )
    cn.add_argument("--table", required=True)
    cn.add_argument("--name", default=None)
    cn.add_argument("--expr", default=None)
    cn.add_argument("--drop", default=None)

    tg = sub.add_parser(
        "tag",
        help="named snapshot refs: create/move/drop/list (tagged snapshots "
             "survive expiry+vacuum until the tag is dropped)",
    )
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", default=None,
                    help="tag to create (default: pin the current snapshot)")
    tg.add_argument("--snapshot", type=int, default=None)
    tg.add_argument("--replace", action="store_true")
    tg.add_argument("--drop", default=None, help="tag name to remove")

    fi = sub.add_parser("files", help="live data files + zone-map stats (metadata table)")
    fi.add_argument("--table", required=True)
    fi.add_argument("--limit", type=int, default=50)

    ex = sub.add_parser("export", help="exactly-once snapshot export to plain parquet")
    ex.add_argument("--table", required=True)
    ex.add_argument("--dest", required=True)
    ex.add_argument("--snapshot", type=int, default=None)

    ec = sub.add_parser("export-changes", help="incremental change-feed export (cursor-advanced)")
    ec.add_argument("--table", required=True)
    ec.add_argument("--dest", required=True)

    sq = sub.add_parser(
        "sql", help="ANSI SQL over lake tables (MOR-resolved temp views)"
    )
    sq.add_argument("query", help="SQL text; FROM names come from --table/--warehouse")
    sq.add_argument(
        "--table", action="append", default=[], metavar="ROOT[=NAME]",
        help="lake root to expose, optionally as view NAME (default: basename); repeatable",
    )
    sq.add_argument(
        "--warehouse", default=None,
        help="register every lake table under this dir (plus <name>__files/"
             "<name>__history metadata views) before running the query",
    )
    sq.add_argument("--snapshot", type=int, default=None,
                    help="pin every view to this snapshot id (time travel)")
    sq.add_argument("--limit", type=int, default=20)

    se = sub.add_parser(
        "search", help="term/AND/BM25/phrase search via a maintained inverted text index"
    )
    se.add_argument("table", help="lake table root")
    se.add_argument("query", help="search text (term mode wants a single token)")
    se.add_argument(
        "--index", default=None,
        help="index dir (default <table>/_text_idx); created on first use, "
             "kept O(delta) fresh off the change feed",
    )
    se.add_argument("--mode", choices=["term", "and", "bm25", "phrase"], default="bm25")
    se.add_argument("--bm25-mode", choices=["or", "and"], default="or",
                    help="token combination for --mode bm25")
    se.add_argument("-k", type=int, default=10)
    se.add_argument("--text-col", default="text")
    se.add_argument("--no-refresh", action="store_true",
                    help="probe the index as-is (skip the O(delta) refresh)")

    sub.add_parser("bench", help="run the benchmark contract (bench.py)")

    args = p.parse_args(argv)

    if args.cmd == "bench":
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import bench

        bench.main()
        return 0

    from maestro_spark.session import get_spark

    if args.cmd == "gen":
        from maestro_spark.gen import GenConfig, generate, write_log

        if args.shards > 1:
            from maestro_spark.gen import write_log_distributed

            spark = get_spark("maestro-gen")
            spark.sparkContext.setLogLevel("ERROR")
            seg = max(1, args.events // (args.shards * args.epochs))
            cfg = GenConfig(seed=args.seed, n_convs=max(5, args.events // 21),
                            evolution_at=args.evolve, segment_rows=seg)
            n = write_log_distributed(spark, cfg, args.out, n_shards=args.shards)
            spark.stop()
            print(json.dumps({"events": n, "shards": args.shards, "dir": args.out,
                              "segments_per_epoch": args.shards}))
            return 0
        cfg = GenConfig(seed=args.seed, n_convs=max(5, args.events // 21),
                        evolution_at=args.evolve)
        log = generate(cfg)
        seg = max(1, (len(log) + args.epochs - 1) // args.epochs)
        paths = write_log(log, args.out, segment_rows=seg)
        print(json.dumps({"events": len(log), "segments": len(paths), "dir": args.out}))
        return 0

    spark = get_spark(f"maestro-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    from maestro_spark.lake import LakeTable

    if args.cmd == "replay":
        from maestro_spark.replay import replay

        table = (
            LakeTable(spark, args.table)
            if os.path.exists(f"{args.table}/_snapshots")
            else LakeTable.create(spark, args.table, n_buckets=args.buckets)
        )
        n = replay(spark, args.log, table, query_id=args.query_id,
                   segments_per_epoch=args.segments_per_epoch)
        snap = table.snapshot()
        print(json.dumps({"epochs_committed": n, "snapshot": snap.snapshot_id,
                          "stats": snap.stats}))
    elif args.cmd == "stream":
        from maestro_spark.stream import stream_ingest, throughput_metrics

        if not os.path.exists(f"{args.table}/_snapshots"):
            LakeTable.create(spark, args.table, n_buckets=args.buckets)
        q = stream_ingest(
            spark, args.log, args.table, query_id=args.query_id,
            available_now=args.continuous is None,
            processing_time=args.continuous,
        )
        if args.continuous is None:
            print(json.dumps({"microbatches": throughput_metrics(q)}))
        else:
            q.awaitTermination()
    elif args.cmd == "show":
        table = LakeTable(spark, args.table)
        df = table.read(snapshot_id=args.snapshot).orderBy("conv_id", "turn_idx")
        df.show(args.limit, truncate=40)
        print(json.dumps({"rows": df.count(), "snapshot": table.snapshot().snapshot_id}))
    elif args.cmd == "changes":
        table = LakeTable(spark, args.table)
        if args.scd2:
            feed = table.scd2(args.from_snapshot, args.to_snapshot)
        else:
            feed = table.changes(args.from_snapshot, args.to_snapshot,
                                 collapse=not args.all_changes)
        feed.orderBy("conv_id", "turn_idx").show(args.limit, truncate=40)
        print(json.dumps({
            "changes": feed.count(),
            "from_snapshot": args.from_snapshot,
            "to_snapshot": args.to_snapshot
            if args.to_snapshot is not None
            else table.snapshot().snapshot_id,
        }))
    elif args.cmd == "compact":
        table = LakeTable(spark, args.table)
        if args.policy == "tiered":
            if args.tombstone_horizon is not None:
                raise SystemExit("tombstone GC requires --policy full "
                                 "(a partial fold could resurrect rows)")
            snap = table.compact_tiered()
        else:
            snap = table.compact(tombstone_horizon_lsn=args.tombstone_horizon)
        if snap is None:
            print(json.dumps({"snapshot": None, "note": "no foldable tier"}))
        else:
            print(json.dumps({"snapshot": snap.snapshot_id, "stats": snap.stats}))
    elif args.cmd == "optimize":
        from maestro_spark.lake import optimize

        table = LakeTable(spark, args.table)
        print(json.dumps(optimize(
            table,
            expire_keep_last=args.keep_last,
            cluster_by=args.cluster_by.split(",") if args.cluster_by else None,
            target_file_rows=args.target_file_rows,
            blooms=not args.no_blooms,
            zorder=args.zorder,
        )))
    elif args.cmd == "resume-txns":
        table = LakeTable(spark, args.table)
        print(json.dumps({"resumed": table.resume_transactions()}))
    elif args.cmd == "lineage":
        from maestro_spark.lineage import lineage_summary

        table = LakeTable(spark, args.table)
        s = lineage_summary(table)
        s.show(args.limit, truncate=False)
        print(json.dumps({"epochs": s.count()}))
    elif args.cmd == "rollback":
        table = LakeTable(spark, args.table)
        snap = table.rollback(args.to_snapshot)
        print(json.dumps({"snapshot": snap.snapshot_id, "stats": snap.stats,
                          "rows": table.read().count()}))
    elif args.cmd == "rebucket":
        table = LakeTable(spark, args.table)
        snap = table.rebucket(args.buckets)
        print(json.dumps({"snapshot": snap.snapshot_id, "stats": snap.stats,
                          "rows": table.read().count()}))
    elif args.cmd == "clone":
        table = LakeTable(spark, args.table)
        out = table.clone(args.dest, snapshot_id=args.snapshot)
        print(json.dumps({"dest": args.dest, "rows": out.read().count(),
                          "stats": out.snapshot().stats}))
    elif args.cmd == "export":
        table = LakeTable(spark, args.table)
        print(json.dumps(table.export(args.dest, snapshot_id=args.snapshot)))
    elif args.cmd == "export-changes":
        table = LakeTable(spark, args.table)
        print(json.dumps(table.export_changes(args.dest)))
    elif args.cmd == "history":
        table = LakeTable(spark, args.table)
        df = table.meta_snapshots().orderBy("snapshot_id", ascending=False)
        df.show(args.limit, truncate=60)
        print(json.dumps({"snapshots": df.count()}))
    elif args.cmd == "alter":
        from maestro_spark import ddl

        table = LakeTable(spark, args.table)
        out = {}
        if args.add:
            name, _, dtype = args.add.partition(":")
            out["add"] = ddl.add_column(table, name, dtype or "string").snapshot_id
        if args.rename:
            old, _, new = args.rename.partition(":")
            out["rename"] = ddl.rename_column(table, old, new).snapshot_id
        if args.drop:
            out["drop"] = ddl.drop_column(
                table, args.drop, erase=args.erase
            ).snapshot_id
        out["schema"] = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in table.snapshot().payload_schema().fields
        ]
        print(json.dumps(out))
    elif args.cmd == "describe":
        from maestro_spark.lake import describe

        print(json.dumps(describe(LakeTable(spark, args.table))))
    elif args.cmd == "constraint":
        table = LakeTable(spark, args.table)
        out = {}
        if args.drop:
            out["dropped"] = table.drop_constraint(args.drop)
        if args.name and args.expr:
            table.add_constraint(args.name, args.expr)
            out["added"] = args.name
        out["constraints"] = table.constraints()
        print(json.dumps(out))
    elif args.cmd == "tag":
        table = LakeTable(spark, args.table)
        out = {}
        if args.drop:
            out["dropped"] = table.drop_tag(args.drop)
        if args.name:
            out["pinned"] = {
                args.name: table.tag(
                    args.name, snapshot_id=args.snapshot, replace=args.replace
                )
            }
        out["tags"] = table.tags()
        print(json.dumps(out))
    elif args.cmd == "files":
        table = LakeTable(spark, args.table)
        df = table.meta_files().orderBy("bucket", "commit_seq")
        df.show(args.limit, truncate=60)
        print(json.dumps({"files": df.count()}))
    elif args.cmd == "lookup":
        table = LakeTable(spark, args.table)
        df = table.lookup(args.conv_id, turn_idx=args.turn).orderBy("turn_idx")
        df.show(100, truncate=40)
        _, cand, total = table.plan_lookup(args.conv_id)
        print(json.dumps({
            "rows": df.count(), "conv_id": args.conv_id,
            "files_scanned": len(cand), "bucket_files": total,
        }))
    elif args.cmd == "bloom-index":
        table = LakeTable(spark, args.table)
        built = table.build_key_blooms()
        print(json.dumps({"blooms_built": built}))
    elif args.cmd == "purge":
        table = LakeTable(spark, args.table)
        snap = table.purge(args.conv_id)
        print(json.dumps({
            "snapshot": snap.snapshot_id, "stats": snap.stats,
            "note": "content erased from the live snapshot; run "
                    "expire_snapshots+vacuum (or `compact`) to drop history",
        }))
    elif args.cmd == "adopt":
        table = LakeTable(spark, args.table)
        branch = LakeTable(spark, args.branch)
        snap = table.adopt(branch)
        print(json.dumps({"snapshot": snap.snapshot_id,
                          "rows": table.read().count()}))
    elif args.cmd == "sql":
        from maestro_spark import sqldml
        from maestro_spark.lake import register_catalog, warehouse_sql

        st, groups = sqldml.classify(args.query)
        if st.owner == sqldml.WAREHOUSE:
            # CREATE/DROP TABLE, CTAS, SHOW TABLES, DESCRIBE TABLE and
            # cross-table scripts run over the warehouse catalog
            if not args.warehouse:
                raise SystemExit(f"sql: {st.kind} needs --warehouse")
            df = warehouse_sql(spark, args.warehouse, args.query)
            df.show(args.limit, truncate=40)
            print(json.dumps({"rows": df.count(),
                              "warehouse": args.warehouse}))
            spark.stop()
            return 0

        views = []
        if args.warehouse:
            views.extend(register_catalog(spark, args.warehouse))
        tables: dict[str, LakeTable] = {}
        for spec in args.table:
            root, _, name = spec.partition("=")
            view = name or os.path.basename(os.path.normpath(root))
            tables[view] = LakeTable(spark, root)
            tables[view].create_view(view, snapshot_id=args.snapshot)
            views.append(view)
        if not views:
            raise SystemExit("sql: pass --table and/or --warehouse")
        if st.owner is None:  # a SELECT over the registered views
            df = spark.sql(args.query)
            df.show(args.limit, truncate=40)
            print(json.dumps({"rows": df.count(), "views": views}))
        else:
            # every other kind runs through its owning --table view's door
            view = sqldml.owner(args.query,
                                {v: t.root for v, t in tables.items()})
            df = (st.shape(spark, None) if view is None else
                  tables[view].sql(args.query, name=view,
                                   snapshot_id=args.snapshot))
            if df.columns[0] in ("dropped_view", "dropped_index"):
                out = {"dropped": df.head()[0]}
            elif df.columns == ["op", "summary"]:  # OPTIMIZE/VACUUM, COPY
                out = json.loads(df.head()["summary"])
            elif st.family == "index":
                row = df.head()
                out = {"kind": row["index"], "root": row["root"],
                       "applied_through": row["applied_through"]}
            elif st.family == "materialized_view":
                out = {"view_root": sqldml._derived_root(
                    groups["path"], tables[view].root, st.family),
                    "rows": df.count()}
            else:
                df.show(args.limit, truncate=40)
                out = {"rows": df.count(),
                       "snapshot": tables[view].snapshot().snapshot_id}
                if st.family == "ddl":
                    out["schema"] = df.columns
            print(json.dumps({st.family: True, "view": view, **out}))
    elif args.cmd == "search":
        from maestro_spark.index_maint import MaintainedTextIndex

        table = LakeTable(spark, args.table)
        idx_dir = args.index or os.path.join(
            os.path.normpath(args.table), "_text_idx"
        )
        idx = MaintainedTextIndex(spark, table, idx_dir, text_col=args.text_col)
        if not args.no_refresh:
            idx.refresh()
        if args.mode == "term":
            df = idx.search(args.query, k=args.k)
        elif args.mode == "and":
            df = idx.search_all(args.query, k=args.k)
        elif args.mode == "phrase":
            df = idx.search_phrase(args.query, k=args.k)
        else:
            df = idx.search_bm25(args.query, k=args.k, mode=args.bm25_mode)
        df.show(args.k, truncate=40)
        print(json.dumps({"hits": df.count(), "mode": args.mode, "index": idx_dir}))
    elif args.cmd == "ivm":
        from maestro_spark.ivm import ConvStatsView, MaterializedView

        table = LakeTable(spark, args.table)
        if bool(args.keys) != bool(args.aggs):
            raise SystemExit("ivm: --keys and --aggs go together")
        if args.keys:
            from pyspark.sql import functions as _F

            from maestro_spark.sqldml import _split_top

            # depth-aware split (an agg like percentile(x, 0.5) holds
            # commas); each item carries its alias — Spark's own parser
            # handles the expression dialect
            aggs = [_F.expr(part) for part in _split_top(args.aggs)]
            view = MaterializedView(
                spark, table, args.view,
                key_cols=[k.strip() for k in args.keys.split(",")],
                aggs=aggs,
                columns=(
                    [c.strip() for c in args.columns.split(",")]
                    if args.columns else None
                ),
                query_id=args.ivm_query_id,
                where=args.where,
                dim=LakeTable(spark, args.dim) if args.dim else None,
                dim_on=([c.strip() for c in args.dim_on.split(",")]
                        if args.dim_on else None),
                dim_how=args.dim_how,
            )
        else:
            if args.where or args.dim:
                raise SystemExit("ivm: --where/--dim need --keys/--aggs")
            view = ConvStatsView(spark, table, args.view)
        snap = view.refresh(to_snapshot=args.to_snapshot)
        print(json.dumps({
            "refreshed": snap is not None,
            "applied_through": view.applied_through(),
            "view_rows": view.read().count(),
        }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
