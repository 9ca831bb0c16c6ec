"""CLI — the reference's three binaries as subcommands.

    python -m mysql_binlog_spark merge    --events E [--start S] [--stop T] --out DIR
    python -m mysql_binlog_spark recover  --events E --table DIR [--epoch-size N]
    python -m mysql_binlog_spark backup   --events-dir E --table DIR --checkpoint C [--continuous]
    python -m mysql_binlog_spark snapshot --table DIR --out DIR [--version V]
    python -m mysql_binlog_spark vacuum   --table DIR [--keep N] [--expire-manifests]
    python -m mysql_binlog_spark binlog-export --table DIR --out DIR
    python -m mysql_binlog_spark binlog-export-changes --table DIR --from-version N --out DIR
    python -m mysql_binlog_spark binlog-apply --dir DIR --driver pymysql --host H

reference: backup/main.go:198-222 (tail+compact), merge/main.go:274-298
(bounded range -> one output), recover/main.go:66-145 (replay to target).
Run via spark-submit --py-files or plain python (local mode).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mysql_binlog_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    m = sub.add_parser("merge", help="bounded range -> one snapshot output")
    m.add_argument("--events", required=True)
    m.add_argument("--start", type=int, default=-1)
    m.add_argument("--stop", type=int, default=None)
    m.add_argument("--out", required=True)

    r = sub.add_parser("recover", help="full replay into a lake table")
    r.add_argument("--events", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--epoch-size", type=int, default=1_000_000)
    # None = adopt the manifest's bucket count (64 for a fresh table);
    # an explicit value mismatching an existing table fails loudly
    r.add_argument("--n-buckets", type=int, default=None)

    b = sub.add_parser("backup", help="stream-tail the changelog dir into the lake")
    b.add_argument("--events-dir", required=True)
    b.add_argument("--table", required=True)
    b.add_argument("--checkpoint", required=True)
    b.add_argument("--continuous", action="store_true")
    b.add_argument("--max-files-per-trigger", type=int, default=4)
    b.add_argument("--n-buckets", type=int, default=None)
    b.add_argument("--timeout-sec", type=int, default=300)
    b.add_argument(
        "--source", default="",
        help="upstream name (GTID-domain analog); streams with distinct "
        "sources and disjoint key spaces may tail one table concurrently",
    )

    s = sub.add_parser("snapshot", help="export table state (optionally a past version)")
    s.add_argument("--table", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--version", type=int, default=None)

    lk = sub.add_parser(
        "lookup", help="bucket-pruned point/prefix read of one key or repo"
    )
    lk.add_argument("--table", required=True)
    lk.add_argument("--repo", required=True)
    lk.add_argument("--path", default=None)
    lk.add_argument("--version", type=int, default=None)
    lk.add_argument("--out", default=None, help="parquet output (default: print rows)")

    v = sub.add_parser("vacuum", help="reclaim unreferenced snapshot files")
    v.add_argument("--table", required=True)
    v.add_argument("--keep", type=int, default=1)
    v.add_argument(
        "--change-retention", type=int, default=None, dest="change_retention",
        help="retire per-epoch change files older than N versions "
        "(advances the changes floor; compacted ranges stay diffable)",
    )
    v.add_argument(
        "--expire-manifests", action="store_true", dest="expire_manifests",
        help="also expire manifest JSONs below the retention window / last "
        "checkpoint rollup (bounds metadata growth on streamed tables; "
        "time travel below the window then fails like Iceberg "
        "expire_snapshots)",
    )

    rb = sub.add_parser(
        "rebucket",
        help="partition evolution: rewrite state into a new hash bucket "
        "count (one committed version; fences/lineage/diff unaffected)",
    )
    rb.add_argument("--table", required=True)
    rb.add_argument("--n-buckets", type=int, required=True, dest="n_buckets")

    cc = sub.add_parser(
        "compact-changes",
        help="rewrite a version range's per-epoch change files into one "
        "net-effect file set (tar-consolidation analog)",
    )
    cc.add_argument("--table", required=True)
    cc.add_argument("--from-version", type=int, required=True, dest="from_version")
    cc.add_argument("--to-version", type=int, default=None, dest="to_version")

    df = sub.add_parser(
        "diff", help="net change set (I/U/D per key) between two committed versions"
    )
    df.add_argument("--table", required=True)
    df.add_argument("--from-version", type=int, required=True, dest="from_version")
    df.add_argument("--to-version", type=int, default=None, dest="to_version")
    df.add_argument("--out", required=True)

    be = sub.add_parser(
        "binlog-export",
        help="export table state (or a past version) as real binlog-v4 "
        "files — magic/FDE/BEGIN/TableMap/8KB rows chunks/XID/rotate with "
        "CRC32 footers, one file per repo, written by the executors",
    )
    be.add_argument("--table", required=True)
    be.add_argument("--out", required=True)
    be.add_argument("--version", type=int, default=None)
    be.add_argument(
        "--max-file-bytes", type=int, default=None, dest="max_file_bytes",
        help="rotate a repo's export at this payload size (bounds writer "
        "memory; default: one file per repo)",
    )

    bec = sub.add_parser(
        "binlog-export-changes",
        help="export the NET-CHANGE set between two versions as binlog-v4 "
        "files: per-op-type passes (WRITE/DELETE/UPDATE rows v2), "
        "size-rotated chg_{start}_{end}.log segments, optional zlib and "
        "per-repo tar consolidation",
    )
    bec.add_argument("--table", required=True)
    bec.add_argument("--from-version", type=int, required=True, dest="from_version")
    bec.add_argument("--to-version", type=int, default=None, dest="to_version")
    bec.add_argument("--out", required=True)
    bec.add_argument(
        "--max-file-bytes", type=int, default=None, dest="max_file_bytes",
        help="rotate segments at this payload size (default: one file/repo)",
    )
    bec.add_argument("--compress", action="store_true",
                     help="zlib whole-stream compression (.log.z)")
    bec.add_argument("--consolidate", action="store_true",
                     help="fold rotated segments into per-repo rolling tars")

    ba = sub.add_parser(
        "binlog-apply",
        help="apply a binlog export directory to a live MySQL through "
        "BINLOG statements in XID-delimited transactions (the reference's "
        "recover executor; needs a DB-API driver such as pymysql or "
        "mysql-connector-python on the PYTHONPATH)",
    )
    ba.add_argument("--dir", required=True, dest="apply_dir")
    ba.add_argument("--driver", default="pymysql",
                    help="DB-API module name (pymysql, mysql.connector, ...)")
    ba.add_argument("--host", default="127.0.0.1")
    ba.add_argument("--port", type=int, default=3306)
    ba.add_argument("--user", default="root")
    ba.add_argument("--password", default="")
    ba.add_argument("--database", default=None)
    ba.add_argument("--max-allowed-packet", type=int, default=4 * 1024 * 1024,
                    dest="max_allowed_packet")

    args = p.parse_args(argv)

    if args.cmd == "binlog-apply":
        # a pure DB-API sink: no Spark session needed (or wanted) here
        import importlib

        from mysql_binlog_spark.sinks.mysql_apply import apply_binlog_dir

        try:
            drv = importlib.import_module(args.driver)
        except ImportError as e:
            print(json.dumps({
                "cmd": "binlog-apply",
                "error": f"DB-API driver {args.driver!r} not importable: {e}",
            }))
            return 2
        kwargs = {"host": args.host, "port": args.port, "user": args.user,
                  "password": args.password}
        if args.database:
            kwargs["database"] = args.database
        report = apply_binlog_dir(
            lambda: drv.connect(**kwargs), args.apply_dir,
            max_allowed_packet=args.max_allowed_packet,
        )
        print(json.dumps({
            "cmd": "binlog-apply", "files": report.files,
            "transactions": report.transactions,
            "rows_statements": report.rows_statements,
            "ddl_statements": report.ddl_statements,
            "packet_growths": report.packet_growths,
        }))
        return 0

    from mysql_binlog_spark.session import get_spark

    spark = get_spark(f"mysql_binlog_spark-{args.cmd}")

    if args.cmd in ("snapshot", "lookup", "diff"):
        from mysql_binlog_spark.lake.table import LakeTable

        # n_buckets=None: adopt the bucket count stored in the manifest
        t = LakeTable(spark, args.table)
        if not t.io.isdir(f"{t.root}/_snapshots"):
            # a read must not report a mistyped path as an empty table
            print(json.dumps({
                "cmd": args.cmd, "error": f"no lake table at {args.table}",
            }))
            return 2

    if args.cmd == "merge":
        from mysql_binlog_spark.operators.collapse import snapshot_from_events
        from mysql_binlog_spark.sources.changelog_source import read_changelog_range

        ev = read_changelog_range(spark, args.events, args.start, args.stop)
        snapshot_from_events(ev).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"cmd": "merge", "out": args.out}))

    elif args.cmd == "recover":
        from mysql_binlog_spark.engine.pipeline import recover
        from mysql_binlog_spark.lake.table import LakeTable

        t = LakeTable(spark, args.table, n_buckets=args.n_buckets)
        rep = recover(spark, args.events, t, epoch_size=args.epoch_size)
        print(
            json.dumps(
                {
                    "cmd": "recover",
                    "epochs_run": rep.epochs_run,
                    "epochs_skipped": rep.epochs_skipped,
                    "events_in": rep.events_in,
                    "events_per_sec": round(rep.events_per_sec, 1),
                }
            )
        )

    elif args.cmd == "backup":
        from mysql_binlog_spark.lake.table import LakeTable
        from mysql_binlog_spark.streaming import stream_ingest

        t = LakeTable(spark, args.table, n_buckets=args.n_buckets)
        q = stream_ingest(
            spark,
            args.events_dir,
            t,
            checkpoint_dir=args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=not args.continuous,
            source=args.source,
        )
        if args.continuous:
            # bounded tail for CLI use; the stream keeps running until the
            # timeout, then is stopped deliberately (still mid-stream by
            # design — resume picks up from the checkpoint)
            q.awaitTermination(args.timeout_sec)
            q.stop()
        else:
            # availableNow drain: wait for completion, however long the
            # backlog takes — a timeout here would report success on a
            # half-ingested run (epoch fencing makes reruns safe, but the
            # exit status must tell the truth)
            q.awaitTermination()
        print(json.dumps({"cmd": "backup", "epochs": len(t.epochs_applied(args.source))}))

    elif args.cmd == "snapshot":
        t.read_state(version=args.version).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"cmd": "snapshot", "out": args.out, "version": args.version}))

    elif args.cmd == "lookup":
        df = t.lookup(args.repo, args.path, version=args.version)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"cmd": "lookup", "out": args.out}))
        else:
            rows = df.collect()
            for r in rows:
                print(json.dumps(r.asDict()))
            print(json.dumps({"cmd": "lookup", "rows": len(rows)}))

    elif args.cmd == "vacuum":
        from mysql_binlog_spark.lake.table import LakeTable

        t = LakeTable(spark, args.table)
        removed = t.vacuum(
            keep_versions=args.keep,
            change_retention_versions=args.change_retention,
            expire_manifests=args.expire_manifests,
        )
        print(json.dumps({"cmd": "vacuum", "files_removed": len(removed)}))

    elif args.cmd == "rebucket":
        from mysql_binlog_spark.lake.table import LakeTable

        t = LakeTable(spark, args.table)
        v = t.rebucket(args.n_buckets)
        print(
            json.dumps(
                {"cmd": "rebucket", "version": v, "n_buckets": args.n_buckets}
            )
        )

    elif args.cmd == "compact-changes":
        from mysql_binlog_spark.lake.table import LakeTable

        t = LakeTable(spark, args.table)
        v_to = args.to_version if args.to_version is not None else t.current_version()
        n = t.compact_changes(args.from_version, v_to)
        print(
            json.dumps(
                {"cmd": "compact-changes", "from": args.from_version,
                 "to": v_to, "files": n}
            )
        )

    elif args.cmd == "diff":
        v_to = args.to_version if args.to_version is not None else t.current_version()
        t.diff(args.from_version, v_to).write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {"cmd": "diff", "from": args.from_version, "to": v_to, "out": args.out}
            )
        )

    elif args.cmd == "binlog-export":
        from pyspark.sql import functions as F

        from mysql_binlog_spark.lake.table import LakeTable
        from mysql_binlog_spark.sinks.binlog_file import write_binlog_files

        t = LakeTable(spark, args.table)
        state = t.read_state(version=args.version)
        for c in ("commit", "lang", "content"):
            if c not in state.columns:
                state = state.withColumn(c, F.lit(None).cast("string"))
        manifest = write_binlog_files(
            state.select("repo", "path", "commit", "lang", "content"), args.out,
            max_file_bytes=args.max_file_bytes,
        ).collect()
        print(
            json.dumps(
                {
                    "cmd": "binlog-export",
                    "out": args.out,
                    "files": len(manifest),
                    "rows": sum(r["n_rows"] for r in manifest),
                }
            )
        )

    elif args.cmd == "binlog-export-changes":
        from mysql_binlog_spark.lake.table import LakeTable
        from mysql_binlog_spark.sinks.binlog_file import (
            consolidate_netchange_exports,
            write_netchange_binlog_files,
        )

        t = LakeTable(spark, args.table)
        v_to = args.to_version if args.to_version is not None else t.current_version()
        chg = t.diff(args.from_version, v_to, keep_lineage=True)
        manifest = write_netchange_binlog_files(
            chg, args.out, max_file_bytes=args.max_file_bytes,
            compress=args.compress,
        ).collect()
        tars = 0
        if args.consolidate:
            tars = len(consolidate_netchange_exports(spark, args.out).collect())
        print(
            json.dumps(
                {
                    "cmd": "binlog-export-changes",
                    "out": args.out,
                    "from": args.from_version,
                    "to": v_to,
                    "files": len(manifest),
                    "rows": sum(r["n_rows"] for r in manifest),
                    "tars": tars,
                }
            )
        )

    return 0


if __name__ == "__main__":
    sys.exit(main())
