"""spark-submit entrypoint for LakeTable administration — the DDL and
maintenance surface an operator runs against a live CDC table without
stopping the stream (every operation is one atomic snapshot commit;
concurrent readers keep their snapshot):

    cd /root/repo && zip -r /tmp/etl_rs_spark.zip etl_rs_spark
    spark-submit --py-files /tmp/etl_rs_spark.zip \
        jobs/table_admin_job.py --table /data/transcripts <command> ...

Commands:
    describe                              print schema/spec/files summary
    rename-column  --from old --to new    metadata-only (field-id) rename
    drop-column    --column c             lazy drop (compaction finishes)
    add-column     --column c --type t    additive with a fresh field id
    set-num-buckets --num-buckets N       partition-spec evolution
                                          (metadata-only; N must divide or
                                          be a multiple of every live spec)
    compact        [--buckets 1,2,...] [--tombstone-horizon LSN]
    expire-snapshots [--keep-last K]
    vacuum         [--older-than-s S]
    lookup         --keys k1,k2,...       bucket-pruned point lookup
    create-tag     --name t [--at-version V]  pin a snapshot (Iceberg
                                          tag): survives expire-snapshots
    drop-tag       --name t               unpin; next expiry reclaims it
    create-branch  --name b               fork a branch at the current tip
                                          (Iceberg CREATE BRANCH; WAP)
    drop-branch    --name b               discard a branch; expiry reclaims
    fast-forward   --from b               publish: move main to b's tip
                                          (rejects if main diverged)
    delete         --where "p"            row-level DELETE via LWW
                                          tombstones (CDF-visible, GDPR)
    update         --set c=expr [...]     row-level UPDATE via re-emitted
                   [--where "p"]          winners (expr sees the old row)
    analyze        [--columns a,b] [--exact]  per-column null/NDV/min/max
                                          stats committed into metadata
    inspect        --kind files|snapshots|refs|manifests|partitions (Iceberg
                                          t.files / t.snapshots / t.refs)

Every command accepts --branch B to operate on branch B instead of main
(e.g. compact an audit branch before publishing it).

The reference stores rename/partition-evolution knobs and never applies
them (/root/reference/src/load/delta.rs:62-69); here each is a real,
atomically-committed operation.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="LakeTable admin")
    p.add_argument("--table", required=True)
    p.add_argument("--branch", default=None,
                   help="operate on this branch instead of main")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("describe")

    r = sub.add_parser("rename-column")
    r.add_argument("--from", dest="old", required=True)
    r.add_argument("--to", dest="new", required=True)

    d = sub.add_parser("drop-column")
    d.add_argument("--column", required=True)

    a = sub.add_parser("add-column")
    a.add_argument("--column", required=True)
    a.add_argument("--type", dest="typ", required=True)

    s = sub.add_parser("set-num-buckets")
    s.add_argument("--num-buckets", type=int, required=True)

    c = sub.add_parser("compact")
    c.add_argument("--buckets", default=None,
                   help="comma-separated current-spec bucket ids; omit "
                        "for a full rewrite")
    c.add_argument("--tombstone-horizon", type=int, default=None,
                   help="drop tombstones with lsn <= horizon (safe once "
                        "no replay can deliver at or below it)")

    rb = sub.add_parser("rollback")
    rb.add_argument("--to-version", type=int, required=True)

    sp = sub.add_parser("set-property")
    sp.add_argument(
        "--prop",
        action="append",
        required=True,
        metavar="KEY=VALUE",
        help="repeatable; KEY= (empty value) unsets the key",
    )

    e = sub.add_parser("expire-snapshots")
    e.add_argument("--keep-last", type=int, default=5)

    v = sub.add_parser("vacuum")
    v.add_argument("--older-than-s", type=float, default=3 * 3600)

    af = sub.add_parser("add-files")
    af.add_argument("--paths", required=True,
                    help="comma-separated parquet files or directories "
                         "to register in place (Iceberg add_files / "
                         "migrate: metadata-only, no data copied; "
                         "compact afterwards to bucket the import)")

    lk = sub.add_parser("lookup")
    lk.add_argument("--keys", required=True)
    lk.add_argument("--limit", type=int, default=100)

    tg = sub.add_parser("create-tag")
    tg.add_argument("--name", required=True)
    tg.add_argument("--at-version", type=int, default=None,
                    help="version to pin (default: current)")
    tg.add_argument("--max-age-ms", type=int, default=None,
                    help="Iceberg RETAIN / max-ref-age-ms: expiry drops "
                         "the tag once its snapshot is this old "
                         "(default: pinned until dropped)")

    dt = sub.add_parser("drop-tag")
    dt.add_argument("--name", required=True)

    cb = sub.add_parser("create-branch")
    cb.add_argument("--name", required=True)
    cb.add_argument("--max-age-ms", type=int, default=None,
                    help="Iceberg max-ref-age-ms: expiry drops the "
                         "branch once its TIP is this old, so a "
                         "forgotten audit branch cannot pin history "
                         "forever (default: pinned until dropped)")
    cb.add_argument("--at-version", type=int, default=None,
                    help="historical fork point (default: current tip; "
                         "historical forks are inspect/backfill-only — "
                         "they cannot fast-forward)")

    db = sub.add_parser("drop-branch")
    db.add_argument("--name", required=True)

    ff = sub.add_parser("fast-forward")
    ff.add_argument("--from", dest="src", required=True,
                    help="branch whose tip to publish onto --branch/main")

    ins = sub.add_parser("inspect")
    ins.add_argument("--kind", required=True,
                     choices=["files", "snapshots", "refs", "manifests",
                              "partitions"],
                     help="metadata table to print (Iceberg t.files / "
                          "t.snapshots / t.refs / t.manifests / "
                          "t.partitions)")
    ins.add_argument("--limit", type=int, default=100)

    an = sub.add_parser("analyze")
    an.add_argument("--columns", default=None,
                    help="comma-separated subset (default: all columns)")
    an.add_argument("--exact", action="store_true",
                    help="exact NDV instead of HyperLogLog approx")

    de = sub.add_parser("delete")
    de.add_argument("--where", required=True,
                    help="SQL predicate over the table's columns; "
                         "matching rows become LWW tombstones through "
                         "the merge (CDF-visible, replay-safe)")

    up = sub.add_parser("update")
    up.add_argument("--set", action="append", required=True,
                    metavar="COL=SQL_EXPR",
                    help="repeatable; expression sees the pre-update row")
    up.add_argument("--where", default=None)

    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)

    from etl_rs_spark.session import get_spark
    from etl_rs_spark.sinks.lake import LakeTable, _file_spec

    spark = get_spark("table-admin")
    t = LakeTable.load(spark, args.table)
    if args.branch:
        t = t.on_branch(args.branch)

    if args.cmd == "describe":
        snap = t.current()
        out = {
            "version": snap.version,
            "schema": {
                f.name: f.dataType.simpleString()
                for f in snap.schema().fields
            },
            "field_ids": snap.field_ids,
            "epoch": snap.epoch,
            "num_buckets": snap.num_buckets,
            "live_specs": sorted(
                {_file_spec(f, snap) for f in snap.files}
            ),
            "files": len(snap.files),
            "delta_files": sum(
                1 for f in snap.files if f.get("kind") == "delta"
            ),
            "rows": sum(f.get("rows", 0) for f in snap.files),
            "watermark_lsn": snap.watermark_lsn,
            "props": snap.props,
            "tags": t.tags(),
            "branch": snap.branch,
            "branches": t.branches(),
            "stats": snap.stats,
        }
    elif args.cmd == "rename-column":
        out = t.rename_column(args.old, args.new)
    elif args.cmd == "drop-column":
        out = t.drop_column(args.column)
    elif args.cmd == "add-column":
        out = t.add_column(args.column, args.typ)
    elif args.cmd == "set-num-buckets":
        out = t.set_num_buckets(args.num_buckets)
    elif args.cmd == "compact":
        buckets = (
            [int(x) for x in args.buckets.split(",")]
            if args.buckets
            else None
        )
        out = t.compact(
            tombstone_lsn_horizon=args.tombstone_horizon, buckets=buckets
        )
    elif args.cmd == "rollback":
        out = t.rollback(args.to_version)
    elif args.cmd == "set-property":
        props = {}
        for kv in args.prop:
            k, _, v = kv.partition("=")
            props[k] = v if v != "" else None
        out = t.set_properties(props)
    elif args.cmd == "expire-snapshots":
        out = t.expire_snapshots(keep_last=args.keep_last)
    elif args.cmd == "vacuum":
        out = t.vacuum_orphans(older_than_s=args.older_than_s)
    elif args.cmd == "add-files":
        out = t.add_files(args.paths.split(","))
    elif args.cmd == "lookup":
        rows = t.lookup(args.keys.split(",")).limit(args.limit).collect()
        out = {"rows": [r.asDict() for r in rows]}
    elif args.cmd == "create-tag":
        out = t.create_tag(
            args.name, version=args.at_version, max_age_ms=args.max_age_ms
        )
    elif args.cmd == "drop-tag":
        out = t.drop_tag(args.name)
    elif args.cmd == "create-branch":
        out = t.create_branch(
            args.name, version=args.at_version, max_age_ms=args.max_age_ms
        )
    elif args.cmd == "drop-branch":
        out = t.drop_branch(args.name)
    elif args.cmd == "fast-forward":
        out = t.fast_forward(args.src)
    elif args.cmd == "inspect":
        df = {
            "files": t.inspect_files,
            "snapshots": t.inspect_snapshots,
            "refs": t.inspect_refs,
            "manifests": t.inspect_manifests,
            "partitions": t.inspect_partitions,
        }[args.kind]()
        out = {"rows": [r.asDict() for r in df.limit(args.limit).collect()]}
    elif args.cmd == "analyze":
        out = t.analyze(
            columns=args.columns.split(",") if args.columns else None,
            exact=args.exact,
        )
    elif args.cmd == "delete":
        out = t.delete_where(args.where)
    elif args.cmd == "update":
        sets = dict(kv.split("=", 1) for kv in args.set)
        out = t.update_where(sets, args.where)
    else:  # pragma: no cover - argparse enforces choices
        raise SystemExit(2)

    print(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
