"""Workspace CLI — the reference's ``rasteret collections ...`` surface
(`/root/reference/src/rasteret/cli.py`: build/list/info/delete/import over a
local workspace of named collections) re-expressed over the Spark engine.

A workspace is a directory of named parquet collections (each written by
``sources.catalog.write_images`` — partitioned, GeoParquet-taggable).
Commands:

    python -m rasteret_spark.cli collections build NAME --records PATH
        [--bbox xmin,ymin,xmax,ymax] [--date-range start,end] [--workspace DIR]
    python -m rasteret_spark.cli collections list   [--workspace DIR] [--json]
    python -m rasteret_spark.cli collections info NAME [--workspace DIR] [--json]
    python -m rasteret_spark.cli collections delete NAME [--workspace DIR]
    python -m rasteret_spark.cli collections import SRC NAME [--workspace DIR]

``build`` ingests an existing image-records parquet with optional bbox/date
narrowing; a ``--records`` path ending in ``.ndjson`` or ``.jsonl`` is a
static catalog of newline-delimited STAC items instead, parsed on the
executors (``stac.records_from_ndjson``).  STAC items from an API search
enter through the library (``Collection.from_stac_items``), kept out of the
CLI so the tool never needs network access.  ``main`` accepts an injected
SparkSession for tests/embedding; standalone runs create one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

DEFAULT_WORKSPACE = os.path.expanduser("~/.rasteret_spark")


def _parse_bbox(value: str) -> tuple[float, float, float, float]:
    parts = [float(v) for v in value.split(",")]
    if len(parts) != 4:
        raise argparse.ArgumentTypeError("bbox must be xmin,ymin,xmax,ymax")
    return tuple(parts)  # type: ignore[return-value]


def _parse_date_range(value: str) -> tuple[str, str]:
    parts = value.split(",")
    if len(parts) != 2:
        raise argparse.ArgumentTypeError("date range must be start,end")
    return parts[0], parts[1]


def _collection_path(workspace: str, name: str) -> str:
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid collection name {name!r}")
    return os.path.join(workspace, name)


def _names(workspace: str) -> list[str]:
    if not os.path.isdir(workspace):
        return []
    return sorted(
        n for n in os.listdir(workspace)
        if os.path.isdir(os.path.join(workspace, n)) and not n.startswith(".")
    )


def _summary(spark, path: str, name: str) -> dict:
    # plain read, not the image-table contract: a collection built from STAC
    # items holds asset hrefs, not blobs
    from rasteret_spark.collection import Collection

    d = Collection(spark, spark.read.parquet(path)).describe()
    return {"name": name, "path": path, **d}


def _emit(rows, as_json: bool, out) -> None:
    if as_json:
        print(json.dumps(rows, default=str), file=out)
        return
    if isinstance(rows, dict):
        rows = [rows]
    for r in rows:
        print("  ".join(f"{k}={r[k]}" for k in r), file=out)


def cmd_build(args, spark, out) -> int:
    from rasteret_spark.collection import Collection

    if args.records.endswith((".ndjson", ".jsonl")):
        from rasteret_spark.sources import stac

        c = Collection(spark, stac.records_from_ndjson(spark, args.records))
    else:
        c = Collection.from_parquet(spark, args.records)
    c = c.subset(bbox=args.bbox, date_range=args.date_range)
    dst = _collection_path(args.workspace, args.name)
    if os.path.exists(dst) and not args.overwrite:
        print(f"collection {args.name!r} exists (use --overwrite)", file=sys.stderr)
        return 2
    c.export(dst)
    _emit(_summary(spark, dst, args.name), args.json, out)
    return 0


def cmd_list(args, spark, out) -> int:
    rows = [
        _summary(spark, os.path.join(args.workspace, n), n)
        for n in _names(args.workspace)
    ]
    _emit(rows, args.json, out)
    return 0


def cmd_info(args, spark, out) -> int:
    path = _collection_path(args.workspace, args.name)
    if not os.path.isdir(path):
        print(f"no collection {args.name!r} in {args.workspace}", file=sys.stderr)
        return 2
    _emit(_summary(spark, path, args.name), args.json, out)
    return 0


def cmd_delete(args, spark, out) -> int:
    path = _collection_path(args.workspace, args.name)
    if not os.path.isdir(path):
        print(f"no collection {args.name!r} in {args.workspace}", file=sys.stderr)
        return 2
    shutil.rmtree(path)
    print(f"deleted {args.name}", file=out)
    return 0


def cmd_import(args, spark, out) -> int:
    from rasteret_spark.collection import Collection

    dst = _collection_path(args.workspace, args.name)
    if os.path.exists(dst) and not args.overwrite:
        print(f"collection {args.name!r} exists (use --overwrite)", file=sys.stderr)
        return 2
    Collection.from_parquet(spark, args.src).export(dst)
    _emit(_summary(spark, dst, args.name), args.json, out)
    return 0


def cmd_ingest(args, spark, out) -> int:
    """Build a collection straight from raster FILES (GeoTIFF/BigTIFF/
    mini-raster) — the `rasteret build` workflow over local scenes."""
    from rasteret_spark.sources.rasters import ingest_rasters

    dst = _collection_path(args.workspace, args.name)
    if os.path.exists(dst) and not args.overwrite:
        print(f"collection {args.name!r} exists (use --overwrite)", file=sys.stderr)
        return 2
    # persist: ingest does per-file parse + full band-0 decode + phash — the
    # status report, emptiness check and export below must not each re-run it
    df = ingest_rasters(spark, args.pattern, caption=args.caption).persist()
    try:
        bad = [
            (r["path"], r["ingest_status"])
            for r in df.filter(df.ingest_status != "ok")
            .select("path", "ingest_status")
            .collect()
        ]
        for path, status in bad:
            print(f"skipped {path}: {status}", file=sys.stderr)
        ok = df.filter(df.ingest_status == "ok").drop("path", "ingest_status")
        if ok.limit(1).count() == 0:
            print(f"no ingestible rasters matched {args.pattern!r}", file=sys.stderr)
            return 2
        from rasteret_spark.collection import Collection

        Collection(spark, ok).export(dst)
    finally:
        df.unpersist()
    summary = _summary(spark, dst, args.name)
    summary["skipped_files"] = len(bad)
    _emit(summary, args.json, out)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rasteret-spark")
    sub = p.add_subparsers(dest="command", required=True)
    col = sub.add_parser("collections", help="manage workspace collections")
    csub = col.add_subparsers(dest="subcommand", required=True)

    def common(sp):
        sp.add_argument("--workspace", default=DEFAULT_WORKSPACE)
        sp.add_argument("--json", action="store_true")

    b = csub.add_parser("build", help="build a named collection from a records table")
    b.add_argument("name")
    b.add_argument(
        "--records", required=True,
        help="source records parquet path, or newline-delimited STAC items (.ndjson/.jsonl)",
    )
    b.add_argument("--bbox", type=_parse_bbox, default=None)
    b.add_argument("--date-range", type=_parse_date_range, default=None)
    b.add_argument("--overwrite", action="store_true")
    common(b)
    b.set_defaults(fn=cmd_build)

    ls = csub.add_parser("list", help="list collections with summaries")
    common(ls)
    ls.set_defaults(fn=cmd_list)

    nf = csub.add_parser("info", help="summary of one collection")
    nf.add_argument("name")
    common(nf)
    nf.set_defaults(fn=cmd_info)

    rm = csub.add_parser("delete", help="delete a collection")
    rm.add_argument("name")
    common(rm)
    rm.set_defaults(fn=cmd_delete)

    im = csub.add_parser("import", help="import an external parquet dataset")
    im.add_argument("src")
    im.add_argument("name")
    im.add_argument("--overwrite", action="store_true")
    common(im)
    im.set_defaults(fn=cmd_import)

    ig = csub.add_parser(
        "ingest", help="build a collection from raster files (GeoTIFF/BigTIFF)"
    )
    ig.add_argument("pattern", help="file glob, e.g. /data/scenes/*.tif")
    ig.add_argument("name")
    ig.add_argument("--caption", default="")
    ig.add_argument("--overwrite", action="store_true")
    common(ig)
    ig.set_defaults(fn=cmd_ingest)
    return p


def main(argv=None, spark=None, out=None) -> int:
    args = build_parser().parse_args(argv)
    out = out if out is not None else sys.stdout
    own = spark is None
    if own:
        from rasteret_spark.session import get_spark

        spark = get_spark(app="rasteret-spark-cli")
    try:
        return args.fn(args, spark, out)
    except ValueError as e:  # bad collection name etc: message + rc, no trace
        print(str(e), file=sys.stderr)
        return 2
    finally:
        if own:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
