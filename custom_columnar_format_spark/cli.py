"""CLI with the reference's exact command surface (reference cli.py:33-43):

    python -m custom_columnar_format_spark.cli csv_to_custom in.csv out.scbf
    python -m custom_columnar_format_spark.cli custom_to_csv f.scbf out.csv [--cols a b]

plus engine extensions the reference lacks. Both conversions run in this
process through the codec, with no JVM. The import parses the CSV straight
into Arrow string columns (no Python row lists), infers and converts them
with ``scbf.inference``'s Arrow-column forms and compresses the blocks on
one thread per core; the result is one plain ``.scbf`` file byte-readable
by the reference's reader. The export reads v1 and v2 files. A dataset
directory converts through the DataFrame API instead (see the README).

Schema inference follows Spark semantics (all-rows sampling) by default;
``--compat-inference`` reproduces the reference's first-non-empty-value rule
(reference writer.py:41-47) via ``scbf.inference``.
"""

from __future__ import annotations

import argparse
import csv as _csv
import os
import sys


def _get_spark(cpus: str = "*"):
    """(session, owned): reuse the caller's active session when one exists —
    and never stop a session the CLI doesn't own (stopping a shared session
    out from under a host application would be hostile)."""
    from pyspark.sql import SparkSession

    existing = SparkSession.getActiveSession()
    if existing is not None:
        return existing, False
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("scbf-cli")
        .getOrCreate()
    ), True


def _read_csv_strings(path: str):
    """(header, columns): the first record's fields verbatim (duplicates
    allowed, a UTF-8 BOM dropped) and one Arrow string column per field over
    the remaining records. Every cell stays a string — Arrow's own type
    inference would read ``"007"`` as 7 — and an empty cell is ``""``, never
    null. Blank lines are skipped; a record with too few or too many fields,
    or a file with no record at all, raises ``ScbfError``."""
    import pyarrow as pa
    import pyarrow.csv as pacsv

    from .scbf.codec import ScbfError

    # Only the field count is taken from Python's reader; Arrow tokenizes
    # the header with the data, under positional column keys.
    with open(path, newline="", encoding="utf-8") as f:
        first = next(filter(None, _csv.reader(f)), None)
    if first is None:
        raise ScbfError(f"{path}: empty CSV file (no header record)")
    keys = [str(i) for i in range(len(first))]
    try:
        table = pacsv.read_csv(
            path,
            # one thread: error messages then carry the record number
            read_options=pacsv.ReadOptions(column_names=keys, use_threads=False),
            parse_options=pacsv.ParseOptions(newlines_in_values=True),
            convert_options=pacsv.ConvertOptions(
                column_types=dict.fromkeys(keys, pa.large_string()),
                strings_can_be_null=False,
                quoted_strings_can_be_null=False,
            ),
        )
    except pa.ArrowInvalid as e:  # "Row #N: Expected 3 columns, got 2: <record>"
        raise ScbfError(f"{path}: {e}") from None
    return [c[0].as_py() for c in table.columns], [c.slice(1) for c in table.columns]


def csv_to_custom(args) -> None:
    import pyarrow as pa

    from .scbf import codec, inference

    header, strings = _read_csv_strings(args.csv_path)
    infer = inference.infer_compat_arrow if args.compat_inference else inference.infer_full_arrow
    types = infer(strings)
    table = pa.Table.from_arrays(
        [inference.parse_arrow(c, t) for c, t in zip(strings, types)], names=header
    )
    codec.write_arrow_table(
        args.out_path,
        table,
        level=args.compression_level,
        workers=len(os.sched_getaffinity(0)),
    )


def custom_to_csv(args) -> None:
    from .scbf.codec import ScbfError
    from .scbf.reader_api import SCBFReader

    if os.path.isdir(args.file_path):
        raise ScbfError(
            f"{args.file_path} is a directory: custom_to_csv converts one .scbf file; "
            f'read a dataset with spark.read.format("scbf").load(dir)'
        )
    with SCBFReader(args.file_path) as r:
        if args.cols:
            data = r.read_columns(args.cols)
            names = list(data)
            rows = zip(*data.values())
        else:
            names, rows = r.read_all()
    with open(args.out_path, "w", newline="", encoding="utf-8") as f:
        w = _csv.writer(f)
        w.writerow(names)
        w.writerows(rows)


def _column_compression(groups, j: int):
    """(stored bytes, raw bytes, encoding kinds) of column ``j`` summed over
    ``groups`` (footer block sets), from the footer alone. Raw bytes are the
    values before any encoding and compression (None for v1, whose block
    sizes are advisory); the kinds are ``dictionary``, the lightweight
    encodings (``delta``, ``for``, ``shuffle``, ``dec``) or ``plain``."""
    import numpy as np

    from .scbf.codec_v2 import _NP_DTYPES

    stored, raw, kinds = 0, 0, set()
    for g in groups:
        cm = g["columns"][j]
        if cm.get("dict"):
            kinds.add("dictionary")
        for role, ref in cm["blocks"].items():
            stored += ref["comp"]
            enc = ref.get("enc")
            if enc is None:
                raw = None if raw is None or ref["uncomp"] is None else raw + ref["uncomp"]
                if role in ("data", "indices"):
                    kinds.add("plain")
                continue
            kinds.update({enc["kind"], enc.get("int", enc["kind"])})
            itemsize = 4 if role == "indices_enc" else np.dtype(_NP_DTYPES[cm["type"]]).itemsize
            raw = None if raw is None else raw + g["rows"] * itemsize
    return stored, raw, sorted(kinds) or ["plain"]


def inspect(args) -> None:
    """Engine extension: print schema/rows/compression of an SCBF file
    without touching data blocks (header + metadata only). ``--head N``
    additionally previews the first N rows (or, with ``--cols``, the
    first N values of each requested column) through the pure-Python
    codec path — the reference's reader demo surface
    (reference reader.py:164-198), no Spark session."""
    from .scbf.reader_api import SCBFReader

    with SCBFReader(args.file_path) as r:
        print(f"rows: {r.num_rows}")
        stored_total = raw_total = 0
        for j, cm in enumerate(r.meta["columns"]):
            stored, raw, kinds = _column_compression(r.groups, j)
            stored_total += stored
            raw_total = None if raw is None else raw_total + raw
            raw_s = "" if raw is None else f" raw={raw}"
            print(f"  {cm['name']}: {cm['type']}  stored={stored}{raw_s} enc={','.join(kinds)}")
        raw_s = "" if raw_total is None else f" raw={raw_total}"
        print(f"blocks: stored={stored_total}{raw_s} codec={r.meta.get('codec', 'zlib')}")
        if args.head:
            if args.cols:
                data = r.read_columns(args.cols)
                for k, v in data.items():
                    print(f"--- Column: {k} ({len(v)} rows) ---")
                    print(v[: args.head])
            else:
                names, rows = r.read_all()
                print("Columns:", names)
                print(f"First {args.head} rows:")
                for row in rows[: args.head]:
                    print(row)


def compact_cmd(args) -> None:
    """Table maintenance from the command line (operators/compact.py)."""
    from .operators import compact as compact_op
    from .sources.scbf_datasource import register

    spark, owned = _get_spark()
    register(spark)
    try:
        stats = compact_op.compact(
            spark,
            args.path,
            target_files=args.target_files,
            rows_per_file=args.rows_per_file,
            sort_by=args.sort_by.split(",") if args.sort_by else None,
            zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            rows_per_group=args.rows_per_group,
        )
        print(stats)
    finally:
        if owned:
            spark.stop()


def vacuum_cmd(args) -> None:
    from .operators import vacuum

    if args.recover:
        print({"recovered": vacuum.recover(args.path)})
    print(vacuum.vacuum(args.path, older_than_seconds=args.older_than))


def snapshot_cmd(args) -> None:
    from .operators import snapshot

    if args.action == "create":
        m = snapshot.create_snapshot(args.path, tag=args.tag)
        print({"snapshot_id": m["snapshot_id"], "files": len(m["files"])})
    elif args.action == "list":
        for m in snapshot.list_snapshots(args.path):
            print(
                {"snapshot_id": m["snapshot_id"], "tag": m.get("tag"), "files": len(m["files"])}
            )
    elif args.action == "rollback":
        print(snapshot.rollback(args.path, args.snapshot))
    elif args.action == "expire":
        print({"expired": snapshot.expire_snapshots(args.path, keep_last=args.keep_last)})


def ivf_cmd(args) -> None:
    """IVF embedding-store maintenance from the command line — the ops
    surface of operators/similarity.py's store lifecycle (init-generational
    / compact / rebuild / vacuum-generations / heal / info). Engine
    extension; the reference has no similarity search (SURVEY.md §2.2)."""
    from .operators import similarity

    if args.action == "init-generational":
        print({"generation_dir": similarity.ivf_init_generational(args.path)})
        return
    if args.action == "vacuum-generations":
        print({"removed": similarity.ivf_vacuum_generations(args.path, keep=args.keep_last)})
        return
    if args.action == "heal":
        print({"action": similarity.ivf_rebuild_heal(args.path)})
        return
    if args.action == "info":
        gen = similarity.ivf_current_generation(args.path)
        cent = similarity.ivf_store_centroids(args.path)
        print({
            "layout": "generational" if gen else "flat",
            "current_generation": gen,
            "data_dir": similarity._resolve_store(args.path),
            "quantizer": list(cent.shape) if cent is not None else None,
        })
        return

    spark, owned = _get_spark()
    try:
        if args.action == "compact":
            print(similarity.ivf_compact_store(spark, args.path))
        elif args.action == "rebuild":
            cent, stats = similarity.ivf_rebuild_store(
                spark, args.path, nlist=args.nlist, sample_cap=args.sample_cap
            )
            print(stats)
    finally:
        if owned:
            spark.stop()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="scbf", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    c2s = sub.add_parser("csv_to_custom", help="CSV → SCBF")
    c2s.add_argument("csv_path")
    c2s.add_argument("out_path")
    c2s.add_argument("--compression-level", type=int, default=6)
    c2s.add_argument("--compat-inference", action="store_true",
                     help="reference-compatible first-non-empty-value type inference")
    c2s.set_defaults(fn=csv_to_custom)

    s2c = sub.add_parser("custom_to_csv", help="SCBF → CSV, optionally projecting columns")
    s2c.add_argument("file_path")
    s2c.add_argument("out_path")
    s2c.add_argument("--cols", nargs="+", default=None)
    s2c.set_defaults(fn=custom_to_csv)

    ins = sub.add_parser("inspect", help="print schema, row count and per-column compression (metadata-only read)")
    ins.add_argument("file_path")
    ins.add_argument("--head", type=int, default=0, metavar="N",
                     help="also preview the first N rows (codec path, no Spark)")
    ins.add_argument("--cols", nargs="+", default=None,
                     help="with --head: preview only these columns, reference demo style")
    ins.set_defaults(fn=inspect)

    cp = sub.add_parser("compact", help="rewrite small files; optional (z-)ordering")
    cp.add_argument("path")
    cp.add_argument("--target-files", type=int, default=None)
    cp.add_argument("--rows-per-file", type=int, default=None)
    cp.add_argument("--sort-by", default=None, help="comma-separated sort columns")
    cp.add_argument("--zorder-by", default=None, help="comma-separated Morton-cluster columns")
    cp.add_argument("--rows-per-group", type=int, default=None,
                    help="write v2 files with intra-file row groups of this many rows")
    cp.set_defaults(fn=compact_cmd)

    vc = sub.add_parser("vacuum", help="remove orphaned scratch; optionally heal crashed swaps")
    vc.add_argument("path")
    vc.add_argument("--older-than", type=float, default=3600.0)
    vc.add_argument("--recover", action="store_true",
                    help="first restore any only-copy backups from crashed swaps")
    vc.set_defaults(fn=vacuum_cmd)

    sn = sub.add_parser("snapshot", help="create/list/rollback/expire dataset snapshots")
    sn.add_argument("action", choices=["create", "list", "rollback", "expire"])
    sn.add_argument("path")
    sn.add_argument("--tag", default=None)
    sn.add_argument("--snapshot", default=None, help="id or tag (rollback)")
    sn.add_argument("--keep-last", type=int, default=1)
    sn.set_defaults(fn=snapshot_cmd)

    iv = sub.add_parser("ivf", help="IVF embedding-store maintenance "
                        "(init-generational/compact/rebuild/vacuum-generations/heal/info)")
    iv.add_argument("action", choices=["init-generational", "compact", "rebuild",
                                       "vacuum-generations", "heal", "info"])
    iv.add_argument("path")
    iv.add_argument("--nlist", type=int, default=16, help="rebuild: quantizer size")
    iv.add_argument("--sample-cap", type=int, default=50_000,
                    help="rebuild: bounded training-sample size")
    iv.add_argument("--keep-last", type=int, default=1,
                    help="vacuum-generations: superseded generations to retain")
    iv.set_defaults(fn=ivf_cmd)

    args = p.parse_args(argv)
    args.fn(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
