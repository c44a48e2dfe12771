"""Command-line entry points (reference run.py:20-96 parity).

The reference ships a CLI that backfills dumps into the lake and leaves
querying to DuckDB; here both halves are first-class:

    python -m discogs_etl_spark backfill DUMP.xml.gz [...] --lake ROOT
        [--checksums CHECKSUM.txt]
    python -m discogs_etl_spark query "SELECT ... FROM releases ..."
        --lake ROOT [--limit N]
    python -m discogs_etl_spark compact --lake ROOT --type release

`query` registers every entity prefix present under the lake root as a
temp view (plural names — releases/artists/labels/masters, matching the
reference's lake layout README.md:9-47) and prints one JSON line per
result row.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from discogs_etl_spark.lake import _PLURAL_TO_TYPE, compact_lake, read_lake
from discogs_etl_spark.session import get_spark


def _cmd_backfill(args) -> int:
    from discogs_etl_spark.pipeline import audit_table, backfill, land_dumps
    from discogs_etl_spark.sources.manifest import parse_checksum_manifest

    spark = get_spark(app_name="discogs-etl-backfill")
    checksums = None
    if args.checksums:
        with open(args.checksums) as f:
            checksums = parse_checksum_manifest(spark, f.read())
    dumps = args.dumps
    urls = [d for d in dumps if "://" in d]
    if urls:
        if not args.landing_dir:
            print("error: URL dumps require --landing-dir", file=sys.stderr)
            return 2
        landed = {u: d.path for u, d in zip(urls, (land_dumps(urls, args.landing_dir)))}
        dumps = [landed.get(d, d) for d in dumps]
    results = backfill(spark, dumps, args.lake, checksums=checksums)
    for row in audit_table(spark, results).toJSON().collect():
        print(row)
    bad = [r for r in results if r.checksum_ok is False]
    return 1 if bad else 0


def _cmd_query(args) -> int:
    from discogs_etl_spark.lake import fs_exists

    spark = get_spark(app_name="discogs-etl-query")
    for plural, data_type in _PLURAL_TO_TYPE.items():
        # Hadoop FS, not os.path: the lake root may be s3a://
        if fs_exists(spark, os.path.join(args.lake, plural)):
            read_lake(spark, args.lake, data_type).createOrReplaceTempView(plural)
    df = spark.sql(args.sql)
    if args.limit:
        df = df.limit(args.limit)
    for row in df.toJSON().collect():
        print(row)
    return 0


def _cmd_compact(args) -> int:
    spark = get_spark(app_name="discogs-etl-compact")
    n = compact_lake(spark, args.lake, args.type, target_file_mb=args.target_mb)
    print(json.dumps({"rewritten_partitions": n}))
    return 0


def _cmd_profile(args) -> int:
    from discogs_etl_spark.curation import profile_table

    spark = get_spark(app_name="discogs-etl-profile")
    if args.type:
        df = read_lake(spark, args.lake, args.type)
    else:
        df = spark.read.parquet(args.lake)
    for row in profile_table(df).toJSON().collect():
        print(row)
    return 0


def _cmd_dedup(args) -> int:
    from discogs_etl_spark.curation import dedup_corpus, dedup_media

    if args.real_decode and args.method != "phash":
        # fail loud rather than silently ignore a decode request the
        # text methods cannot honor
        print("--real-decode only applies to --method phash", file=sys.stderr)
        return 2
    spark = get_spark(app_name="discogs-etl-dedup")
    df = spark.read.parquet(args.input)
    if args.method == "phash":
        survivors, report = dedup_media(
            spark,
            df,
            id_col=args.id,
            payload_col=args.text,
            max_bucket=args.max_bucket,
            real=args.real_decode,
        )
    else:
        survivors, report = dedup_corpus(
            spark,
            df,
            id_col=args.id,
            text_col=args.text,
            method=args.method,
            max_bucket=args.max_bucket,
        )
    survivors.write.mode("overwrite").parquet(args.output)
    print(report.toJSON().collect()[0])
    return 0


def _cmd_search(args) -> int:
    from discogs_etl_spark.curation import search_corpus

    spark = get_spark(app_name="discogs-etl-search")
    df = spark.read.parquet(args.input)
    hits = search_corpus(
        spark, df, args.query, id_col=args.id, text_col=args.text, k=args.k
    )
    for row in hits.toJSON().collect():
        print(row)
    return 0


def _cmd_cluster(args) -> int:
    from discogs_etl_spark.curation import cluster_corpus

    spark = get_spark(app_name="discogs-etl-cluster")
    df = spark.read.parquet(args.input)
    assigned = cluster_corpus(
        spark, df, id_col=args.id, vec_col=args.vec, k=args.k, iters=args.iters
    )
    assigned.write.mode("overwrite").parquet(args.output)
    # size report from the WRITTEN parquet — recomputing `assigned` would
    # re-run all Lloyd iterations a second time
    sizes = (
        spark.read.parquet(args.output)
        .groupBy("cluster")
        .count()
        .orderBy("cluster")
        .toJSON()
        .collect()
    )
    for row in sizes:
        print(row)
    return 0


def _cmd_validate(args) -> int:
    from discogs_etl_spark.curation import validate_table

    spark = get_spark(app_name="discogs-etl-validate")
    if args.type:
        df = read_lake(spark, args.input, args.type)
    else:
        df = spark.read.parquet(args.input)
    report = validate_table(spark, df, args.rules.split(","))
    # ONE action: the exit code comes from the same collected rows the
    # report prints — a second .count() would re-run the full scan
    import json as _json

    rows = report.toJSON().collect()
    for row in rows:
        print(row)
    failed = sum(1 for row in rows if _json.loads(row)["passed"] == 0)
    return 1 if failed else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="discogs_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("backfill", help="dump files/URLs → partitioned lake")
    b.add_argument(
        "dumps", nargs="+", help="local dump files or http(s):// URLs (.xml.gz)"
    )
    b.add_argument("--lake", required=True, help="lake root directory")
    b.add_argument("--checksums", help="CHECKSUM.txt manifest file")
    b.add_argument(
        "--landing-dir", help="directory URL dumps are landed into before parsing"
    )
    b.set_defaults(fn=_cmd_backfill)

    q = sub.add_parser("query", help="SQL over the lake (views: releases, ...)")
    q.add_argument("sql")
    q.add_argument("--lake", required=True)
    q.add_argument("--limit", type=int, default=0)
    q.set_defaults(fn=_cmd_query)

    c = sub.add_parser("compact", help="rewrite small files per partition")
    c.add_argument("--lake", required=True)
    c.add_argument("--type", required=True, choices=sorted(_PLURAL_TO_TYPE.values()))
    c.add_argument("--target-mb", type=int, default=128)
    c.set_defaults(fn=_cmd_compact)

    p = sub.add_parser("profile", help="per-column profile of a lake table or parquet path")
    p.add_argument("--lake", required=True, help="lake root (with --type) or a parquet path")
    p.add_argument("--type", choices=sorted(_PLURAL_TO_TYPE.values()))
    p.set_defaults(fn=_cmd_profile)

    d = sub.add_parser(
        "dedup",
        help="deduplicate a parquet corpus (exact or minhash text dedup, "
        "or phash media dedup over a binary column)",
    )
    d.add_argument("--input", required=True, help="input parquet path")
    d.add_argument("--output", required=True, help="output parquet path (survivors)")
    d.add_argument("--id", default="doc_id", help="numeric unique id column")
    d.add_argument(
        "--text",
        default="text",
        help="content column (the binary payload column for --method phash)",
    )
    d.add_argument("--method", default="minhash", choices=["exact", "minhash", "phash"])
    d.add_argument(
        "--real-decode",
        action="store_true",
        help="phash only: hash DECODED PIXELS (stdlib PNG decode -> 8x8 "
        "mean-threshold aHash) instead of the deterministic byte-token "
        "stand-in; payloads must be supported PNGs",
    )
    d.add_argument(
        "--max-bucket",
        type=int,
        default=None,
        help="LSH skew guard (minhash/phash): drop buckets with more members "
        "than this from pair generation (their docs survive; the report "
        "counts skipped buckets and the distinct documents they contained)",
    )
    d.set_defaults(fn=_cmd_dedup)

    s = sub.add_parser("search", help="BM25 search over a parquet text corpus")
    s.add_argument("--input", required=True, help="input parquet path")
    s.add_argument("--query", required=True, help="free-text query")
    s.add_argument("--id", default="doc_id", help="unique id column")
    s.add_argument("--text", default="text", help="content column")
    s.add_argument("--k", type=int, default=10, help="results to return")
    s.set_defaults(fn=_cmd_search)

    k = sub.add_parser("cluster", help="deterministic k-means over a parquet vector corpus")
    k.add_argument("--input", required=True, help="input parquet path")
    k.add_argument("--output", required=True, help="output parquet path (id, cluster, dist)")
    k.add_argument("--id", default="vec_id", help="numeric unique id column")
    k.add_argument("--vec", default="embedding", help="vector (array) column")
    k.add_argument("--k", type=int, default=8, help="number of clusters")
    k.add_argument("--iters", type=int, default=3, help="Lloyd iterations")
    k.set_defaults(fn=_cmd_cluster)

    v = sub.add_parser(
        "validate",
        help="data-quality constraint report (exit 1 on any failed check)",
    )
    v.add_argument("--input", required=True, help="parquet path or lake root (with --type)")
    v.add_argument("--type", choices=sorted(_PLURAL_TO_TYPE.values()))
    v.add_argument(
        "--rules",
        required=True,
        help="comma list: not_null:col | unique:col | range:col:lo:hi"
             " | in_set:col:a|b | before:col:ts",
    )
    v.set_defaults(fn=_cmd_validate)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
