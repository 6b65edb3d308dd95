"""CLI parity with the reference tool suite, Spark-powered.

    python -m warctools_spark.cli <tool> [options] <input...>

tools (1:1 with the reference commands):
  warcindex   [--cdx] <warcs...>          index lines (CDX w/ --cdx)
  warccdxj    -o DIR [--zipnum] <warcs..> sorted CDXJ shards / ZipNum
  warcfilter  [-U|-T|-C|-H|-D] [-i] <pattern> <warcs...>
  warcvalid   <warcs...>                  exit 0 iff all records valid
  warcdump    <warcs...>                  human-readable record dump
  warc2warc   [-D] [-Z] [--wget-chunk-fix] -o OUT <warcs...>
                                          rewrite (decode http, gzip)
  arc2warc    -o OUT <arcs...>            convert ARC -> WARC records
  warclinks   <warcs...>                  harvested outlinks to stdout
  warcextract <warc> <offset>             one record's payload to stdout
  warcpayload <warc:offset[,len]>         one record's http body to stdout
  warcunpack  [-o DIR] <warcs...>         unpack log / payload files
  warcwet     [-Z] [-o OUT] <warcs...>    WET conversion records (text)
  corpus      --docs P -o DIR             training-corpus pipeline

Outputs are driven through the same DataFrame operators the engine
uses at cluster scale; stdout rendering mirrors the reference formats
(e.g. warcindex.py:35-49 field order, '-' for missing values).
"""

from __future__ import annotations

import argparse
import sys


def _spark(cpus: str = "*"):
    from warctools_spark.session import get_spark

    spark = get_spark(app="warctools_spark_cli", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _records(spark, paths, fmt="auto"):
    from warctools_spark.sources.warc import expand_files, read_warc

    # reference CLI parity: every tool expands its inputs
    # (hanzo/warctools/__init__.py:8-14) before reading
    return read_warc(spark, expand_files(spark, paths), fmt=fmt)


def cmd_warcindex(args):
    from warctools_spark.operators.archive_ops import warc_index

    spark = _spark(args.cpus)
    out = sys.stdout
    if getattr(args, "cdx", False):
        from warctools_spark.operators.archive_ops import (
            cdx_index,
            records_to_pages,
        )

        out.write(" CDX N b a m s k S\n")
        rows = cdx_index(
            records_to_pages(_records(spark, args.inputs))
        ).orderBy("urlkey", "ts14")
        for r in rows.toLocalIterator():
            out.write(
                "%s %s %s %s %s %s %s\n"
                % (
                    r["urlkey"],
                    r["ts14"],
                    r["original"],
                    r["mime"],
                    r["status"],
                    r["digest"],
                    r["length"],
                )
            )
        return 0
    out.write(
        "#WARC filename offset warc-type warc-subject-uri warc-record-id "
        "content-type content-length\n"
    )
    for r in warc_index(_records(spark, args.inputs)).orderBy(
        "filename", "offset"
    ).toLocalIterator():
        out.write(
            "%s %s %s %s %s %s %s\n"
            % (
                r["filename"],
                r["offset"],
                r["warc_type"],
                r["warc_subject_uri"],
                r["warc_record_id"],
                r["content_type"],
                r["content_length"],
            )
        )
    return 0


def cmd_warcfilter(args):
    from warctools_spark.operators.archive_ops import warc_filter

    mode = "any"
    if args.url:
        mode = "url"
    elif args.type:
        mode = "type"
    elif args.content_type:
        mode = "content_type"
    elif args.http_content_type:
        mode = "http_content_type"
    elif args.warc_date:
        mode = "warc_date"
    spark = _spark(args.cpus)
    hits = warc_filter(
        _records(spark, args.inputs), args.pattern, mode=mode, invert=args.invert
    )
    from warctools_spark.functions.udfs import udf_write_warc
    from pyspark.sql import functions as F

    # file order like the reference's sequential scan (deterministic
    # output across runs/parallelism)
    recs = hits.orderBy("source_file", "offset").select(
        udf_write_warc(
            F.col("record_id"),
            F.col("record_type"),
            F.col("url"),
            F.col("warc_date"),
            F.col("content_type"),
            F.col("content"),
            F.lit(False),
        ).alias("rb")
    )
    for r in recs.toLocalIterator():
        sys.stdout.buffer.write(bytes(r["rb"]))
    return 0


def cmd_warcvalid(args):
    from warctools_spark.operators.archive_ops import warc_valid

    spark = _spark(args.cpus)
    # stream error rows one partition at a time instead of collecting
    # them all: on an archive with systematic errors the error table is
    # input-sized, and a driver-side collect() would OOM long before the
    # scan finishes. toLocalIterator keeps driver memory bounded by one
    # partition; row order (partition order) and the exit code are
    # unchanged.
    any_bad = False
    for r in warc_valid(_records(spark, args.inputs)).toLocalIterator():
        any_bad = True
        print(
            "warc errors at %s:%s %s" % (r["source_file"], r["offset"], r["errors"]),
            file=sys.stderr,
        )
    return 0 if not any_bad else -1


def cmd_warcdump(args):
    from warctools_spark.operators.unpack import record_summary

    spark = _spark(args.cpus)
    for r in record_summary(_records(spark, args.inputs)).orderBy(
        "source_file", "offset"
    ).toLocalIterator():
        print("archive record at %s:%s" % (r["source_file"], r["offset"]))
        print(r["header_text"])
        if r["content_preview"]:
            print("\t" + r["content_preview"][:200])
        print()
    return 0


def cmd_warc2warc(args):
    from warctools_spark.operators.archive_ops import warc2warc_decode

    spark = _spark(args.cpus)
    recs = _records(spark, args.inputs)
    if not args.decode_http:
        from warctools_spark.functions.udfs import udf_write_warc
        from pyspark.sql import functions as F

        out_df = recs.withColumn(
            "record_bytes",
            udf_write_warc(
                F.col("record_id"),
                F.col("record_type"),
                F.col("url"),
                F.col("warc_date"),
                F.col("content_type"),
                F.col("content"),
                F.lit(bool(args.gzip)),
            ),
        )
    else:
        out_df = warc2warc_decode(
            recs,
            gzip_output=bool(args.gzip),
            wget_chunk_fix=bool(args.wget_chunk_fix),
        )
    sink = open(args.output, "wb") if args.output else sys.stdout.buffer
    for r in out_df.orderBy("source_file", "offset").toLocalIterator():
        sink.write(bytes(r["record_bytes"]))
    if args.output:
        sink.close()
    return 0


def cmd_warcwet(args):
    """Derive a WET file (conversion records with extracted text)
    from WARC responses — the Common-Crawl text sidecar."""
    from warctools_spark.operators.archive_ops import (
        records_to_pages,
        wet_conversion,
    )

    spark = _spark(args.cpus)
    pages = records_to_pages(_records(spark, args.inputs))
    wet = wet_conversion(pages, gzip_output=bool(args.gzip))
    sink = open(args.output, "wb") if args.output else sys.stdout.buffer
    for r in wet.orderBy("url").toLocalIterator():
        sink.write(bytes(r["record_bytes"]))
    if args.output:
        sink.close()
    return 0


def cmd_arc2warc(args):
    from pyspark.sql import functions as F

    from warctools_spark.functions.udfs import udf_write_warc
    from warctools_spark.operators.arc2warc import arc_to_warc

    spark = _spark(args.cpus)
    conv = arc_to_warc(_records(spark, args.inputs))
    out_df = conv.withColumn(
        "record_bytes",
        udf_write_warc(
            F.col("warc_id"),
            F.col("warc_type"),
            F.col("url"),
            F.col("warc_date_out"),
            F.col("content_type_out"),
            F.col("content"),
            F.lit(bool(args.gzip)),
        ),
    )
    sink = open(args.output, "wb") if args.output else sys.stdout.buffer
    for r in out_df.orderBy("source_file", "offset").toLocalIterator():
        sink.write(bytes(r["record_bytes"]))
    if args.output:
        sink.close()
    return 0


def cmd_warclinks(args):
    from pyspark.sql import functions as F

    from warctools_spark.functions.udfs import udf_extract_links
    from warctools_spark.operators.archive_ops import records_to_pages

    spark = _spark(args.cpus)
    pages = records_to_pages(_records(spark, args.inputs))
    # posexplode keeps each page's document-order links; sorting by
    # (page, pos) makes multi-file output deterministic at any
    # parallelism (the reference's sequential scan order per page)
    links = pages.select(
        F.col("url").alias("src_url"),
        F.posexplode(
            udf_extract_links(F.col("url"), F.col("html"))
        ).alias("pos", "link"),
    )
    for r in links.orderBy("src_url", "pos").toLocalIterator():
        print(r["link"])
    return 0


def cmd_warcpayload(args):
    """Print one record's HTTP payload body (warcpayload.py:22-61):
    `warcpayload file:offset[,length]`. Response records with an
    application/http content-type get the body after chunked transfer
    decoding (httplib semantics: dechunked, Content-Encoding left
    intact); anything else dumps the raw record content."""
    from warctools_spark.operators.unpack import extract_payload

    target = args.target
    filename, _, off = target.rpartition(":")
    if not filename:
        print("usage: warcpayload file:offset[,length]", file=sys.stderr)
        return -1
    off = off.split(",", 1)[0]  # optional length is ignored: columnar
    offset = int(off)
    spark = _spark(args.cpus)
    recs = _records(spark, [filename])
    src = recs.select("source_file").first()["source_file"]
    rows = extract_payload(recs, src, offset).collect()
    if not rows:
        print("no record at offset %s" % offset, file=sys.stderr)
        return -1
    r = rows[0]
    content = bytes(r["content"]) if r["content"] is not None else b""
    body = content
    if r["record_type"] == "response" and (r["content_type"] or "").startswith(
        "application/http"
    ):
        from warctools_spark.kernels.http_decode import decode_http

        body = decode_http(content, kind="response").body
    sys.stdout.buffer.write(body)
    return 0


def cmd_warcextract(args):
    from warctools_spark.operators.unpack import extract_payload

    spark = _spark(args.cpus)
    recs = _records(spark, [args.input])
    src = recs.select("source_file").first()["source_file"]
    rows = extract_payload(recs, src, int(args.offset)).collect()
    if not rows:
        print("no record at offset %s" % args.offset, file=sys.stderr)
        return -1
    sys.stdout.buffer.write(bytes(rows[0]["content"]))
    return 0


def cmd_warcunpack(args):
    from pyspark.sql import functions as F

    from warctools_spark.operators.archive_ops import http_triage
    from warctools_spark.operators.unpack import unpack_log, unpack_to_files

    from warctools_spark.operators.unpack import collection_ids

    spark = _spark(args.cpus)
    recs = _records(spark, args.inputs)
    # reference behavior: derive collectionId from warcinfo records
    # unless the user pins one (warcunpack_ia.py:82-98)
    colls = None if args.collection else collection_ids(recs)
    if args.output_dir:
        written = unpack_to_files(
            recs,
            args.output_dir,
            collection_id=args.collection or "",
            collections=colls,
        )
        for r in written.orderBy("out_path", "dup_rank").toLocalIterator():
            print(
                "%s %s %s %s"
                % (r["url"], r["mime"], r["written_path"], r["wayback_uri"] or "-")
            )
        return 0
    triaged = http_triage(recs).join(
        recs.select("source_file", "offset", "warc_date"),
        on=["source_file", "offset"],
    )
    log = unpack_log(
        triaged, collection_id=args.collection or "", collections=colls
    )
    for r in log.orderBy("source_file", "offset").toLocalIterator():
        print(
            "%s %s %s %s"
            % (r["url"], r["mime"], r["out_path"], r["wayback_uri"] or "-")
        )
    return 0


def cmd_corpus(args):
    """Engine-native addition (no reference counterpart): run the
    composed training-corpus pipeline over a documents parquet and
    write range-sharded output for a tokenizer."""
    import json

    from pyspark.sql import functions as F

    from warctools_spark.plans.corpus import (
        prepare_training_corpus,
        write_training_shards,
    )

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.docs)
    survivors = prepare_training_corpus(
        docs,
        min_quality=args.min_quality,
        languages=tuple(args.languages.split(",")),
        jaccard_threshold=args.jaccard,
    )
    out = docs.join(survivors.select("doc_id"), on="doc_id").select(
        "doc_id", "text"
    )
    res = write_training_shards(out, args.output, shards=args.shards)
    res["input_rows"] = docs.count()
    print(json.dumps(res))
    return 0


def cmd_warccdxj(args):
    """CDXJ index from WARC inputs: sorted shard files (--zipnum for
    the clustered gzip-member layout + summary). Extra capability —
    no reference counterpart; the layouts are the OpenWayback/pywb
    public conventions."""
    from warctools_spark.operators.archive_ops import (
        cdx_index,
        cdxj_lines,
        records_to_pages,
        write_cdxj,
        write_zipnum,
    )

    spark = _spark(args.cpus)
    lines = cdxj_lines(
        cdx_index(records_to_pages(_records(spark, args.inputs)))
    )
    if args.zipnum:
        summary = write_zipnum(
            lines, args.output, n_shards=args.shards,
            block_lines=args.block_lines,
        )
        sys.stdout.write("%d blocks\n" % summary.count())
    else:
        parts = write_cdxj(lines, args.output, n_shards=args.shards)
        sys.stdout.write("%d shards\n" % len(parts))
    return 0


def main(argv=None):
    p = argparse.ArgumentParser(prog="warctools_spark", description=__doc__)
    p.add_argument("--cpus", default="*", help="local[N] cores")
    sub = p.add_subparsers(dest="tool", required=True)

    s = sub.add_parser("warcindex")
    s.add_argument("--cdx", action="store_true")
    s.add_argument("inputs", nargs="+")
    s.set_defaults(fn=cmd_warcindex)

    s = sub.add_parser("warcfilter")
    s.add_argument("-U", "--url", action="store_true")
    s.add_argument("-T", "--type", action="store_true")
    s.add_argument("-C", "--content-type", dest="content_type", action="store_true")
    s.add_argument("-H", "--http-content-type", dest="http_content_type", action="store_true")
    s.add_argument("-D", "--warc-date", dest="warc_date", action="store_true")
    s.add_argument("-i", "--invert", action="store_true")
    s.add_argument("pattern")
    s.add_argument("inputs", nargs="+")
    s.set_defaults(fn=cmd_warcfilter)

    s = sub.add_parser("warcvalid")
    s.add_argument("inputs", nargs="+")
    s.set_defaults(fn=cmd_warcvalid)

    s = sub.add_parser("warcdump")
    s.add_argument("inputs", nargs="+")
    s.set_defaults(fn=cmd_warcdump)

    s = sub.add_parser("warc2warc")
    s.add_argument("-D", "--decode_http", action="store_true")
    s.add_argument("-Z", "--gzip", action="store_true")
    s.add_argument(
        "--wget-chunk-fix", dest="wget_chunk_fix", action="store_true",
        help="ignore Transfer-Encoding headers when decoding (-D)",
    )
    s.add_argument("-o", "--output")
    s.add_argument("inputs", nargs="+")
    s.set_defaults(fn=cmd_warc2warc)

    s = sub.add_parser("warcpayload")
    s.add_argument("target", help="file:offset[,length]")
    s.set_defaults(fn=cmd_warcpayload)

    s = sub.add_parser("warcwet")
    s.add_argument("-Z", "--gzip", action="store_true")
    s.add_argument("-o", "--output", default=None)
    s.add_argument("inputs", nargs="+")
    s.set_defaults(fn=cmd_warcwet)

    s = sub.add_parser("arc2warc")
    s.add_argument("-Z", "--gzip", action="store_true")
    s.add_argument("-o", "--output")
    s.add_argument("inputs", nargs="+")
    s.set_defaults(fn=cmd_arc2warc)

    s = sub.add_parser("warclinks")
    s.add_argument("inputs", nargs="+")
    s.set_defaults(fn=cmd_warclinks)

    s = sub.add_parser("warcextract")
    s.add_argument("input")
    s.add_argument("offset")
    s.set_defaults(fn=cmd_warcextract)

    s = sub.add_parser("warcunpack")
    s.add_argument("--collection")
    s.add_argument(
        "-o", "--output-dir", dest="output_dir",
        help="actually write payload files (omit for log-only)",
    )
    s.add_argument("inputs", nargs="+")
    s.set_defaults(fn=cmd_warcunpack)

    s = sub.add_parser("warccdxj")
    s.add_argument("-o", "--output", required=True)
    s.add_argument("--zipnum", action="store_true")
    s.add_argument("--shards", type=int, default=8)
    s.add_argument("--block-lines", type=int, default=3000)
    s.add_argument("inputs", nargs="+")
    s.set_defaults(fn=cmd_warccdxj)

    s = sub.add_parser("corpus")
    s.add_argument("--docs", required=True, help="documents parquet")
    s.add_argument("-o", "--output", required=True)
    s.add_argument("--shards", type=int, default=16)
    s.add_argument("--min-quality", type=float, default=50.0)
    s.add_argument("--languages", default="en")
    s.add_argument("--jaccard", type=float, default=0.8)
    s.set_defaults(fn=cmd_corpus)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
