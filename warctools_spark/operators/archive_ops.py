"""DataFrame equivalents of the reference CLI operators.

Each function takes the records DataFrame produced by
sources/warc.read_warc (or any frame with the same columns) and
returns a DataFrame — scan/filter/project/transform pipelines that
Catalyst fuses into one whole-stage-codegen pass, the way the
reference fuses them into one Python loop (SURVEY.md §3.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warctools_spark.functions.udfs import udf_decode_http


def _null_safe_rlike(col: Column, pattern: str) -> Column:
    """bool(value and pat.search(value)) — warcfilter.py:82-101."""
    return F.coalesce(col.rlike(pattern), F.lit(False))


def warc_filter(
    records: DataFrame,
    pattern: str,
    mode: str = "any",
    invert: bool = False,
) -> DataFrame:
    """warcfilter (warcfilter.py:78-117): regex predicate XOR invert.

    mode: 'url' | 'type' | 'content_type' | 'http_content_type' |
          'warc_date' | 'any' (any header value or the raw content)
    """
    if mode == "url":
        pred = _null_safe_rlike(F.col("url"), pattern)
    elif mode == "type":
        pred = _null_safe_rlike(F.col("record_type"), pattern)
    elif mode == "content_type":
        pred = _null_safe_rlike(F.col("content_type"), pattern)
    elif mode == "warc_date":
        pred = _null_safe_rlike(F.col("warc_date"), pattern)
    elif mode == "http_content_type":
        # response records with application/http content; the predicate
        # runs on the parsed payload mime (warcfilter.py:93-98)
        gate = (F.col("record_type") == "response") & F.col(
            "content_type"
        ).startswith("application/http")
        mime = udf_decode_http(F.col("content"))["mime"]
        pred = gate & _null_safe_rlike(mime, pattern)
    elif mode == "any":
        # every header value, then the raw content (warcfilter.py:104-113)
        header_hit = F.exists(
            F.col("headers"), lambda h: _null_safe_rlike(h["value"], pattern)
        )
        # rlike is string-typed; the record content is binary — decode
        # latin-1 ONLY (lossless byte<->codepoint), matching the
        # reference regex that runs on raw bytes (warcfilter.py:111).
        # A UTF-8 cast arm would over-match on non-UTF-8 payloads.
        body_hit = _null_safe_rlike(
            F.decode(F.col("content"), "ISO-8859-1"), pattern
        )
        pred = header_hit | body_hit
    else:
        raise ValueError(f"unknown filter mode {mode!r}")

    if invert:
        pred = ~pred
    return records.where(pred)


def warc_index(records: DataFrame) -> DataFrame:
    """warcindex projection (warcindex.py:35-49):
    filename offset type url id content-type content-length, '-' for
    missing values."""
    dash = lambda c: F.coalesce(F.col(c), F.lit("-"))  # noqa: E731
    return records.select(
        F.col("source_file").alias("filename"),
        F.col("offset"),
        dash("record_type").alias("warc_type"),
        dash("url").alias("warc_subject_uri"),
        dash("record_id").alias("warc_record_id"),
        dash("content_type").alias("content_type"),
        F.col("content_length"),
    )


def warc_valid(records: DataFrame) -> DataFrame:
    """warcvalid (warcvalid.py:32-61): per-record error rows; a file is
    valid iff this frame is empty for it."""
    return records.where(F.size("errors") > 0).select(
        "source_file", "offset", "errors"
    )


def warc2warc_decode(
    records: DataFrame,
    gzip_output: bool = False,
    wget_chunk_fix: bool = False,
) -> DataFrame:
    """warc2warc -D (warc2warc.py:33-61) in one Arrow pass.

    Returns the input columns plus two:
    - `out_content`: for a `response` record with an application/http
      payload that decodes complete and without errors, the decoded
      message (chunking stripped, gzip inflated, Content-Length
      rewritten); for every other record its content unchanged;
    - `record_bytes`: the record re-serialised with `out_content`, as
      one gzip member per record when `gzip_output`.

    One pandas UDF does both per row (functions.udfs.warc2warc_row),
    so the stage holds one Python node: only http responses are
    decoded, each once. `wget_chunk_fix` ignores Transfer-Encoding
    headers while decoding — warc2warc --wget-chunk-fix
    (warc2warc.py:26,31-34)."""
    from warctools_spark.functions.udfs import make_udf_warc2warc

    w2w = make_udf_warc2warc((b"Transfer-Encoding",) if wget_chunk_fix else ())
    cols = ("record_id", "record_type", "url", "warc_date", "content_type", "content")
    fused = w2w(*map(F.col, cols), F.lit(gzip_output))
    return (
        records.withColumn("_w2w", fused)
        .select("*", "_w2w.out_content", "_w2w.record_bytes")
        .drop("_w2w")
    )


def http_triage(records: DataFrame) -> DataFrame:
    """(code, mime, body) projection of http response payloads — the
    triple three reference tools re-implement (warcfilter.py:28-46,
    warclinks.py:33-51, warcunpack_ia.py:147-165)."""
    gate = (F.col("record_type") == "response") & F.col("content_type").startswith(
        "application/http"
    )
    return (
        records.where(gate)
        .withColumn("http", udf_decode_http(F.col("content")))
        .select(
            "source_file",
            "offset",
            "url",
            F.col("http.code").alias("code"),
            F.col("http.mime").alias("mime"),
            F.col("http.body").alias("body"),
            F.col("http.decoded_body").alias("decoded_body"),
        )
    )


def records_to_pages(records: DataFrame) -> DataFrame:
    """WARC records -> the engine's pages shape (input_hint):
    url, warc_ts, html, text, lang — the ingest bridge from raw
    .warc.gz to the frontier pipeline."""
    from warctools_spark.functions.udfs import udf_extract_text

    gate = (F.col("record_type") == "response") & F.col("content_type").startswith(
        "application/http"
    )
    return (
        records.where(gate)
        .select(
            "url",
            F.to_timestamp(F.col("warc_date"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
                "warc_ts"
            ),
            F.col("content").alias("html"),
        )
        .withColumn("text", udf_extract_text(F.col("html")))
        .withColumn("lang", F.lit(None).cast("string"))
    )


def wet_conversion(pages: DataFrame, gzip_output: bool = False) -> DataFrame:
    """Derive WET-style `conversion` records from response pages —
    the Common-Crawl WET sidecar: extracted plain text wrapped in a
    WARC conversion record whose WARC-Refers-To points back at the
    response record it was derived from (record model per
    warc.py:76-127; CC-WET header conventions).

    One Arrow pass per partition: extract text (the engine's
    byte-parity extractor), serialize a conversion record with
    write_warc_record, immediately reparse it with the parse kernel,
    and emit verification columns. Scan-side and embarrassingly
    parallel — no shuffle at any scale."""
    import hashlib

    import pandas as pd

    from warctools_spark.kernels.http_decode import decode_http
    from warctools_spark.kernels.warc_parse import parse_archive
    from warctools_spark.kernels.warc_write import (
        decode_sidecar_url,
        write_sidecar_record,
    )

    def run(batches):
        for pdf in batches:
            out = []
            for url, ts, html in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"]
            ):
                # skip, don't crash: rows that never identified or
                # dated a response have no sidecar to derive
                if url is None or html is None or pd.isna(ts):
                    continue
                text = decode_http(bytes(html), kind="response").decoded_body()
                rec = write_sidecar_record(
                    url,
                    ts,
                    b"conversion",
                    b"wet-",
                    b"text/plain",
                    text,
                    gzip_record=gzip_output,
                )
                (row,) = parse_archive(rec, fmt="warc")
                out.append(
                    {
                        "url": decode_sidecar_url(row.url),
                        "rec_type": (row.record_type or b"").decode("latin-1"),
                        "refers_to": (
                            row.get_header(b"WARC-Refers-To") or b""
                        ).decode("latin-1"),
                        "content_length": row.content_length,
                        "payload_md5": hashlib.md5(row.content).hexdigest(),
                        "record_bytes": rec,
                    }
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "url",
                    "rec_type",
                    "refers_to",
                    "content_length",
                    "payload_md5",
                    "record_bytes",
                ],
            )

    return pages.select("url", "warc_ts", "html").mapInPandas(
        run,
        "url string, rec_type string, refers_to string, "
        "content_length long, payload_md5 string, record_bytes binary",
    )


def cdx_index(pages: DataFrame) -> DataFrame:
    """CDX-style replay index over response pages: SURT url key,
    14-digit timestamp, original url, mime, http status, payload
    digest, payload length — the standard web-archive lookup table
    (field set per the public CDX conventions; digest is sha256 hex
    rather than the legacy sha1-base32, documented engine choice).

    Everything except the HTTP decode (one Arrow pass, one decode per
    page for status, mime and text) is JVM expression work; the output
    is sorted downstream by (urlkey, ts) when written, which is what
    makes binary-search replay possible on a plain sorted file at
    archive scale."""
    from warctools_spark.functions.udfs import udf_cdx_fields

    h = udf_cdx_fields(F.col("html"))
    host = F.parse_url("url", F.lit("HOST"))
    path = F.parse_url("url", F.lit("PATH"))
    surt = F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        path,
    )
    text = h["text"]
    return pages.select(
        surt.alias("urlkey"),
        F.date_format("warc_ts", "yyyyMMddHHmmss").alias("ts14"),
        F.col("url").alias("original"),
        h["mime"].alias("mime"),
        h["code"].alias("status"),
        F.sha2(F.encode(text, "utf-8"), 256).alias("digest"),
        F.length(F.encode(text, "utf-8")).alias("length"),
    )


def revisit_records(pages: DataFrame) -> DataFrame:
    """Writer-side digest dedup (the WARC `revisit` mechanism): the
    first page per payload digest stays a `response` record; every
    repeat becomes a `revisit` referencing the original's URL/date.

    First-occurrence selection is min(struct(warc_ts, url)) under a
    hash agg (map-side combine; same skew-proof shape as
    segment_dedup's keeper). JVM-only: sha2 over the extracted text."""
    from warctools_spark.functions.udfs import udf_extract_text

    hashed = pages.withColumn(
        "digest", F.sha2(F.encode(udf_extract_text(F.col("html")), "utf-8"), 256)
    )
    keeper = hashed.groupBy("digest").agg(
        F.min(F.struct("warc_ts", "url")).alias("k")
    )
    out = hashed.join(keeper, on="digest")
    is_first = (F.col("k.url") == F.col("url")) & (
        F.col("k.warc_ts") == F.col("warc_ts")
    )
    return out.select(
        "url",
        "digest",
        F.when(is_first, F.lit("response"))
        .otherwise(F.lit("revisit"))
        .alias("record_type"),
        F.when(is_first, F.lit(None).cast("string"))
        .otherwise(F.col("k.url"))
        .alias("refers_to_url"),
    )


def cdxj_lines(idx: DataFrame) -> DataFrame:
    """CDX(J) index lines in the OpenWayback CDXJ convention
    (iipc OpenWayback CDXJ file-format spec, public):

        <urlkey> <ts14> {"digest":...,"length":...,"mime":...,
                         "status":...,"url":...}

    over a `cdx_index` output table (columns original, ts14, mime,
    status, digest, length). The urlkey is urlspace.surt_key of the
    original url — lowercased host, query KEPT, fragment dropped —
    the modern replay key (cdx_index's own `urlkey` column is the
    legacy path-only form and is ignored here). The JSON block is
    built with plain Catalyst string concatenation, keys in sorted
    order and `\\` / `"` escaped, so the BYTES are engine-exact and a
    SQL oracle can rebuild them verbatim — no to_json (whose
    whitespace/quoting is an engine detail). Rows whose url has a
    non-DNS host (surt '') are dropped: they have no replay key.

    Null-tolerant: undecodable payloads reach cdx_index with null
    mime/status/digest (the decode kernel's failure contract); those
    rows keep their index entry with the CDX placeholder '-' (mime,
    digest), status 0 and length 0 — a NULL would otherwise swallow
    the whole concat and the text sink would write a blank line into
    a sorted index. Escaping covers `\\`, `"` and the JSON-mandatory
    control range: \\n \\r \\t named, remaining 0x00-0x1f stripped
    (same regex class in RE2 and Java, so the oracle replays it).

    Pure string expressions in one WholeStageCodegen span — no
    Python, no shuffle; a CDXJ file writer sorts by (urlkey, ts14)
    at write time (binary-search replay needs the sort, the lines
    don't)."""
    from warctools_spark.operators.urlspace import surt_key

    def esc(c):
        named = F.replace(
            F.replace(
                F.replace(
                    F.replace(
                        F.replace(c, F.lit("\\"), F.lit("\\\\")),
                        F.lit('"'),
                        F.lit('\\"'),
                    ),
                    F.lit("\n"),
                    F.lit("\\n"),
                ),
                F.lit("\r"),
                F.lit("\\r"),
            ),
            F.lit("\t"),
            F.lit("\\t"),
        )
        return F.regexp_replace(named, r"[\x00-\x1f]", "")

    # the KEY itself must be one field of a space-separated line:
    # control chars stripped, raw spaces percent-encoded (the pywb
    # canonicalizer convention for junk harvested urls)
    key = F.replace(
        F.regexp_replace(
            surt_key(F.col("original")), r"[\x00-\x1f]", ""
        ),
        F.lit(" "),
        F.lit("%20"),
    )
    js = F.concat(
        F.lit('{"digest":"'),
        F.coalesce(F.col("digest"), F.lit("-")),
        F.lit('","length":'),
        F.coalesce(F.col("length").cast("string"), F.lit("0")),
        F.lit(',"mime":"'),
        esc(F.coalesce(F.col("mime"), F.lit("-"))),
        F.lit('","status":'),
        F.coalesce(F.col("status").cast("string"), F.lit("0")),
        F.lit(',"url":"'),
        esc(F.col("original")),
        F.lit('"}'),
    )
    ts = F.coalesce(F.col("ts14"), F.lit("00000000000000"))
    return (
        idx.where(key != "")
        .select(
            key.alias("urlkey"),
            ts.alias("ts14"),
            F.concat(key, F.lit(" "), ts, F.lit(" "), js).alias("line"),
        )
    )


def write_cdxj(
    lines: DataFrame, path: str, n_shards: int = 8
) -> list[str]:
    """Write CDXJ lines as a GLOBALLY sorted shard set — the layout
    binary-search replay needs (OpenWayback's sorted .cdxj files;
    also the ZipNum cluster convention of contiguous sorted shards):
    repartitionByRange(urlkey, ts14) gives contiguous, sorted-BETWEEN
    shards, sortWithinPartitions gives sorted-WITHIN, so the
    concatenation of part files in name order is one sorted index —
    no single-reducer global sort at any scale (the range exchange
    samples keys and spreads rows ~evenly; a hot urlkey prefix
    spreads by the ts14 second key).

    Writes text part files via Spark's text sink (one column named
    `value`). Returns the sorted list of part-file paths."""
    out = (
        lines.select(F.col("line").alias("value"))
        .repartitionByRange(n_shards, F.col("line"))
        .sortWithinPartitions("value")
    )
    out.write.mode("overwrite").text(path)
    from warctools_spark.plans.fs import HadoopFS

    fs = HadoopFS(lines.sparkSession, path)
    return [
        path.rstrip("/") + "/" + name
        for name in fs.listdir(path)
        if name.startswith("part-")
    ]


def write_zipnum(
    lines: DataFrame,
    path: str,
    n_shards: int = 8,
    block_lines: int = 3000,
) -> DataFrame:
    """ZipNum-clustered CDX(J) index (the OpenWayback/pywb "zipnum"
    layout, public spec: sorted index lines grouped into gzip MEMBERS
    of `block_lines` lines each, plus a small plain-text summary with
    one line per block — `<first_key> <file> <offset> <length>` — so
    a replay client binary-searches the SUMMARY in memory and reads
    exactly one ~N-line gzip member per lookup instead of seeking a
    monolithic sorted file).

    Input: a `cdxj_lines` table. The global sort reuses write_cdxj's
    shape (repartitionByRange + sortWithinPartitions — contiguous
    sorted shards, no single-reducer sort); each task then walks its
    partition once, gzips every block as an independent deterministic
    member (mtime=0, level 9 — byte-stable across reruns), appends to
    ONE part file, and emits that block's summary row. Executor
    writes go through plain file I/O on the shard-local path — the
    same sandbox FS seam as unpack_to_files; an object-store target
    swaps this for the Hadoop FS API.

    Returns the summary as a DataFrame (block_key, file, offset,
    length, n_lines) — block-count-sized (index_lines/block_lines),
    the thing a replay server loads into memory. The caller persists
    it next to the blocks (it is small enough to collect)."""
    import os

    import pandas as pd

    dest = path.rstrip("/")
    os.makedirs(dest, exist_ok=True)

    ordered = (
        lines.select("line")
        .repartitionByRange(n_shards, F.col("line"))
        .sortWithinPartitions("line")
        .withColumn("__pid", F.spark_partition_id())
    )

    def gen(batches):
        from warctools_spark.kernels.warc_write import gzip_member

        buf: list = []
        pid = None
        out_rows = {
            "block_key": [],
            "file": [],
            "offset": [],
            "length": [],
            "n_lines": [],
        }
        offset = 0
        fh = None
        fname = None

        def flush():
            nonlocal offset
            if not buf:
                return
            raw = ("\n".join(buf) + "\n").encode("utf-8")
            member = gzip_member(raw)
            fh.write(member)
            out_rows["block_key"].append(buf[0].split(" ", 1)[0])
            out_rows["file"].append(fname)
            out_rows["offset"].append(offset)
            out_rows["length"].append(len(member))
            out_rows["n_lines"].append(len(buf))
            offset += len(member)
            buf.clear()

        for pdf in batches:
            for line, p in zip(pdf["line"], pdf["__pid"]):
                if fh is None:
                    pid = int(p)
                    fname = "part-%05d.cdx.gz" % pid
                    fh = open(os.path.join(dest, fname), "wb")
                buf.append(str(line))
                if len(buf) >= block_lines:
                    flush()
        if fh is not None:
            flush()
            fh.close()
        yield pd.DataFrame(out_rows)

    summary = ordered.mapInPandas(
        gen,
        "block_key string, file string, offset long, length long,"
        " n_lines long",
    )
    # one action drives the writes; the tiny result comes back sorted
    rows = sorted(
        map(tuple, summary.collect()), key=lambda r: (r[1], r[2])
    )
    spark = lines.sparkSession
    out = spark.createDataFrame(
        rows, "block_key string, file string, offset long, length long, n_lines long"
    )
    with open(os.path.join(dest, "zipnum-summary.txt"), "w") as fh:
        for bk, fname, off, ln, _n in rows:
            fh.write(f"{bk} {fname} {off} {ln}\n")
    return out
