"""warcunpack_ia as a projection: url -> sanitized output path +
wayback URI (the *log projection* of warcunpack_ia.py:35-40; the
filesystem side-effect sink itself is out of engine scope, SURVEY
§2.5).

Cloned semantics (/root/reference/warcunpack_ia.py:168-215, 112-115):
* char whitelist: alnum + '_-/.' else '_', '://' -> '/' once
* directory path capped at 200 chars (after normpath)
* file name capped so name+ext fits 45 chars
* mime-derived extension when the url has none or disagrees
* wayback uri: prefix + collectionId + '/' + date stripped of 'TZ:-'
  + '/' + url (warcunpack_ia.py:112-115)

Collision-suffixing (uuid4) is inherently non-deterministic and
filesystem-dependent in the reference; the engine instead emits a
`dup_rank` column (row_number per path) — collision handling as data.
"""

from __future__ import annotations

import mimetypes
import posixpath

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def sanitize_path(url: str, mime_type: str | None) -> str:
    """output_file() path logic without the filesystem probing."""
    clean_url = "".join(
        (c if c.isalpha() or c.isdigit() or c in "_-/." else "_")
        for c in url.replace("://", "/", 1)
    )
    parts = clean_url.split("/")
    directories, filename = parts[:-1], parts[-1]
    path = [d for d in directories if d]

    if filename:
        name, ext = posixpath.splitext(filename)
    else:
        name, ext = "index", ""

    if mime_type:
        guess_type = mimetypes.guess_type(url)
        if not ext or guess_type != mime_type:
            mime_ext = mimetypes.guess_extension(mime_type)
            if mime_ext:
                ext = mime_ext
    elif not ext:
        ext = ".html"

    directory = posixpath.normpath(posixpath.join(*path)) if path else "."
    directory = directory[:200]
    filename = name[: 45 - len(ext)] + ext
    return posixpath.join(directory, filename)


@pandas_udf(T.StringType())
def udf_sanitize_path(url: pd.Series, mime: pd.Series) -> pd.Series:
    return pd.Series(
        [
            sanitize_path(u, m) if u is not None else None
            for u, m in zip(url, mime)
        ],
        dtype="object",
    )


def unpack_log(
    triaged: DataFrame,
    collection_id: str = "",
    wayback_prefix: str = "http://wayback/",
    collections: DataFrame | None = None,
) -> DataFrame:
    """(source_file, offset, url, code, mime, warc_date) -> the unpack
    log rows: output path, wayback uri, dup_rank. Input is
    archive_ops.http_triage joined back to warc_date; only 2xx rows
    unpack (warcunpack_ia.py:104-118).

    `collections` (from collection_ids()) supplies a per-file
    collection id resolved from warcinfo records, broadcast-joined on
    source_file — the reference's automatic behavior when no explicit
    --collection is given; an explicit collection_id wins."""
    rows = triaged.where((F.col("code") >= 200) & (F.col("code") < 300))
    rows = rows.withColumn("out_path", udf_sanitize_path("url", "mime"))
    if collection_id:
        cid = F.lit(collection_id)
    elif collections is not None:
        rows = rows.join(
            F.broadcast(collections), on="source_file", how="left"
        )
        cid = F.coalesce(F.col("collection_id"), F.lit(""))
    else:
        cid = F.lit("")
    wayback = F.when(
        cid != "",
        F.concat(
            F.lit(wayback_prefix),
            cid,
            F.lit("/"),
            F.translate(F.col("warc_date"), "TZ:-", ""),
            F.lit("/"),
            F.col("url"),
        ),
    ).otherwise(F.lit(""))
    w = Window.partitionBy("out_path").orderBy("source_file", "offset")
    out = rows.withColumn("wayback_uri", wayback).withColumn(
        "dup_rank", F.row_number().over(w) - 1
    )
    if "collection_id" in out.columns:
        out = out.drop("collection_id")
    return out


def extract_payload(records: DataFrame, source_file: str, offset: int) -> DataFrame:
    """warcextract/warcpayload point lookup (warcextract.py:46-61,
    warcpayload.py:25-61): one record's content by (file, offset).
    Columnar storage makes this a pruned scan instead of a byte-seek;
    over the bucketed catalog it prunes to one bucket."""
    return records.where(
        (F.col("source_file") == source_file) & (F.col("offset") == offset)
    ).select("url", "record_type", "content_type", "content_length", "content")


def record_summary(records: DataFrame) -> DataFrame:
    """warcdump-style human-readable summary (record.py:143-165):
    headers + escaped content prefix — debug projection."""
    esc = F.regexp_replace(
        F.substring(F.col("content").cast("string"), 1, 1024),
        r"[^\w\t \|\\/]",
        "_",
    )
    return records.select(
        "source_file",
        "offset",
        "record_type",
        "url",
        F.concat_ws(
            "\n",
            F.transform(
                F.col("headers"), lambda h: F.concat(h["name"], F.lit(": "), h["value"])
            ),
        ).alias("header_text"),
        esc.alias("content_preview"),
        "errors",
    )


UNPACK_WRITE_SCHEMA = (
    "url string, mime string, out_path string, wayback_uri string, "
    "dup_rank int, written_path string, n_bytes long"
)


def unpack_to_files(
    records: DataFrame,
    output_dir: str,
    collection_id: str = "",
    wayback_prefix: str = "http://wayback/",
    collections: DataFrame | None = None,
) -> DataFrame:
    """The actual filesystem sink of warcunpack_ia
    (warcunpack_ia.py:104-121): write each 2xx http response body
    (transfer decoding + inflate applied — message.get_body()) to its
    sanitized path under `output_dir`, returning the log rows plus
    what was written where.

    Distributed shape: the dup_rank window (one shuffle on out_path)
    resolves cross-partition collisions BEFORE the write, so each task
    writes a disjoint set of final paths — no executor coordination,
    no uuid4 non-determinism (collisions become deterministic
    `.dupN` suffixes instead of the reference's uuid names,
    warcunpack_ia.py:186-192). Writes go through plain POSIX paths:
    on a cluster, point output_dir at a shared filesystem mount; the
    log DataFrame is the durable manifest either way.
    """
    import os

    from warctools_spark.operators.archive_ops import http_triage

    triaged = http_triage(records).join(
        records.select("source_file", "offset", "warc_date"),
        on=["source_file", "offset"],
    )
    log = unpack_log(
        triaged, collection_id, wayback_prefix, collections=collections
    ).select(
        "url", "mime", "out_path", "wayback_uri", "dup_rank", "decoded_body"
    )

    def write_batch(batches):
        for pdf in batches:
            out = {
                k: []
                for k in (
                    "url",
                    "mime",
                    "out_path",
                    "wayback_uri",
                    "dup_rank",
                    "written_path",
                    "n_bytes",
                )
            }
            for url, mime, path, wb, rank, body in zip(
                pdf["url"],
                pdf["mime"],
                pdf["out_path"],
                pdf["wayback_uri"],
                pdf["dup_rank"],
                pdf["decoded_body"],
            ):
                final = path if not rank else "%s.dup%d" % (path, rank)
                dest = os.path.join(output_dir, final)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                data = bytes(body) if body is not None else b""
                with open(dest, "wb") as fh:
                    fh.write(data)
                out["url"].append(url)
                out["mime"].append(mime)
                out["out_path"].append(path)
                out["wayback_uri"].append(wb)
                out["dup_rank"].append(rank)
                out["written_path"].append(final)
                out["n_bytes"].append(len(data))
            yield pd.DataFrame(out)

    return log.mapInPandas(write_batch, UNPACK_WRITE_SCHEMA)


def _collection_id_for(
    content: bytes | None, warc_filename: str | None, source_file: str
) -> str:
    """The reference's collectionId resolution chain
    (warcunpack_ia.py:82-98): a `collectionId=X` entry inside the
    warcinfo description (shlex-split), else the second dash-segment
    of the WARC-Filename header, else of the archive's own filename."""
    import posixpath
    import shlex

    info: dict = {}
    if content:
        try:
            text = bytes(content).decode("utf-8", "replace")
        except Exception:
            text = ""
        for line in text.split("\n"):
            line = line.strip()
            if line and ":" in line:
                key, value = line.split(":", 1)
                info[key] = value
    try:
        entries = shlex.split(info.get("description", ""))
    except ValueError:
        entries = []
    for entry in entries:
        if entry.startswith("collectionId"):
            cid = entry.split("=", 1)[1].split(",")[0]
            if cid:
                return cid
    if warc_filename and "-" in warc_filename:
        return warc_filename.split("-")[1]
    base = posixpath.basename(source_file or "")
    if "-" in base:
        return base.split("-")[1]
    return ""


def collection_ids(records: DataFrame) -> DataFrame:
    """(source_file, collection_id) per archive, from its warcinfo
    record — feeds the wayback-uri construction when the caller does
    not pass an explicit collection (reference behavior)."""
    info = records.where(F.col("record_type") == "warcinfo").select(
        "source_file",
        "offset",
        "content",
        F.expr(
            "get(filter(headers, h -> lower(h.name) = 'warc-filename'), 0).value"
        ).alias("warc_filename"),
    )

    def resolve(batches):
        for pdf in batches:
            out = {"source_file": [], "collection_id": []}
            for src, content, wf in zip(
                pdf["source_file"], pdf["content"], pdf["warc_filename"]
            ):
                out["source_file"].append(src)
                out["collection_id"].append(
                    _collection_id_for(content, wf, src)
                )
            yield pd.DataFrame(out)

    resolved = info.mapInPandas(
        resolve, "source_file string, collection_id string"
    )
    # first non-empty id per file (multiple warcinfo records possible)
    return resolved.groupBy("source_file").agg(
        F.max(
            F.when(F.col("collection_id") != "", F.col("collection_id"))
        ).alias("collection_id")
    )
