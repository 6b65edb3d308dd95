"""arc2warc conversion as a DataFrame transform.

Clone of the reference ArcTransformer record path
(/root/reference/hanzo/arc2warc.py:51-178) over the records frame:

* deterministic id: uuid from sha1(url+date) (arc2warc.py:60-62)
* date normalization %Y%m%d%H%M%S with %Y%m%d fallback
  (arc2warc.py:129-136)
* IP header kept unless 0.0.0.0 (arc2warc.py:138-143)
* empty content-type -> application/octet-stream (arc2warc.py:152-153)
* record-type inference (arc2warc.py:155-174): resource/response
  prefix lists, http* + parseable-http-response sniff, dns text check
* WARC date string (warc.py:361-365)

The type inference needs the http-response sniff (a kernel call), so
the whole row transform runs in one pandas UDF struct; everything
else it produces is plain columns.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from warctools_spark.kernels.http_decode import decode_http
from warctools_spark.kernels.warc_write import warc_datetime_str, warc_uuid

A2W_STRUCT = T.StructType(
    [
        T.StructField("warc_id", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("ip_address", T.StringType()),
    ]
)


def _is_http_response(content: bytes) -> bool:
    """arc2warc.py:44-48."""
    res = decode_http(content, kind="response")
    return res.complete and not res.leftover


def _convert_one(url, date, content_type, content, ip):
    url_b = (url or "").encode("latin-1")
    date_b = (date or "").encode("latin-1")
    warc_id = warc_uuid(url_b + date_b).decode("ascii")

    if date:
        try:
            d = datetime.strptime(date, "%Y%m%d%H%M%S")
        except ValueError:
            d = datetime.strptime(date, "%Y%m%d")
        warc_date = warc_datetime_str(d).decode("ascii")
    else:
        warc_date = None  # reference uses now(); we refuse wall-clock

    ct = (content_type or "").strip()
    if not ct:
        ct = "application/octet-stream"

    lurl = (url or "").lower()
    if lurl.startswith("http"):
        if content is not None and _is_http_response(bytes(content)):
            ct = "application/http;msgtype=response"
            rtype = "response"
        else:
            rtype = "resource"
    elif lurl.startswith("dns"):
        body = bytes(content) if content is not None else b""
        if ct.startswith("text/dns") and body.decode("ascii", "ignore").encode(
            "ascii", "ignore"
        ) == body:
            rtype = "resource"
        else:
            rtype = "response"
    else:
        rtype = "response"

    ip_out = None
    if ip:
        ip = ip.strip()
        if ip != "0.0.0.0":
            ip_out = ip
    return warc_id, warc_date, rtype, ct, ip_out


def arc_to_warc(records: DataFrame) -> DataFrame:
    """ARC records frame -> WARC-typed columns (+ original content).
    Input: the frame from sources/warc.read_warc over .arc files."""

    @pandas_udf(A2W_STRUCT)
    def conv(
        url: pd.Series, date: pd.Series, ctype: pd.Series, content: pd.Series,
        ip: pd.Series,
    ) -> pd.DataFrame:
        rows = {k: [] for k in ("warc_id", "warc_date", "warc_type", "content_type", "ip_address")}
        for u, d, ct, c, i in zip(url, date, ctype, content, ip):
            wid, wdate, wtype, wct, wip = _convert_one(u, d, ct, c, i)
            rows["warc_id"].append(wid)
            rows["warc_date"].append(wdate)
            rows["warc_type"].append(wtype)
            rows["content_type"].append(wct)
            rows["ip_address"].append(wip)
        return pd.DataFrame(rows)

    ip_col = F.expr(
        "get(filter(headers, h -> lower(h.name) = 'ip-address'), 0).value"
    )
    data = records.where(F.col("format") == "arc").withColumn(
        "w",
        conv(
            F.col("url"),
            F.col("warc_date"),
            F.col("content_type"),
            F.col("content"),
            ip_col,
        ),
    )
    return data.select(
        F.col("w.warc_id").alias("warc_id"),
        F.col("w.warc_date").alias("warc_date_out"),
        F.col("w.warc_type").alias("warc_type"),
        F.col("w.content_type").alias("content_type_out"),
        F.col("w.ip_address").alias("ip_address"),
        F.col("url"),
        F.col("content"),
        F.col("source_file"),
        F.col("offset"),
    )
