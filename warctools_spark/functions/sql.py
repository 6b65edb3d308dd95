"""SQL-surface registration: expose the engine's UDFs to
spark.sql(...) users, so every operator is reachable from pure SQL
(`SELECT extract_text(html) FROM pages`) as well as the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from warctools_spark.functions.udfs import (
    udf_canonicalize_url,
    udf_decode_http,
    udf_extract_links,
    udf_extract_text,
    udf_url_host,
    udf_url_sha1,
    udf_warc_uuid,
)

_REGISTRY = {
    "decode_http": udf_decode_http,
    "extract_text": udf_extract_text,
    "extract_links": udf_extract_links,
    "canonicalize_url": udf_canonicalize_url,
    "url_sha1": udf_url_sha1,
    "url_host": udf_url_host,
    "warc_uuid": udf_warc_uuid,
}


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register all engine UDFs as SQL functions. Returns the names."""
    for name, fn in _REGISTRY.items():
        spark.udf.register(name, fn)
    return list(_REGISTRY)
