from warctools_spark.functions.udfs import (  # noqa: F401
    HTTP_STRUCT,
    udf_canonicalize_url,
    udf_decode_http,
    udf_extract_links,
    udf_extract_text,
    udf_url_host,
    udf_url_sha1,
    udf_warc_uuid,
    udf_write_warc,
)
