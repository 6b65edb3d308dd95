"""Operators outside the oracle gate's queries, oracle-grade tested
here: SURT keys, and CDXJ emit + sorted-shard and ZipNum writing. Each
SQL-expressible operator is replayed in DuckDB and compared on the full
value multiset; the rest carry independent-reference or property
evidence instead."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(SF_DIR + "/documents.parquet").cache()


# ----------------------------------------------------------------- surt


def test_surt_key_semantics(spark):
    from warctools_spark.operators.urlspace import surt_key

    cases = [
        ("http://www.Example.com:8080/A/b?Q=1#f", "com,example,www)/A/b?Q=1"),
        ("https://example.com", "com,example)/"),
        ("http://a.com?q=1", "com,a)/?q=1"),
        ("http://user:pw@a.b.c/x", "c,b,a)/x"),
        ("http://example.com./x", "com,example)/x"),
        ("http://[::1]/x", ""),
        ("junk-no-scheme/1", ""),
        ("", ""),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = dict(df.select("url", surt_key("url").alias("s")).collect())
    assert got == {u: s for u, s in cases}


_SURT_SQL = """
    CASE WHEN regexp_matches(h, '^[a-z0-9._-]+$')
         THEN array_to_string(list_reverse(string_split(h, '.')), ',')
              || ')' || CASE WHEN pq = '' THEN '/'
                             WHEN pq LIKE '?%' THEN '/' || pq
                             ELSE pq END
         ELSE '' END
"""


# ------------------------------------------------------------------ cdxj


def _toy_cdx(spark):
    rows = [
        ("http://www.Ex.com/a?q=1#frag", "20260101000001", "text/html",
         200, "d1", 10),
        ('http://ex.com/we"ird\\path', "20260101000002", 'text/"x"',
         404, "d2", 0),
        ("junk-no-scheme", "20260101000003", "text/html", 200, "d3", 5),
    ]
    return spark.createDataFrame(
        rows,
        "original string, ts14 string, mime string, status int,"
        " digest string, length int",
    )


def test_cdxj_lines_semantics(spark):
    from warctools_spark.operators.archive_ops import cdxj_lines

    got = {r.urlkey: r for r in cdxj_lines(_toy_cdx(spark)).collect()}
    # non-DNS host dropped; query kept in the key, fragment dropped
    assert set(got) == {"com,ex,www)/a?q=1", 'com,ex)/we"ird\\path'}
    assert got["com,ex,www)/a?q=1"].line == (
        'com,ex,www)/a?q=1 20260101000001 {"digest":"d1","length":10,'
        '"mime":"text/html","status":200,'
        '"url":"http://www.Ex.com/a?q=1#frag"}'
    )
    # '\' and '"' escaped in BOTH url and mime; the block stays JSON
    import json as _json

    weird = got['com,ex)/we"ird\\path'].line.split(" ", 2)[2]
    parsed = _json.loads(weird)
    assert parsed["url"] == 'http://ex.com/we"ird\\path'
    assert parsed["mime"] == 'text/"x"' and parsed["status"] == 404


def test_cdxj_lines_plan_jvm_only(spark):
    from warctools_spark.operators.archive_ops import cdxj_lines

    plan = (
        cdxj_lines(_toy_cdx(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_cdxj_lines_matches_duckdb_replay(spark, docs):
    from warctools_spark.operators.archive_ops import cdxj_lines
    from warctools_spark.operators.urlspace import _HOST_RE, _PATHQ_RE

    # synthesized cdx-like table from the documents corpus, with a
    # few adversarial urls mixed in
    idx = docs.select(
        F.concat(
            F.lit("http://H"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.com/d/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit('?q="x\\y"#f')).otherwise(
                F.lit("")
            ),
        ).alias("original"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 14, "0").alias("ts14"),
        F.lit("text/html").alias("mime"),
        F.lit(200).alias("status"),
        F.sha2(F.col("doc_id").cast("string").cast("binary"), 256).alias(
            "digest"
        ),
        (F.col("doc_id") % 1000).cast("int").alias("length"),
    )
    got = {tuple(r) for r in cdxj_lines(idx).collect()}

    con = duckdb.connect()
    con.register("docs", docs.select("doc_id").toPandas())
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH idx AS (
              SELECT concat('http://H', CAST(doc_id % 7 AS VARCHAR),
                            '.Example.com/d/', CAST(doc_id AS VARCHAR),
                            CASE WHEN doc_id % 5 = 0
                                 THEN '?q="x\\y"#f' ELSE '' END) AS original,
                     lpad(CAST(doc_id % 100 AS VARCHAR), 14, '0') AS ts14,
                     'text/html' AS mime, 200 AS status,
                     sha256(CAST(doc_id AS VARCHAR)) AS digest,
                     CAST(doc_id % 1000 AS INT) AS length
              FROM docs
            ), s AS (
              SELECT *,
                     regexp_replace(lower(regexp_extract(original,
                         '{_HOST_RE}', 1)), '^\\.+|\\.+$', '', 'g') AS h,
                     regexp_extract(original, '{_PATHQ_RE}', 1) AS pq
              FROM idx
            ), k AS (SELECT *, {_SURT_SQL} AS urlkey FROM s)
            SELECT urlkey, ts14,
                   urlkey || ' ' || ts14 || ' {{"digest":"' || digest
                   || '","length":' || CAST(length AS VARCHAR)
                   || ',"mime":"'
                   || replace(replace(mime, '\\', '\\\\'), '"', '\\"')
                   || '","status":' || CAST(status AS VARCHAR)
                   || ',"url":"'
                   || replace(replace(original, '\\', '\\\\'), '"', '\\"')
                   || '"}}' AS line
            FROM k WHERE urlkey <> ''
            """
        ).fetchall()
    }
    assert len(got) == docs.count() and got == want


def test_write_cdxj_globally_sorted(spark, tmp_path, docs):
    from warctools_spark.operators.archive_ops import cdxj_lines, write_cdxj

    idx = docs.select(
        F.concat(
            F.lit("http://h"),
            (F.col("doc_id") % 23).cast("string"),
            F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        ).alias("original"),
        F.lpad((F.col("doc_id") % 97).cast("string"), 14, "0").alias("ts14"),
        F.lit("text/html").alias("mime"),
        F.lit(200).alias("status"),
        F.lit("d").alias("digest"),
        F.lit(1).alias("length"),
    )
    lines = cdxj_lines(idx.repartition(16))
    dest = str(tmp_path / "cdxj")
    parts = write_cdxj(lines, dest, n_shards=4)
    assert len(parts) >= 2  # actually range-sharded
    # concatenation of part files IN NAME ORDER is one sorted index
    text = []
    for p in sorted(parts):
        with open(p.replace("file:", "")) as fh:
            chunk = fh.read().splitlines()
        assert chunk == sorted(chunk)  # sorted within
        text.extend(chunk)
    assert text == sorted(text)  # sorted across shard boundaries
    assert len(text) == docs.count()
    # the plan is a range exchange, not a single-reducer global sort
    plan = (
        lines.select(F.col("line").alias("value"))
        .repartitionByRange(4, F.col("line"))
        .sortWithinPartitions("value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()


def test_cdxj_lines_null_and_control_tolerance(spark):
    """Undecodable payloads (null mime/status/digest) keep an index
    entry with CDX placeholders instead of a NULL line; control chars
    in the url are JSON-escaped or stripped so the line-oriented
    format survives."""
    import json as _json

    from warctools_spark.operators.archive_ops import cdxj_lines

    rows = [
        ("http://a.com/undecodable", "20260101000009", None, None, None, None),
        ("http://a.com/ctl\npath\tx", "20260101000010", "text/html", 200, "d", 1),
    ]
    df = spark.createDataFrame(
        rows,
        "original string, ts14 string, mime string, status int,"
        " digest string, length int",
    )
    got = {r.urlkey: r.line for r in cdxj_lines(df).collect()}
    assert None not in got.values()
    nul = got["com,a)/undecodable"]
    assert nul == (
        'com,a)/undecodable 20260101000009 {"digest":"-","length":0,'
        '"mime":"-","status":0,"url":"http://a.com/undecodable"}'
    )
    ctl = got["com,a)/ctlpathx"]
    assert "\n" not in ctl and "\t" not in ctl  # one physical line
    parsed = _json.loads(ctl.split(" ", 2)[2])
    assert parsed["url"] == "http://a.com/ctl\npath\tx"


# --------------------------------------------------------------- zipnum


def test_write_zipnum_roundtrip_and_lookup(spark, tmp_path, docs):
    import gzip as _gzip
    import os

    from warctools_spark.operators.archive_ops import (
        cdxj_lines,
        write_zipnum,
    )

    idx = docs.select(
        F.concat(
            F.lit("http://h"),
            (F.col("doc_id") % 23).cast("string"),
            F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        ).alias("original"),
        F.lpad((F.col("doc_id") % 97).cast("string"), 14, "0").alias("ts14"),
        F.lit("text/html").alias("mime"),
        F.lit(200).alias("status"),
        F.lit("d").alias("digest"),
        F.lit(1).alias("length"),
    )
    lines = cdxj_lines(idx.repartition(16))
    dest = str(tmp_path / "zipnum")
    summary = write_zipnum(lines, dest, n_shards=4, block_lines=40)
    srows = summary.collect()
    n_docs = docs.count()
    assert sum(r.n_lines for r in srows) == n_docs
    assert all(r.n_lines <= 40 for r in srows)
    assert len({r.file for r in srows}) >= 2  # really sharded

    # decompressing every member in summary order reproduces the
    # globally sorted index exactly
    all_lines = []
    for r in sorted(srows, key=lambda r: (r.file, r.offset)):
        with open(os.path.join(dest, r.file), "rb") as fh:
            fh.seek(r.offset)
            member = fh.read(r.length)
        chunk = _gzip.decompress(member).decode().splitlines()
        assert chunk[0].split(" ", 1)[0] == r.block_key
        all_lines.extend(chunk)
    assert all_lines == sorted(all_lines) and len(all_lines) == n_docs
    assert all_lines == sorted(r.line for r in lines.collect())

    # determinism: a second write produces byte-identical members
    dest2 = str(tmp_path / "zipnum2")
    write_zipnum(lines, dest2, n_shards=4, block_lines=40)
    for r in srows:
        with open(os.path.join(dest, r.file), "rb") as a, open(
            os.path.join(dest2, r.file), "rb"
        ) as b:
            assert a.read() == b.read()
