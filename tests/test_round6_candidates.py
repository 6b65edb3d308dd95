"""Operators outside the oracle gate's queries, oracle-grade tested
here: host-graph TrustRank and HITS, SURT keys, Kneser-Ney fluency,
and CDXJ emit + sorted-shard and ZipNum writing. Each SQL-expressible
operator is replayed in DuckDB and compared on the full value
multiset; the rest carry independent-reference or property evidence
instead."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(SF_DIR + "/documents.parquet").cache()


# ------------------------------------------------------ host-graph edges


def _toy_edges(spark):
    # a -> b -> c -> a cycle plus d -> a and a sink e reached from c
    rows = [
        ("a", "b", 1.0),
        ("b", "c", 1.0),
        ("c", "a", 2.0),
        ("c", "e", 1.0),
        ("d", "a", 1.0),
    ]
    return spark.createDataFrame(rows, "src_host string, dst_host string, w double")


def _synth_edges(docs):
    # deterministic host-level edge table derived from the documents
    # corpus (same shape as host_graph, but SQL-replayable without
    # the page-harvest pipeline): each doc links its host to the host
    # of doc (doc_id * 31 + 7) % 500, weight = links collapsed
    from warctools_spark.sources.pages import host_expr

    return (
        docs.select(
            host_expr(F.col("doc_id")).alias("src_host"),
            host_expr((F.col("doc_id") * 31 + 7) % 500).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("double").alias("n_links"))
    )


_EDGES_SQL = """
    SELECT
      CASE WHEN doc_id % 10 < 3 THEN 'hot.example.com'
           ELSE concat('src', CAST(doc_id % 20 AS VARCHAR), '.example.com')
      END AS src_host,
      CASE WHEN ((doc_id * 31 + 7) % 500) % 10 < 3 THEN 'hot.example.com'
           ELSE concat('src', CAST(((doc_id * 31 + 7) % 500) % 20 AS VARCHAR),
                       '.example.com')
      END AS dst_host,
      CAST(COUNT(*) AS DOUBLE) AS n_links
    FROM docs GROUP BY 1, 2
"""


# ------------------------------------------------------------ trustrank


def test_trustrank_seed_bias_and_unreachable_zero(spark):
    from warctools_spark.operators.graph import trustrank

    tr = {
        r.node: r.trustrank
        for r in trustrank(_toy_edges(spark), ["a"], weight_col="w").collect()
    }
    assert set(tr) == {"a", "b", "c", "d", "e"}
    # total mass conserved: teleport + dangling both redistribute to t
    assert abs(sum(tr.values()) - 1.0) < 1e-4
    # d has no in-links and is not a seed -> exactly zero trust
    assert tr["d"] == 0.0
    # everything on the seed's cycle keeps positive trust
    assert min(tr["a"], tr["b"], tr["c"], tr["e"]) > 0.0
    # the seed itself outranks the sink two hops out
    assert tr["a"] > tr["e"]


def test_trustrank_ignores_unknown_seeds_and_accepts_dataframe(spark):
    from warctools_spark.operators.graph import trustrank

    e = _toy_edges(spark)
    base = {r.node: r.trustrank for r in trustrank(e, ["a"], weight_col="w").collect()}
    # a seed absent from the graph is dropped before normalization
    with_junk = {
        r.node: r.trustrank
        for r in trustrank(e, ["a", "not-a-host"], weight_col="w").collect()
    }
    assert base == with_junk
    # single-column DataFrame form is equivalent
    seed_df = spark.createDataFrame([("a",)], "host string")
    as_df = {r.node: r.trustrank for r in trustrank(e, seed_df, weight_col="w").collect()}
    assert base == as_df
    with pytest.raises(ValueError):
        trustrank(e, ["not-a-host"], weight_col="w")
    with pytest.raises(ValueError):
        trustrank(e, ["a"], damping=0.0)


def test_trustrank_partitioning_invariant(spark):
    from warctools_spark.operators.graph import trustrank

    e = _toy_edges(spark)
    a = {r.node: r.trustrank for r in trustrank(e, ["a", "d"], weight_col="w").collect()}
    b = {
        r.node: r.trustrank
        for r in trustrank(e.repartition(7), ["a", "d"], weight_col="w").collect()
    }
    assert a == b


def test_trustrank_matches_duckdb_replay(spark, docs):
    from warctools_spark.operators.graph import trustrank

    n_iter, d = 10, 0.85
    seeds = ["hot.example.com", "src3.example.com"]
    got = {
        (r.node, r.trustrank)
        for r in trustrank(
            _synth_edges(docs), seeds, n_iter=n_iter, weight_col="n_links"
        ).collect()
    }

    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    con.execute(f"CREATE TEMP TABLE edges AS {_EDGES_SQL}")
    con.execute(
        """CREATE TEMP TABLE nodes AS
           SELECT DISTINCT node FROM (
             SELECT src_host AS node FROM edges
             UNION SELECT dst_host FROM edges)"""
    )
    seed_list = ", ".join(f"'{s}'" for s in seeds)
    ns = con.execute(
        f"SELECT COUNT(*) FROM nodes WHERE node IN ({seed_list})"
    ).fetchone()[0]
    tval = 1.0 / ns
    con.execute(
        f"""CREATE TEMP TABLE teleport AS
            SELECT node,
                   CASE WHEN node IN ({seed_list}) THEN {tval!r}
                        ELSE 0.0 END AS t
            FROM nodes"""
    )
    con.execute(
        """CREATE TEMP TABLE share AS
           SELECT e.src_host AS src, e.dst_host AS dst,
                  SUM(e.n_links) / w.wout AS share
           FROM edges e
           JOIN (SELECT src_host, SUM(n_links) AS wout
                 FROM edges GROUP BY 1) w ON w.src_host = e.src_host
           GROUP BY e.src_host, e.dst_host, w.wout"""
    )
    con.execute(
        """CREATE TEMP TABLE sinks AS
           SELECT node FROM nodes
           WHERE node NOT IN (SELECT DISTINCT src_host FROM edges)"""
    )
    con.execute(
        "CREATE TEMP TABLE ranks AS SELECT node, ROUND(t, 12) AS pr FROM teleport"
    )
    for _ in range(n_iter):
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE ranks AS
            WITH contrib AS (
              SELECT s.dst, SUM(r.pr * s.share) AS c
              FROM share s JOIN ranks r ON r.node = s.src GROUP BY s.dst
            ), dang AS (
              SELECT COALESCE(SUM(r.pr), 0.0) AS dang
              FROM sinks k JOIN ranks r ON r.node = k.node
            )
            SELECT tp.node,
                   ROUND({1.0 - d!r} * tp.t + {d!r} * (COALESCE(c.c, 0.0)
                         + (SELECT dang FROM dang) * tp.t), 12) AS pr
            FROM teleport tp LEFT JOIN contrib c ON c.dst = tp.node"""
        )
    want = {
        (node, pr)
        for node, pr in con.execute(
            "SELECT node, ROUND(pr, 6) FROM ranks"
        ).fetchall()
    }
    assert got == want


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


# ---------------------------------------------------------- kneser-ney


def test_kneser_ney_rows_and_ordering(spark):
    from warctools_spark.operators.text_analysis import kneser_ney_logprob

    rows = [
        (1, "the cat sat on the mat " * 5),
        (2, "the cat sat on the mat " * 5),
        (3, "zeta quix bravo nolt fargle wemp"),  # word salad
        (4, ""),  # empty doc keeps its row
        (5, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in kneser_ney_logprob(df).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    # empty docs: exactly the (S,S,E) event
    assert got[4].n_trigrams == 1 and got[5].n_trigrams == 1
    # repeated fluent text scores far lower than one-off word salad
    assert got[1].mean_neg_logprob_kn < got[3].mean_neg_logprob_kn
    assert got[1].n_trigrams == 31  # 30 tokens + end event
    with pytest.raises(ValueError):
        kneser_ney_logprob(df, discount=1.0)


def test_kneser_ney_partitioning_invariant(spark):
    from warctools_spark.operators.text_analysis import kneser_ney_logprob

    rows = [(i, "w%d the of and x%d the" % (i % 7, i % 3)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    a = sorted(map(tuple, kneser_ney_logprob(df).collect()))
    b = sorted(map(tuple, kneser_ney_logprob(df.repartition(13)).collect()))
    assert a == b


_KN_MODEL_SQL = """
    WITH t AS (
      SELECT doc_id,
             [chr(2), chr(2)]
               || list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')
               || [chr(3)] AS pd
      FROM docs
    ), tri AS (
      SELECT doc_id, pd[i] AS w1, pd[i+1] AS w2, pd[i+2] AS w3
      FROM t, UNNEST(range(1, len(pd) - 1)) AS u(i)
    ), tgc AS (
      SELECT doc_id, w1, w2, w3, count(*) AS c
      FROM tri GROUP BY ALL
    ), c3 AS (
      SELECT w1, w2, w3, sum(c) AS c3 FROM tgc GROUP BY ALL
    ), ctx3 AS (
      SELECT w1, w2, sum(c3) AS c2ctx, count(*) AS f3 FROM c3 GROUP BY ALL
    ), m2 AS (
      SELECT w2, w3, count(*) AS m2 FROM c3 GROUP BY ALL
    ), ctx2 AS (
      SELECT w2, sum(m2) AS m2ctx, count(*) AS f2 FROM m2 GROUP BY ALL
    ), m1 AS (
      SELECT w3, count(*) AS m1 FROM m2 GROUP BY ALL
    ), tot AS (
      SELECT CAST(sum(m1) AS DOUBLE) AS M FROM m1
    )
"""

_KN_P_SQL = """
      GREATEST(c3 - {D}, 0.0) / c2ctx
      + {D} * f3 / c2ctx * (
          GREATEST(m2 - {D}, 0.0) / m2ctx
          + {D} * f2 / m2ctx * (m1 / M))
"""


def test_kneser_ney_matches_duckdb_replay_and_normalizes(spark, docs):
    from warctools_spark.operators.text_analysis import kneser_ney_logprob

    got = {tuple(r) for r in kneser_ney_logprob(docs).collect()}

    con = duckdb.connect()
    con.register("docs", docs.select("doc_id", "text").toPandas())
    D = 0.75
    want = {
        tuple(r)
        for r in con.execute(
            f"""{_KN_MODEL_SQL}
            SELECT g.doc_id,
                   CAST(sum(g.c) AS BIGINT) AS n_trigrams,
                   ROUND(sum(g.c * -ln({_KN_P_SQL.format(D=D)}))
                         / sum(g.c), 4) AS mean_neg_logprob_kn
            FROM tgc g
            JOIN c3 USING (w1, w2, w3)
            JOIN ctx3 USING (w1, w2)
            JOIN m2 USING (w2, w3)
            JOIN ctx2 USING (w2)
            JOIN m1 USING (w3)
            CROSS JOIN tot
            GROUP BY g.doc_id
            """
        ).fetchall()
    }
    assert len(got) == docs.count() and got == want

    # the model normalizes: for an observed context, summing P over
    # the ENTIRE w3 vocabulary (unigram-continuation table) is 1
    norm = con.execute(
        f"""{_KN_MODEL_SQL},
        ctx AS (SELECT w1, w2 FROM ctx3 ORDER BY c2ctx DESC, w1, w2 LIMIT 3),
        grid AS (
          SELECT ctx.w1, ctx.w2, m1.w3,
                 COALESCE(c3.c3, 0) AS c3, x3.c2ctx, x3.f3,
                 COALESCE(m2.m2, 0) AS m2, x2.m2ctx, x2.f2, m1.m1, tot.M
          FROM ctx
          CROSS JOIN m1
          JOIN ctx3 x3 USING (w1, w2)
          LEFT JOIN c3 USING (w1, w2, w3)
          LEFT JOIN m2 USING (w2, w3)
          JOIN ctx2 x2 USING (w2)
          CROSS JOIN tot
        )
        SELECT w1, w2, sum({_KN_P_SQL.format(D=D)}) AS s
        FROM grid GROUP BY w1, w2
        """
    ).fetchall()
    assert len(norm) == 3
    for _, _, s in norm:
        assert abs(s - 1.0) < 1e-9


# ------------------------------------------------------------------ hits


def test_hits_toy_semantics(spark):
    from warctools_spark.operators.graph import hits

    e = spark.createDataFrame(
        [("h1", "a1"), ("h1", "a2"), ("h2", "a1")],
        "src_host string, dst_host string",
    )
    got = {r.node: r for r in hits(e, n_iter=8).collect()}
    assert set(got) == {"h1", "h2", "a1", "a2"}
    # pure sources have authority exactly 0; pure sinks hub exactly 0
    assert got["h1"].authority == 0.0 and got["h2"].authority == 0.0
    assert got["a1"].hub == 0.0 and got["a2"].hub == 0.0
    # the two-link hub beats the one-link hub; ditto authorities
    assert got["h1"].hub > got["h2"].hub > 0
    assert got["a1"].authority > got["a2"].authority > 0
    # L1 normalization: each score family sums to ~1
    assert abs(sum(r.hub for r in got.values()) - 1.0) < 1e-4
    assert abs(sum(r.authority for r in got.values()) - 1.0) < 1e-4
    with pytest.raises(ValueError):
        hits(e, n_iter=0)


def test_hits_partitioning_invariant(spark):
    from warctools_spark.operators.graph import hits

    e = _toy_edges(spark)
    a = sorted(map(tuple, hits(e, weight_col="w").collect()))
    b = sorted(map(tuple, hits(e.repartition(7), weight_col="w").collect()))
    assert a == b


def test_hits_matches_duckdb_replay(spark, docs):
    from warctools_spark.operators.graph import hits

    n_iter = 10
    got = {
        tuple(r)
        for r in hits(_synth_edges(docs), n_iter=n_iter, weight_col="n_links").collect()
    }

    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    con.execute(f"CREATE TEMP TABLE edges AS {_EDGES_SQL}")
    con.execute(
        """CREATE TEMP TABLE e AS
           SELECT src_host AS src, dst_host AS dst, SUM(n_links) AS w
           FROM edges GROUP BY 1, 2"""
    )
    con.execute(
        """CREATE TEMP TABLE nodes AS
           SELECT DISTINCT node FROM (
             SELECT src AS node FROM e UNION SELECT dst FROM e)"""
    )
    n = con.execute("SELECT COUNT(*) FROM nodes").fetchone()[0]
    con.execute(
        f"CREATE TEMP TABLE hub AS SELECT node, ROUND(1.0 / {n}, 12) AS hub FROM nodes"
    )
    for _ in range(n_iter):
        con.execute(
            """CREATE OR REPLACE TEMP TABLE auth AS
            WITH s AS (
              SELECT e.dst AS node, SUM(h.hub * e.w) AS authority
              FROM e JOIN hub h ON h.node = e.src GROUP BY e.dst
            ), tot AS (SELECT SUM(authority) AS S FROM s)
            SELECT n.node,
                   ROUND(COALESCE(s.authority, 0.0) / (SELECT S FROM tot), 12)
                     AS authority
            FROM nodes n LEFT JOIN s ON s.node = n.node"""
        )
        con.execute(
            """CREATE OR REPLACE TEMP TABLE hub AS
            WITH s AS (
              SELECT e.src AS node, SUM(a.authority * e.w) AS hub
              FROM e JOIN auth a ON a.node = e.dst GROUP BY e.src
            ), tot AS (SELECT SUM(hub) AS S FROM s)
            SELECT n.node,
                   ROUND(COALESCE(s.hub, 0.0) / (SELECT S FROM tot), 12) AS hub
            FROM nodes n LEFT JOIN s ON s.node = n.node"""
        )
    want = {
        tuple(r)
        for r in con.execute(
            """SELECT h.node, ROUND(h.hub, 6), ROUND(a.authority, 6)
               FROM hub h JOIN auth a ON a.node = h.node"""
        ).fetchall()
    }
    assert got == want


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
