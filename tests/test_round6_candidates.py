"""Staged registration candidates, built and oracle-grade tested
ahead of their queries()/oracle_sql() slots (the 50-entry
certification window rotates ~5 new entries per round): host-graph
PageRank, TrustRank, HITS, vocab coverage, HLL overlap, WAT sidecars,
sitemap parsing, URL path templates, SURT crawl scoping, Kneser-Ney
fluency, per-URL change-rate estimation, and CDXJ emit + sorted-shard
writing. Each SQL-expressible candidate is replayed in DuckDB and
compared on the full value multiset; iterative/stateful ones (see
test_unigram_lm.py for the rest of the staged set) carry
independent-reference or property evidence instead."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from warctools_spark.operators.graph import pagerank


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(SF_DIR + "/documents.parquet").cache()


# ------------------------------------------------------------- pagerank


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


def test_pagerank_mass_conserved_and_orders_sensibly(spark):
    pr = {
        r.node: r.pagerank
        for r in pagerank(_toy_edges(spark), weight_col="w").collect()
    }
    assert set(pr) == {"a", "b", "c", "d", "e"}
    # dangling redistribution keeps total mass at ~1
    assert abs(sum(pr.values()) - 1.0) < 1e-4
    # c receives ALL of b's mass (b's only edge) -> the top rank;
    # d receives only the dangling redistribution -> the bottom;
    # a (2/3 of c + d + dangling) beats e (1/3 of c + dangling)
    assert pr["c"] == max(pr.values())
    assert pr["d"] == min(pr.values())
    assert pr["a"] > pr["e"]


def test_pagerank_partitioning_invariant(spark):
    e = _toy_edges(spark)
    a = {r.node: r.pagerank for r in pagerank(e, weight_col="w").collect()}
    b = {
        r.node: r.pagerank
        for r in pagerank(e.repartition(7), weight_col="w").collect()
    }
    assert a == b


def test_pagerank_rejects_bad_damping(spark):
    with pytest.raises(ValueError):
        pagerank(_toy_edges(spark), damping=1.0)


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


def test_pagerank_matches_duckdb_replay(spark, docs):
    n_iter, d = 10, 0.85
    got = {
        (r.node, r.pagerank)
        for r in pagerank(_synth_edges(docs), n_iter=n_iter, weight_col="n_links").collect()
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
    n = con.execute("SELECT COUNT(*) FROM nodes").fetchone()[0]
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
        f"CREATE TEMP TABLE ranks AS SELECT node, ROUND(1.0 / {n}, 12) AS pr FROM nodes"
    )
    base = (1.0 - d) / n
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
            SELECT n.node,
                   ROUND({base} + {d} * (COALESCE(c.c, 0.0)
                         + (SELECT dang FROM dang) / {n}), 12) AS pr
            FROM nodes n LEFT JOIN contrib c ON c.dst = n.node"""
        )
    want = {
        (node, pr)
        for node, pr in con.execute(
            "SELECT node, ROUND(pr, 6) FROM ranks"
        ).fetchall()
    }
    assert got == want


# ------------------------------------------------------- vocab coverage


def test_vocab_coverage_counts_and_empty_docs(spark):
    from warctools_spark.operators.text_analysis import vocab_coverage

    docs = spark.createDataFrame(
        [(0, "The cat SAT on the mat"), (1, ""), (2, "unseen words only")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("mat",), ("ON",)], "token string"
    )
    out = {r.doc_id: r for r in vocab_coverage(docs, vocab).collect()}
    # "the cat sat on the mat" -> 6 tokens, 5 in vocab (sat is OOV)
    assert out[0].n_tokens == 6 and out[0].n_in_vocab == 5
    assert out[0].coverage == round(5 / 6, 4)
    assert out[1].n_tokens == 0 and out[1].coverage == 1.0  # empty doc
    assert out[2].n_in_vocab == 0 and out[2].coverage == 0.0


def test_vocab_coverage_matches_duckdb_replay(spark, docs):
    from warctools_spark.operators.text_analysis import (
        token_frequencies,
        vocab_coverage,
    )

    vocab = token_frequencies(docs).limit(200).select("token")
    got = {tuple(r) for r in vocab_coverage(docs, vocab).collect()}

    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    con.register("vocab", vocab.toPandas())
    want = {
        tuple(r)
        for r in con.execute(
            """
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
          FROM docs
        ), per AS (
          SELECT doc_id, COUNT(*) AS n_tokens,
                 SUM(CASE WHEN tok IN (SELECT lower(token) FROM vocab)
                     THEN 1 ELSE 0 END) AS n_in_vocab
          FROM toks WHERE tok <> '' GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               COALESCE(p.n_in_vocab, 0) AS n_in_vocab,
               ROUND(CASE WHEN COALESCE(p.n_tokens, 0) = 0 THEN 1.0
                     ELSE p.n_in_vocab / CAST(p.n_tokens AS DOUBLE) END,
                     4) AS coverage
        FROM docs d LEFT JOIN per p USING (doc_id)
        """
        ).fetchall()
    }
    assert got == want


# --------------------------------------------------------- hll overlap


def test_hll_overlap_estimates_intersection(spark):
    from warctools_spark.operators.sketches import hll_overlap

    a = spark.range(0, 8000).select(F.concat(F.lit("u-"), "id").alias("u"))
    b = spark.range(5000, 12000).select(F.concat(F.lit("u-"), "id").alias("u"))
    row = hll_overlap(a, b, "u").collect()[0]
    # true: |A|=8000, |B|=7000, |A u B|=12000, |A n B|=3000.
    # inclusion-exclusion compounds three estimates (6.5% sigma each);
    # allow a generous but still-meaningful band on the intersection
    assert abs(row.n_a - 8000) / 8000 < 0.26
    assert abs(row.n_b - 7000) / 7000 < 0.26
    assert abs(row.n_union - 12000) / 12000 < 0.26
    assert 1000 < row.n_intersect < 5000


def test_hll_overlap_disjoint_floors_at_zero_and_is_deterministic(spark):
    from warctools_spark.operators.sketches import hll_overlap

    a = spark.range(0, 3000).select(F.concat(F.lit("x-"), "id").alias("u"))
    b = spark.range(0, 3000).select(F.concat(F.lit("y-"), "id").alias("u"))
    r1 = hll_overlap(a, b, "u").collect()[0]
    r2 = hll_overlap(a.repartition(5), b.coalesce(1), "u").collect()[0]
    assert tuple(r1) == tuple(r2)  # pure function of the value sets
    assert r1.n_intersect >= 0.0
    # identical sets: intersection estimate == per-side estimate exactly
    # (register tables are identical, union == either side)
    ri = hll_overlap(a, a, "u").collect()[0]
    assert ri.n_a == ri.n_b == ri.n_union
    assert abs(ri.n_intersect - ri.n_a) < 1e-6


# ------------------------------------------------------------------ wat


def _toy_wat_pages(spark):
    import pandas as pd

    html_ok = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Set-Cookie: a=1\r\nSet-Cookie: b=2\r\n\r\n"
        b"<html><head><titlebar>nav</titlebar><title> A  Title </title>"
        b"</head><body>"
        b'<a href="http://x.com/a">a</a><a href="/rel">r</a></body></html>'
    )
    plain = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
        b'just text <a href="http://x.com/a">not a link</a>'
    )
    pdf = pd.DataFrame(
        {
            "url": [
                "http://t.example.com/p.html",
                "http://t.example.com/q.txt",
                None,  # null url: no sidecar
                "http://t.example.com/no-date.html",  # NaT ts: no sidecar
            ],
            "warc_ts": pd.to_datetime(
                ["2013-11-13 00:00:00", "2013-11-13 00:00:01",
                 "2013-11-13 00:00:02", None]
            ),
            "html": [html_ok, plain, html_ok, html_ok],
        }
    )
    return spark.createDataFrame(pdf)


def test_wat_toy_titles_links_and_envelope(spark):
    import json

    from warctools_spark.operators.wat import wat_records

    got = wat_records(_toy_wat_pages(spark)).collect()
    # null-url and null-ts rows produce no sidecar, and don't crash
    assert len(got) == 2
    rows = {r.url: r for r in got}
    ok = rows["http://t.example.com/p.html"]
    assert ok.rec_type == "metadata"
    assert ok.refers_to.startswith("<urn:uuid:")
    assert ok.title == "A Title"  # whitespace collapsed, <titlebar> skipped
    assert ok.n_links == 2
    env = json.loads(ok.payload)["Envelope"]
    hm = env["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
    # absolutized, document order; url-only (no fabricated path field)
    assert hm["Links"] == [
        {"url": "http://x.com/a"},
        {"url": "http://t.example.com/rel"},
    ]
    # repeated headers become a JSON array (lossless — cookie Expires
    # dates contain commas)
    headers = env["Payload-Metadata"]["HTTP-Response-Metadata"]["Headers"]
    assert headers["Set-Cookie"] == ["a=1", "b=2"]
    assert env["WARC-Header-Metadata"]["WARC-Target-URI"] == ok.url
    # non-html page: no links, no title, no HTML-Metadata key
    txt = rows["http://t.example.com/q.txt"]
    assert (txt.n_links, txt.title, txt.links_digest) == (0, None, None)
    assert "HTML-Metadata" not in json.loads(txt.payload)["Envelope"][
        "Payload-Metadata"
    ]["HTTP-Response-Metadata"]


def test_wat_record_roundtrips_and_matches_harvest(spark):
    import json

    from warctools_spark.kernels.warc_parse import parse_archive
    from warctools_spark.operators.frontier import harvest_canonicalized
    from warctools_spark.operators.wat import wat_records
    from warctools_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, SF_DIR).limit(12).cache()
    got = wat_records(pages).collect()
    assert len(got) == 12
    want_links = {}
    for r in harvest_canonicalized(pages).collect():
        want_links.setdefault(r.src_url, []).append(r.link)
    for r in got:
        (rec,) = parse_archive(bytes(r.record_bytes), fmt="warc")
        assert rec.record_type == b"metadata"
        assert rec.content_length == r.content_length
        env = json.loads(rec.content.decode("utf-8"))["Envelope"]
        links = [
            d["url"]
            for d in env["Payload-Metadata"]["HTTP-Response-Metadata"][
                "HTML-Metadata"
            ]["Links"]
        ]
        assert links == want_links[r.url]
        # refers-to points at the response record's deterministic uuid
        assert r.refers_to == "<urn:uuid:%s>" % __import__("hashlib").md5(
            r.url.encode()
        ).hexdigest()
    pages.unpersist()


_WAT_URL = (
    "'http://' || CASE WHEN {id} % 10 < 3 THEN 'hot.example.com' "
    "ELSE 'src' || CAST({id} % 20 AS VARCHAR) || '.example.com' END "
    "|| '/doc/' || CAST({id} AS VARCHAR) || '.html'"
)


def test_wat_metadata_matches_duckdb_replay(spark, docs):
    from warctools_spark.operators.wat import wat_metadata
    from warctools_spark.sources.pages import synthesize_pages

    got = {
        tuple(r)
        for r in wat_metadata(synthesize_pages(spark, SF_DIR)).collect()
    }
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    target = "((d.doc_id * 31 + i * 97 + 7) % nn.n)"
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH nn AS (SELECT count(*) AS n FROM docs),
            links AS (
              SELECT d.doc_id, i,
                     {_WAT_URL.format(id=target)} AS link
              FROM docs d CROSS JOIN nn CROSS JOIN range(0, 8) t(i)
            ),
            agg AS (
              SELECT doc_id,
                     CAST(count(*) AS INT) AS n_links,
                     md5(string_agg(link, chr(10) ORDER BY i))
                         AS links_digest
              FROM links GROUP BY doc_id
            )
            SELECT {_WAT_URL.format(id="d.doc_id")} AS url,
                   200 AS http_status,
                   'text/html' AS mime,
                   'Doc ' || CAST(d.doc_id AS VARCHAR) AS title,
                   n_links, links_digest
            FROM docs d JOIN agg USING (doc_id)
            """
        ).fetchall()
    }
    assert got == want


# -------------------------------------------------------------- sitemap


_TOY_URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc> http://h.example.com/a?x=1&amp;y=2 </loc>
    <lastmod>2013-11-13</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc>http://h.example.com/b</loc></url>
  <url><lastmod>2013-11-14</lastmod></url>
  <url><loc>http://h.example.com/c</loc><priority>high</priority></url>
</urlset>"""

_TOY_INDEX = """<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>http://h.example.com/sitemap1.xml</loc>
    <lastmod>2013-11-12</lastmod>
    <priority>0.9</priority></sitemap>
</sitemapindex>"""

# a urlset that merely MENTIONS the other root tag in a comment must
# still parse as a urlset (kind = earliest root tag, not contains)
_TOY_TRICKY = """<urlset><!-- migrated from <sitemapindex> -->
  <url><loc>http://h.example.com/t</loc></url>
</urlset>"""


def test_parse_sitemaps_toy_semantics(spark):
    from warctools_spark.operators.sitemap import parse_sitemaps

    df = spark.createDataFrame(
        [
            ("http://h.example.com/sitemap.xml", _TOY_URLSET),
            ("http://h.example.com/sitemap_index.xml", _TOY_INDEX),
            ("http://h.example.com/tricky.xml", _TOY_TRICKY),
            ("http://h.example.com/not-a-sitemap.xml", "<html>nope</html>"),
        ],
        "url string, xml string",
    )
    got = parse_sitemaps(df).collect()
    # loc-less url entry and the non-sitemap doc contribute no rows
    assert len(got) == 5
    by_loc = {r.loc: r for r in got}
    # malformed priority -> null (try_cast), not an ANSI job kill
    assert by_loc["http://h.example.com/c"].priority is None
    # kind by earliest root tag, not substring presence
    assert by_loc["http://h.example.com/t"].kind == "urlset"
    a = by_loc["http://h.example.com/a?x=1&y=2"]  # trimmed + unescaped
    assert (a.kind, a.lastmod, a.changefreq, a.priority) == (
        "urlset", "2013-11-13", "daily", 0.8,
    )
    b = by_loc["http://h.example.com/b"]
    assert (b.lastmod, b.changefreq, b.priority) == (None, None, None)
    idx = by_loc["http://h.example.com/sitemap1.xml"]
    assert (idx.kind, idx.lastmod) == ("sitemapindex", "2013-11-12")
    # changefreq/priority are urlset-only: a stray <priority> inside
    # a <sitemap> block does not leak through
    assert idx.priority is None


def test_parse_sitemaps_plan_is_jvm_only(spark):
    from warctools_spark.operators.sitemap import parse_sitemaps

    df = spark.createDataFrame(
        [("u", _TOY_URLSET)], "url string, xml string"
    )
    plan = parse_sitemaps(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _synth_sitemaps(docs_pdf):
    # one urlset per host listing its docs (lastmod/priority derived
    # from doc_id; every 7th entry omits optional fields; doc_id%97==0
    # entries omit loc entirely) + one sitemapindex over the hosts
    import collections

    hosts = collections.defaultdict(list)
    for doc_id in sorted(int(i) for i in docs_pdf["doc_id"]):
        host = (
            "hot.example.com"
            if doc_id % 10 < 3
            else "src%d.example.com" % (doc_id % 20)
        )
        hosts[host].append(doc_id)
    rows = []
    for host, ids in sorted(hosts.items()):
        entries = []
        for d in ids:
            loc = (
                ""
                if d % 97 == 0
                else "<loc>http://%s/doc/%d.html?a=1&amp;b=2</loc>" % (host, d)
            )
            extra = (
                ""
                if d % 7 == 0
                else "<lastmod>2013-11-%02d</lastmod><priority>0.%d</priority>"
                % (1 + d % 28, d % 10)
            )
            entries.append("<url>%s%s</url>" % (loc, extra))
        rows.append(
            (
                "http://%s/sitemap.xml" % host,
                '<urlset xmlns="x">\n%s\n</urlset>' % "\n".join(entries),
            )
        )
    index = "".join(
        # the stray <priority> inside <sitemap> blocks must NOT leak
        # into the urlset-only priority column
        "<sitemap><loc>http://%s/sitemap.xml</loc>"
        "<priority>0.9</priority></sitemap>" % h
        for h in sorted(hosts)
    )
    rows.append(
        ("http://master.example.com/index.xml",
         "<sitemapindex>%s</sitemapindex>" % index)
    )
    # a urlset that mentions the other root tag in a comment — kind
    # must still resolve to urlset (earliest root tag wins)
    rows.append(
        ("http://tricky.example.com/sitemap.xml",
         "<urlset><!-- was <sitemapindex> once -->"
         "<url><loc>http://tricky.example.com/a</loc></url></urlset>")
    )
    return rows


def test_parse_sitemaps_matches_duckdb_replay(spark, docs):
    from warctools_spark.operators.sitemap import parse_sitemaps

    rows = _synth_sitemaps(docs.toPandas())
    got = {
        tuple(r)
        for r in parse_sitemaps(
            spark.createDataFrame(rows, "url string, xml string")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TEMP TABLE smaps (url VARCHAR, xml VARCHAR)"
    )
    con.executemany("INSERT INTO smaps VALUES (?, ?)", rows)
    unesc = (
        "replace(replace(replace(replace(replace({c}, '&lt;', '<'), "
        "'&gt;', '>'), '&quot;', '\"'), '&apos;', ''''), '&amp;', '&')"
    )
    # kind = earliest root tag, mirroring the operator — no document
    # is excluded, so both-marker payloads ARE differentially checked
    branch = """
        SELECT url AS sitemap_url, kind,
               unnest(regexp_extract_all(xml, '(?s)<{tag}>(.*?)</{tag}>', 1))
                   AS entry
        FROM k WHERE kind = '{kind}'
    """
    field = (
        "nullif(regexp_extract(entry,"
        " '(?s)<{t}>\\s*(.*?)\\s*</{t}>', 1), '')"
    )
    loc_expr = unesc.format(c=field.format(t="loc"))
    idx_branch = branch.format(kind="sitemapindex", tag="sitemap")
    url_branch = branch.format(kind="urlset", tag="url")
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH s AS (
              SELECT url, xml,
                     strpos(xml, '<sitemapindex') AS pi,
                     strpos(xml, '<urlset') AS pu
              FROM smaps
            ), k AS (
              SELECT url, xml,
                     CASE WHEN pi > 0 AND (pu = 0 OR pi < pu)
                            THEN 'sitemapindex'
                          WHEN pu > 0 THEN 'urlset' END AS kind
              FROM s
            ), b AS (
              {idx_branch}
              UNION ALL
              {url_branch}
            )
            SELECT sitemap_url, kind,
                   {loc_expr} AS loc,
                   {field.format(t="lastmod")} AS lastmod,
                   CASE WHEN kind = 'urlset'
                        THEN {field.format(t="changefreq")} END
                       AS changefreq,
                   CASE WHEN kind = 'urlset'
                        THEN TRY_CAST({field.format(t="priority")} AS DOUBLE)
                        END AS priority
            FROM b
            WHERE loc IS NOT NULL
            """
        ).fetchall()
    }
    assert len(got) > 400 and got == want


# ------------------------------------------------------------- urlspace


def test_url_templates_toy_semantics(spark):
    from warctools_spark.operators.urlspace import url_templates

    rows = (
        ["http://Trap.example.com/cal/%d/day" % i for i in range(50)]
        + ["http://Trap.example.com/cal/7/day"]  # literal refetch
        + ["https://ok.example.com/about", "https://ok.example.com/about"]
        + ["https://ok.example.com/about#s%d" % i for i in range(5)]
        + ["http://h.example.com/s/deadbeef1234/x?sid=99"]  # hex + query
        + ["http://u:p@h.example.com:8080/s/cafe0123beef99/x"]
        + ["http://d.example.com/a/20260817/x"]  # 8-digit date: {n}
        + ["no-scheme/path/1"]  # dropped
    )
    df = spark.createDataFrame([(u,) for u in rows], "url string")
    got = {(r.host, r.template): r for r in url_templates(df).collect()}
    trap = got[("trap.example.com", "/cal/{n}/day")]  # host lowercased
    assert (trap.n_urls, trap.n_distinct) == (51, 50)
    # fragment-only variants are ONE fetchable url
    about = got[("ok.example.com", "/about")]
    assert (about.n_urls, about.n_distinct) == (7, 1)
    # lettered hex run -> {h}; query dropped; userinfo+port stripped
    hx = got[("h.example.com", "/s/{h}/x")]
    assert (hx.n_urls, hx.n_distinct) == (2, 2)
    # a pure-digit 8-run is {n}, not {h} — dates/ids stay one class
    assert ("d.example.com", "/a/{n}/x") in got
    assert len(got) == 4  # schemeless row contributed nothing


def test_url_templates_plan_jvm_two_exchanges(spark):
    from warctools_spark.operators.urlspace import url_templates

    df = spark.createDataFrame([("http://a/b/1",)], "url string")
    plan = url_templates(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # two-level agg: exactly the two planned shuffles, both partial-agg'd
    assert plan.count("Exchange hashpartitioning") <= 2


def _synth_urls(docs_pdf):
    import hashlib as h

    urls = []
    for i in sorted(int(x) for x in docs_pdf["doc_id"]):
        host = (
            "hot.example.com" if i % 10 < 3 else "src%d.example.com" % (i % 20)
        )
        base = "http://%s/doc/%d.html" % (host, i)
        urls.append(base)
        if i % 7 == 0:
            urls.append(base)  # literal refetch
        if i % 5 == 0:
            urls.append(
                "http://%s/session/%s/view"
                % (host, h.md5(str(i).encode()).hexdigest()[:16])
            )
        if i % 3 == 0:
            urls.append(base + "?page=%d" % i)  # same template as base
        if i % 11 == 0:
            urls.append(base + "#sec%d" % i)  # fragment: same fetch url
        if i % 13 == 0:
            # 8-digit date run stays {n}; port/userinfo stripped
            urls.append("http://u@%s:8080/d/2026%04d/x" % (host, i % 10000))
        if i % 97 == 0:
            urls.append("junk-no-scheme/%d" % i)
    return urls


def test_url_templates_matches_duckdb_replay(spark, docs):
    from warctools_spark.operators.urlspace import (
        _FETCH_RE,
        _HEX_RUN,
        _HOST_RE,
        _NUM_RUN,
        _PATH_RE,
        url_templates,
    )

    urls = _synth_urls(docs.toPandas())
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {tuple(r) for r in url_templates(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TEMP TABLE urls (url VARCHAR)")
    con.executemany("INSERT INTO urls VALUES (?)", [(u,) for u in urls])
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH t AS (
              SELECT lower(regexp_extract(url, '{_HOST_RE}', 1)) AS host,
                     regexp_replace(regexp_replace(
                       regexp_extract(url, '{_PATH_RE}', 1),
                       '{_HEX_RUN}', '{{h}}', 'g'),
                       '{_NUM_RUN}', '{{n}}', 'g') AS template,
                     regexp_extract(url, '{_FETCH_RE}', 1) AS u
              FROM urls
              WHERE lower(regexp_extract(url, '{_HOST_RE}', 1)) <> ''
            ), pu AS (
              SELECT host, template, u, count(*) AS c
              FROM t GROUP BY 1, 2, 3
            )
            SELECT host, template,
                   CAST(sum(c) AS BIGINT) AS n_urls,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   min(u) AS sample_url
            FROM pu GROUP BY host, template
            """
        ).fetchall()
    }
    assert len(got) >= 15 and got == want


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


# ------------------------------------------------- surt / crawl scope


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


def test_scope_prefixes_modes(spark):
    from warctools_spark.operators.urlspace import scope_prefixes

    def pref(seeds, mode):
        df = spark.createDataFrame([(s,) for s in seeds], "seed_url string")
        return {r.prefix for r in scope_prefixes(df, mode).collect()}

    # prefix mode: truncate to the seed's directory, query dropped
    assert pref(["http://a.com/d/p.html"], "prefix") == {"com,a)/d/"}
    assert pref(["http://a.com/d/"], "prefix") == {"com,a)/d/"}
    assert pref(["http://a.com"], "prefix") == {"com,a)/"}
    assert pref(["http://a.com/d/p?x=/y"], "prefix") == {"com,a)/d/"}
    # host mode: the ')' pins the exact-host boundary
    assert pref(["http://www.a.com/x"], "host") == {"com,a,www)"}
    # domain mode: leading www stripped, two boundary-exact prefixes
    assert pref(["http://www.a.com/x"], "domain") == {"com,a)", "com,a,"}
    # non-DNS seeds contribute nothing
    assert pref(["http://[::1]/x"], "domain") == set()
    with pytest.raises(ValueError):
        pref(["http://a.com/"], "bogus")


def test_scope_filter_semantics(spark):
    from warctools_spark.operators.urlspace import scope_filter

    cand = spark.createDataFrame(
        [
            ("http://a.com/d/page.html",),   # in dir scope
            ("http://a.com/other/x",),       # host yes, dir no
            ("http://sub.a.com/d/x",),       # domain yes, host no
            ("http://www.a.com/",),          # www subdomain of a.com
            ("http://another.com/d/x",),     # 'com,another' boundary test
            ("http://a.comx.net/",),         # host-string prefix trap
            ("junk",),
        ],
        "url string",
    )
    seeds = ["http://www.a.com/d/"]

    def urls(mode):
        return {r.url for r in scope_filter(cand, seeds, mode).collect()}

    # prefix scope is the seed's own host + directory
    assert urls("prefix") == set()  # seed host is www.a.com, no cand matches
    assert {
        r.url for r in scope_filter(cand, ["http://a.com/d/"], "prefix").collect()
    } == {"http://a.com/d/page.html"}
    assert urls("host") == {"http://www.a.com/"}
    assert urls("domain") == {
        "http://a.com/d/page.html",
        "http://a.com/other/x",
        "http://sub.a.com/d/x",
        "http://www.a.com/",
    }
    # keep_surt exposes the key
    row = scope_filter(cand, seeds, "host", keep_surt=True).collect()[0]
    assert row.surt == "com,a,www)/"


def test_scope_filter_plan_broadcast_no_python(spark):
    from warctools_spark.operators.urlspace import scope_filter

    cand = spark.createDataFrame([("http://a.com/x",)], "url string")
    plan = (
        scope_filter(cand, ["http://a.com/"], "domain")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan and "LeftSemi" in plan


_SURT_SQL = """
    CASE WHEN regexp_matches(h, '^[a-z0-9._-]+$')
         THEN array_to_string(list_reverse(string_split(h, '.')), ',')
              || ')' || CASE WHEN pq = '' THEN '/'
                             WHEN pq LIKE '?%' THEN '/' || pq
                             ELSE pq END
         ELSE '' END
"""


def _duck_scoped(urls, prefixes):
    from warctools_spark.operators.urlspace import _HOST_RE, _PATHQ_RE

    con = duckdb.connect()
    con.execute("CREATE TEMP TABLE cand (url VARCHAR)")
    con.executemany("INSERT INTO cand VALUES (?)", [(u,) for u in urls])
    con.execute("CREATE TEMP TABLE pref (prefix VARCHAR)")
    con.executemany("INSERT INTO pref VALUES (?)", [(p,) for p in prefixes])
    return sorted(
        r[0]
        for r in con.execute(
            f"""
            WITH s AS (
              SELECT url,
                     regexp_replace(lower(regexp_extract(url, '{_HOST_RE}', 1)),
                                    '^\\.+|\\.+$', '', 'g') AS h,
                     regexp_extract(url, '{_PATHQ_RE}', 1) AS pq
              FROM cand
            ), k AS (SELECT url, {_SURT_SQL} AS surt FROM s)
            SELECT url FROM k
            WHERE EXISTS (SELECT 1 FROM pref p
                          WHERE starts_with(k.surt, p.prefix))
            """
        ).fetchall()
    )


def test_scope_filter_matches_duckdb_replay(spark, docs):
    from warctools_spark.operators.urlspace import scope_filter, scope_prefixes

    urls = _synth_urls(docs.toPandas())
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    for mode, seeds in [
        ("domain", ["http://www.src3.example.com/x", "http://hot.example.com/"]),
        ("prefix", ["http://hot.example.com/doc/", "http://src7.example.com/session/"]),
        ("host", ["http://hot.example.com/"]),
    ]:
        seed_df = spark.createDataFrame([(s,) for s in seeds], "seed_url string")
        got = sorted(r.url for r in scope_filter(df, seed_df, mode).collect())
        prefixes = [r.prefix for r in scope_prefixes(seed_df, mode).collect()]
        want = _duck_scoped(urls, prefixes)
        assert len(got) > 0 and got == want, mode


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


# --------------------------------------------------------- change_rate


def test_change_rate_toy_semantics(spark):
    import math

    from warctools_spark.operators.frontier import change_rate

    def t(s):
        from datetime import datetime, timedelta

        return datetime(2026, 1, 1) + timedelta(seconds=s)

    cap = 30 * 24 * 3600 * 1_000_000
    rows = [
        # A: 4 fetches, 100 s apart, one digest flip -> n=3, X=1
        ("A", t(0), "d1"), ("A", t(100), "d1"),
        ("A", t(200), "d2"), ("A", t(300), "d2"),
        # B: single observation
        ("B", t(0), "d1"),
        # C: always changed (X = n) stays finite via the +0.5
        ("C", t(0), "d1"), ("C", t(10), "d2"), ("C", t(20), "d3"),
        # D: never changed -> rate exactly 0, due at the cap
        ("D", t(0), "d1"), ("D", t(50), "d1"),
    ]
    df = spark.createDataFrame(rows, "url string, ts timestamp, digest string")
    got = {r.url: r for r in change_rate(df).collect()}
    base_us = got["B"].next_due_us - cap  # t(0) in epoch micros

    lamA = -math.log((3 - 1 + 0.5) / 3.5) / 1e8
    assert got["A"].n_obs == 4 and got["A"].n_intervals == 3
    assert got["A"].n_changes == 1
    assert got["A"].rate_per_hour == round(lamA * 3.6e9, 6)
    assert got["A"].next_due_us == base_us + 300_000_000 + math.floor(1 / lamA)

    assert got["B"].n_obs == 1 and got["B"].n_intervals == 0
    assert got["B"].rate_per_hour == 0.0

    lamC = -math.log(0.5 / 2.5) / 1e7
    assert got["C"].n_changes == 2
    assert got["C"].rate_per_hour == round(lamC * 3.6e9, 6)

    assert got["D"].rate_per_hour == 0.0
    assert got["D"].next_due_us == base_us + 50_000_000 + cap


def test_change_rate_partitioning_invariant(spark):
    from warctools_spark.operators.frontier import change_rate

    from datetime import datetime, timedelta

    rows = [
        (
            "u%d" % (i % 17),
            datetime(2026, 1, 1) + timedelta(seconds=i * 37),
            "d%d" % ((i * i) % 5),
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "url string, ts timestamp, digest string")
    a = sorted(map(tuple, change_rate(df).collect()))
    b = sorted(map(tuple, change_rate(df.repartition(11)).collect()))
    assert a == b


def test_change_rate_matches_duckdb_replay(spark):
    from warctools_spark.operators.frontier import change_rate

    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    obs = ev.select(
        F.concat(
            F.lit("http://h"),
            (F.col("user_id") % 50).cast("string"),
            F.lit("/p"),
            (F.col("user_id") % 97).cast("string"),
        ).alias("url"),
        F.col("ts"),
        F.col("event_type").alias("digest"),
    )
    got = {tuple(r) for r in change_rate(obs).collect()}

    cap = 30 * 24 * 3600 * 1_000_000
    con = duckdb.connect()
    con.execute(
        f"CREATE TEMP TABLE events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH obs AS (
              SELECT concat('http://h', CAST(user_id % 50 AS VARCHAR),
                            '/p', CAST(user_id % 97 AS VARCHAR)) AS url,
                     epoch_us(ts) AS us, event_type AS digest
              FROM events
            ), seq AS (
              SELECT url, us, digest,
                     lag(us) OVER w AS prev_us,
                     lag(digest) OVER w AS prev_d
              FROM obs
              WINDOW w AS (PARTITION BY url ORDER BY us, digest)
            ), base AS (
              SELECT url, CAST(count(*) AS BIGINT) AS n_obs,
                     max(us) AS last_us
              FROM seq GROUP BY url
            ), iv AS (
              SELECT url, CAST(count(*) AS BIGINT) AS n_intervals,
                     CAST(sum(CASE WHEN digest IS DISTINCT FROM prev_d
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
                     CAST(sum(us - prev_us) AS BIGINT) AS sum_gap
              FROM seq WHERE prev_us IS NOT NULL GROUP BY url
            ), j AS (
              SELECT b.url, b.n_obs,
                     COALESCE(i.n_intervals, 0) AS n_intervals,
                     COALESCE(i.n_changes, 0) AS n_changes,
                     b.last_us, i.sum_gap,
                     -ln((CAST(i.n_intervals AS DOUBLE) - i.n_changes + 0.5)
                         / (i.n_intervals + 0.5))
                       * i.n_intervals / CAST(i.sum_gap AS DOUBLE) AS lam
              FROM base b LEFT JOIN iv i USING (url)
            )
            SELECT url, n_obs, n_intervals, n_changes,
                   ROUND(CASE WHEN sum_gap > 0 THEN lam ELSE 0.0 END
                         * 3.6e9, 6) AS rate_per_hour,
                   CAST(last_us + CASE
                     WHEN n_changes > 0 AND sum_gap > 0
                     THEN LEAST({cap}, CAST(floor(1.0 / lam) AS BIGINT))
                     ELSE {cap} END AS BIGINT) AS next_due_us
            FROM j
            """
        ).fetchall()
    }
    assert len(got) >= 10 and got == want


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


def test_change_rate_drops_null_timestamps(spark):
    from datetime import datetime, timedelta

    from warctools_spark.operators.frontier import change_rate

    def t(s):
        return datetime(2026, 1, 1) + timedelta(seconds=s)

    df = spark.createDataFrame(
        [("A", t(0), "d1"), ("A", None, "dX"), ("A", t(100), "d2")],
        "url string, ts timestamp, digest string",
    )
    row = change_rate(df).collect()[0]
    assert row.n_obs == 2 and row.n_intervals == 1 and row.n_changes == 1


# --------------------------------------------------- robots refetch due


def test_robots_refetch_due_semantics(spark):
    from datetime import datetime, timedelta

    from warctools_spark.operators.robots import robots_refetch_due

    base = datetime(2026, 1, 1)
    us0 = 1767225600 * 1_000_000  # 2026-01-01T00:00:00Z in epoch us
    log = spark.createDataFrame(
        [
            ("fresh.com", base, True),
            ("stale.com", base - timedelta(hours=25), True),
            ("erring.com", base - timedelta(hours=2), False),
            ("err-fresh.com", base - timedelta(minutes=30), False),
            # flapping host: failure then success -> latest wins
            ("flap.com", base - timedelta(hours=3), False),
            ("flap.com", base - timedelta(hours=1), True),
        ],
        "host string, fetch_ts timestamp, ok boolean",
    )
    hosts = spark.createDataFrame(
        [(h,) for h in
         ["fresh.com", "stale.com", "erring.com", "err-fresh.com",
          "flap.com", "never.com"]],
        "host string",
    )
    got = {r.host: r for r in robots_refetch_due(log, hosts, us0).collect()}
    assert not got["fresh.com"].due
    assert got["stale.com"].due          # ok but > 24h old
    assert got["erring.com"].due         # failed > 1h backoff
    assert not got["err-fresh.com"].due  # failed but inside backoff
    assert not got["flap.com"].due and got["flap.com"].last_ok
    assert got["never.com"].due and got["never.com"].last_fetch_us is None


def test_robots_refetch_due_matches_duckdb_replay(spark):
    from warctools_spark.operators.robots import robots_refetch_due

    ev = spark.read.parquet(SF_DIR + "/events.parquet")
    log = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string")).alias(
            "host"
        ),
        F.col("ts").alias("fetch_ts"),
        (F.col("event_id") % 3 != 0).alias("ok"),
    )
    hosts = spark.range(50).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host")
    )
    as_of = 1767225600 * 1_000_000
    got = {tuple(r) for r in robots_refetch_due(log, hosts, as_of).collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE TEMP TABLE events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH log AS (
              SELECT concat('h', CAST(user_id % 40 AS VARCHAR)) AS host,
                     epoch_us(ts) AS us, (event_id % 3 <> 0) AS ok
              FROM events
            ), latest AS (
              SELECT host,
                     max(struct_pack(us := us, ok := ok)) AS l
              FROM log GROUP BY host
            ), hosts AS (
              SELECT concat('h', CAST(range AS VARCHAR)) AS host
              FROM range(50)
            )
            SELECT h.host, l.l.us AS last_fetch_us, l.l.ok AS last_ok,
                   (l.l.us IS NULL
                    OR (l.l.ok AND {as_of} - l.l.us > {24*3600*1_000_000})
                    OR (NOT l.l.ok AND {as_of} - l.l.us > {3600*1_000_000}))
                     AS due
            FROM hosts h LEFT JOIN latest l USING (host)
            """
        ).fetchall()
    }
    assert len(got) == 50 and got == want


# --------------------------------------------------- anchor text profile


def test_anchor_text_profile_semantics(spark):
    from warctools_spark.operators.text_analysis import anchor_text_profile

    pairs = spark.createDataFrame(
        [
            ("u1", "http://t.com/", "Great Search Engine"),
            ("u2", "http://t.com/", "great search"),
            ("u3", "http://t.com/", "  "),  # empty anchor still counted
            ("u4", "http://t.com/", "search"),
            ("u5", "http://only.com/x", "solo"),
        ],
        "src_url string, link string, anchor string",
    )
    got = {r.link: r for r in anchor_text_profile(pairs, top_k=2).collect()}
    t = got["http://t.com/"]
    assert t.n_anchors == 4 and t.n_unique_anchors == 4
    tops = [(s.term, s.c) for s in t.top_anchors]
    assert tops == [("search", 3), ("great", 2)]
    s = got["http://only.com/x"]
    assert s.n_anchors == 1 and [(x.term, x.c) for x in s.top_anchors] == [
        ("solo", 1)
    ]


def test_anchor_text_profile_matches_duckdb_replay(spark, docs):
    from warctools_spark.operators.text_analysis import anchor_text_profile

    pairs = docs.select(
        F.concat(
            F.lit("http://t"), (F.col("doc_id") % 17).cast("string"), F.lit(".com/")
        ).alias("link"),
        F.concat(
            F.lit("anchor word"),
            (F.col("doc_id") % 5).cast("string"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" extra")).otherwise(F.lit("")),
        ).alias("anchor"),
    )
    rows = anchor_text_profile(pairs, top_k=3).collect()
    got = {
        r.link: (r.n_anchors, r.n_unique_anchors,
                 tuple((s.term, s.c) for s in r.top_anchors))
        for r in rows
    }

    con = duckdb.connect()
    con.register("docs", docs.select("doc_id").toPandas())
    want = {}
    for link, n, nu, tops in con.execute(
        """
        WITH pairs AS (
          SELECT concat('http://t', CAST(doc_id % 17 AS VARCHAR), '.com/')
                   AS link,
                 lower(trim(concat('anchor word',
                       CAST(doc_id % 5 AS VARCHAR),
                       CASE WHEN doc_id % 7 = 0 THEN ' extra'
                            ELSE '' END))) AS a
          FROM docs
        ), counts AS (
          SELECT link, CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT a) AS BIGINT) AS nu
          FROM pairs GROUP BY link
        ), terms AS (
          SELECT link, t, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT link,
                       unnest(string_split_regex(a, '\\s+')) AS t
                FROM pairs WHERE a <> '') WHERE t <> ''
          GROUP BY link, t
        ), top AS (
          SELECT link,
                 list(struct_pack(term := t, c := c)
                      ORDER BY c DESC, t)[1:3] AS tops
          FROM terms GROUP BY link
        )
        SELECT c.link, c.n, c.nu, t.tops
        FROM counts c LEFT JOIN top t USING (link)
        """
    ).fetchall():
        want[link] = (
            n, nu,
            tuple((d["term"], d["c"]) for d in (tops or [])),
        )
    assert len(got) == 17 and got == want


# ------------------------------------------------------- discover_seeds


def test_discover_seeds_composition(spark):
    from warctools_spark.functions.udfs import (
        udf_canonicalize_url,
        udf_url_host,
        udf_url_sha1,
    )
    from warctools_spark.operators.sitemap import discover_seeds, parse_sitemaps
    from warctools_spark.operators.urlspace import scope_filter

    xml_a = (
        "<urlset>"
        "<url><loc>http://a.com/page1</loc></url>"
        "<url><loc>http://a.com/page1#frag</loc></url>"  # same canon url
        "<url><loc>http://sub.a.com/page2</loc></url>"
        "<url><loc>http://other.com/out-of-scope</loc></url>"
        "</urlset>"
    )
    xml_idx = (
        "<sitemapindex>"
        "<sitemap><loc>http://a.com/sitemap2.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    maps = spark.createDataFrame(
        [("http://a.com/sitemap.xml", xml_a), ("http://a.com/idx.xml", xml_idx)],
        "url string, xml string",
    )
    seeds = ["http://www.a.com/"]
    got = {
        r.canon_url: r
        for r in discover_seeds(maps, seeds, "domain").collect()
    }
    # scope gate kept only a.com-domain urls; canon dedup folded the
    # fragment variant; the sitemapindex entry is NOT a seed
    assert len(got) == 2
    assert {u.split("://")[1].split("/")[0] for u in got} == {
        "a.com",
        "sub.a.com",
    }
    for r in got.values():
        assert r.depth == 0 and r.url_sha1 and r.host.endswith("a.com")

    # composition == running the stages by hand
    manual = (
        scope_filter(
            parse_sitemaps(maps)
            .where(F.col("kind") == "urlset")
            .select(F.col("loc").alias("url")),
            seeds,
            "domain",
        )
        .select(
            udf_canonicalize_url(F.col("url")).alias("canon_url"),
            udf_url_sha1(F.col("url")).alias("url_sha1"),
            udf_url_host(F.col("url")).alias("host"),
        )
        .withColumn("depth", F.lit(0))
        .dropDuplicates(["url_sha1"])
    )
    assert sorted(map(tuple, manual.select(
        "url_sha1", "canon_url", "host", "depth").collect())) == sorted(
        map(tuple, discover_seeds(maps, seeds, "domain").collect())
    )
    # unscoped: out-of-scope url survives
    assert len(discover_seeds(maps).collect()) == 3


def test_discover_seeds_feeds_epoch(spark):
    """The discovered seed table IS a valid frontier queue: run one
    epoch on it without any glue."""
    from warctools_spark.operators.sitemap import discover_seeds

    xml = (
        "<urlset><url><loc>http://hot.example.com/doc/1.html</loc></url>"
        "<url><loc>http://src3.example.com/doc/23.html</loc></url></urlset>"
    )
    maps = spark.createDataFrame(
        [("http://hot.example.com/sitemap.xml", xml)], "url string, xml string"
    )
    q = discover_seeds(maps)
    assert q.columns == ["url_sha1", "canon_url", "host", "depth"]
    assert q.count() == 2


# ----------------------------------------------------- temperature mix


def test_temperature_rates_semantics(spark):
    from warctools_spark.operators.sampling import temperature_rates

    docs = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        "doc_id long, source string",
    )
    got = {r.source: r for r in temperature_rates(docs, alpha=0.5).collect()}
    p_big, p_small = 0.9, 0.1
    z = p_big**0.5 + p_small**0.5
    assert got["big"].p == 0.9 and got["small"].p == round(0.1, 9)
    assert got["big"].q == round(p_big**0.5 / z, 9)
    assert got["small"].q == round(p_small**0.5 / z, 9)
    # alpha=1 keeps natural shares; alpha=0 is uniform
    nat = {r.source: r.q for r in temperature_rates(docs, alpha=1.0).collect()}
    assert nat == {"big": 0.9, "small": 0.1}
    uni = {r.source: r.q for r in temperature_rates(docs, alpha=0.0).collect()}
    assert uni == {"big": 0.5, "small": 0.5}
    # rate caps at 1.0 when the budget over-asks a small stratum
    rated = {
        r.source: r.rate
        for r in temperature_rates(docs, alpha=0.0, n_target=80).collect()
    }
    assert rated["small"] == 1.0  # 80*0.5/10 = 4 -> capped
    assert rated["big"] == round(80 * 0.5 / 90, 9)
    with pytest.raises(ValueError):
        temperature_rates(docs, alpha=-1)


def test_temperature_mix_deterministic_and_audited(spark):
    from warctools_spark.operators.sampling import mix_report, temperature_mix

    docs = spark.createDataFrame(
        [(i, "a" if i % 10 < 8 else "b", "t") for i in range(2000)],
        "doc_id long, source string, text string",
    )
    s1 = sorted(r.doc_id for r in temperature_mix(docs, 0.3, 400).collect())
    s2 = sorted(
        r.doc_id
        for r in temperature_mix(docs.repartition(13), 0.3, 400).collect()
    )
    assert s1 == s2 and len(s1) > 0
    rep = {
        r.source: r
        for r in mix_report(
            docs, temperature_mix(docs, 0.3, 400)
        ).collect()
    }
    # the flattened mix oversamples the small stratum relative to 0.2
    assert rep["b"].achieved_frac > rep["a"].achieved_frac


def test_temperature_rates_matches_duckdb_replay(spark, docs):
    from warctools_spark.operators.sampling import temperature_rates

    alpha, n_target = 0.3, 200
    got = {
        tuple(r)
        for r in temperature_rates(docs, alpha, n_target, "source").collect()
    }
    con = duckdb.connect()
    con.register("docs", docs.select("source").toPandas())
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH c AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n FROM docs GROUP BY 1
            ), t AS (SELECT CAST(sum(n) AS DOUBLE) AS nt FROM c),
            w AS (
              SELECT source, n, pow(n / t.nt, {alpha}) AS w, t.nt
              FROM c CROSS JOIN t
            ), z AS (SELECT sum(w) AS Z FROM w)
            SELECT source, n AS n_corpus,
                   ROUND(n / nt, 9) AS p,
                   ROUND(w / z.Z, 9) AS q,
                   ROUND(LEAST(1.0, {n_target} * (w / z.Z) / n), 9) AS rate
            FROM w CROSS JOIN z
            """
        ).fetchall()
    }
    assert got == want


# --------------------------------------------------------- image dhash


def _img_blob(pattern):
    import numpy as np

    from warctools_spark.operators.multimodal import encode_img1

    arr = np.asarray(pattern, dtype=np.uint8)
    return encode_img1(arr.shape[1], arr.shape[0], 1, arr.tobytes())


def test_image_dhash_semantics(spark):
    import numpy as np

    from warctools_spark.operators.multimodal import image_dhash

    base = np.tile(np.arange(0, 90, 10, dtype=np.uint8), (8, 1))  # 9x8 ramp
    doubled = np.kron(base, np.ones((2, 2), dtype=np.uint8))  # 18x16
    tweaked = base.copy()
    tweaked[0, 0] = 89  # flips at most one comparison
    inverted = base[:, ::-1].copy()
    rows = [
        (0, "img1", _img_blob(base)),
        (1, "img1", _img_blob(base)),
        (2, "img1", _img_blob(doubled)),
        (3, "img1", _img_blob(tweaked)),
        (4, "img1", _img_blob(inverted)),
        (5, "img1", b"JUNK"),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, blob binary")
    got = {r.media_id: r.dhash for r in image_dhash(df).collect()}
    assert got[0] == got[1]              # byte-identical -> equal
    assert got[0] == got[2]              # 2x nearest upscale -> equal
    assert got[5] is None                # undecodable -> null
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert 0 <= ham(got[0], got[3]) <= 2  # one-pixel tweak: tiny distance
    assert ham(got[0], got[4]) >= 30      # mirrored ramp: far


def test_image_neardup_pairs_exact_recall_and_replay(spark):
    from warctools_spark.operators.multimodal import image_neardup_pairs

    # handcrafted hashes incl. negative (bit-63) values
    h0 = -(1 << 63) + 12345
    rows = [
        (0, h0),
        (1, h0 ^ 0b101),          # hamming 2 from 0
        (2, h0 ^ (1 << 20) ^ (1 << 40) ^ (1 << 60)),  # hamming 3
        (3, 777),                  # far from everything
        (4, None),                 # null dropped
    ]
    df = spark.createDataFrame(rows, "media_id long, dhash long")
    got = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in image_neardup_pairs(df, max_hamming=3).collect()
    }
    assert got == {(0, 1): 2, (0, 2): 3, (1, 2): 5} or got == {
        (0, 1): 2,
        (0, 2): 3,
    }
    # (1,2) has hamming 5 -> must NOT appear at max_hamming=3
    assert (1, 2) not in got

    con = duckdb.connect()
    con.execute("CREATE TEMP TABLE h (media_id BIGINT, dhash BIGINT)")
    con.executemany(
        "INSERT INTO h VALUES (?, ?)", [(i, v) for i, v in rows]
    )
    want = {
        (a, b): hm
        for a, b, hm in con.execute(
            """
            WITH bands AS (
              SELECT media_id, dhash, i AS band_ix,
                     (dhash >> (16 * i)) & 65535 AS key
              FROM h CROSS JOIN UNNEST([0,1,2,3]) AS t(i)
              WHERE dhash IS NOT NULL
            )
            SELECT DISTINCT a.media_id, b.media_id,
                   bit_count(xor(a.dhash, b.dhash)) AS hamming
            FROM bands a JOIN bands b
              ON a.band_ix = b.band_ix AND a.key = b.key
             AND a.media_id < b.media_id
            WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
            """
        ).fetchall()
    }
    assert got == want
    with pytest.raises(ValueError):
        image_neardup_pairs(df, n_bands=9)


def test_image_neardup_distinct_hash_collapse(spark):
    from warctools_spark.operators.multimodal import image_neardup_pairs

    rows = [(i, 4242) for i in range(6)] + [(10, 4242 ^ 0b11), (11, 999999)]
    df = spark.createDataFrame(rows, "media_id long, dhash long")
    # scale default: identical hashes collapse to min(media_id) --
    # exactly ONE representative pair relates the two hash values
    got = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in image_neardup_pairs(df).collect()
    }
    assert got == {(0, 10): 2}
    # full mode relates every member
    full = image_neardup_pairs(df, distinct_hashes=False).collect()
    assert len(full) == 15 + 6  # C(6,2) zero-distance + 6 x (i,10)


# --------------------------------------------------------------- zipnum


def test_write_zipnum_roundtrip_and_lookup(spark, tmp_path, docs):
    import gzip as _gzip
    import os

    from warctools_spark.operators.archive_ops import (
        cdxj_lines,
        write_zipnum,
        zipnum_lookup,
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

    # point lookups hit exactly the right lines via the summary file
    want = sorted(
        r.line for r in lines.collect()
        if r.line.startswith("com,example,h7)")
    )
    got = zipnum_lookup(dest, "com,example,h7)")
    assert got == want and len(got) > 0
    assert zipnum_lookup(dest, "com,nosuchhost)") == []
    # determinism: a second write produces byte-identical members
    dest2 = str(tmp_path / "zipnum2")
    write_zipnum(lines, dest2, n_shards=4, block_lines=40)
    for r in srows:
        with open(os.path.join(dest, r.file), "rb") as a, open(
            os.path.join(dest2, r.file), "rb"
        ) as b:
            assert a.read() == b.read()


# ---------------------------------------------------- audio fingerprint


def _tone(n, sr=16000, seed=0):
    import numpy as np

    t = np.arange(n) / sr
    rng = np.random.RandomState(seed)
    sig = (
        0.4 * np.sin(2 * np.pi * 440 * t)
        + 0.3 * np.sin(2 * np.pi * 1200 * t * (1 + 0.1 * np.sin(t)))
        + 0.05 * rng.randn(n)
    )
    return (sig * 16000).astype("<i2")


def test_audio_fingerprint_and_matching(spark):
    import numpy as np

    from warctools_spark.operators.multimodal import (
        audio_fingerprint,
        audio_match_pairs,
        encode_aud1,
    )

    hop = 1024
    content = _tone(24 * hop, seed=1)
    prefix = _tone(8 * hop, seed=2)          # different content, aligned
    unrelated = _tone(24 * hop, seed=3)
    rows = [
        (0, "aud1", encode_aud1(16000, content.tobytes())),
        (1, "aud1", encode_aud1(16000, np.concatenate([prefix, content]).tobytes())),
        (2, "aud1", encode_aud1(16000, unrelated.tobytes())),
        (3, "aud1", encode_aud1(16000, (content // 2).tobytes())),  # half volume
        (4, "aud1", b"JUNK"),
        (5, "aud1", encode_aud1(16000, content[:100].tobytes())),  # too short
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, blob binary")
    fps = audio_fingerprint(df).cache()
    by_id = {}
    for r in fps.collect():
        by_id.setdefault(r.media_id, {})[r.frame_ix] = r.fp
    assert set(by_id) == {0, 1, 2, 3}  # junk and too-short emit nothing
    # volume invariance: exact halving flips no comparison bits
    assert by_id[0] == by_id[3]
    # the embedded copy reproduces the clip's fingerprints at +8 frames
    shared = [
        i for i in by_id[0] if by_id[1].get(i + 8) == by_id[0][i]
    ]
    assert len(shared) >= len(by_id[0]) - 2

    pairs = {
        (r.media_id_a, r.media_id_b): r
        for r in audio_match_pairs(fps, min_matches=5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)].offset == 8
    assert (0, 3) in pairs and pairs[(0, 3)].offset == 0
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_audio_match_silence_df_gate(spark):
    import numpy as np

    from warctools_spark.operators.multimodal import (
        audio_fingerprint,
        audio_match_pairs,
        encode_aud1,
    )

    silence = np.zeros(16 * 1024, dtype="<i2")
    rows = [
        (i, "aud1", encode_aud1(16000, silence.tobytes())) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, blob binary")
    fps = audio_fingerprint(df)
    # constant signal -> degenerate identical fingerprints; the
    # frequency gate keeps them out of the join entirely
    assert audio_match_pairs(fps, min_matches=2, max_fp_freq=10).count() == 0


def test_review_fixes_round5b(spark):
    """Regressions for the second review pass: multi-channel dHash,
    hamming/band guard, audio frame guard, null-ok robots rows,
    uncastable string timestamps in change_rate."""
    import numpy as np
    from datetime import datetime

    from warctools_spark.operators.frontier import change_rate
    from warctools_spark.operators.multimodal import (
        audio_fingerprint,
        encode_img1,
        image_dhash,
        image_neardup_pairs,
    )
    from warctools_spark.operators.robots import robots_refetch_due

    # multi-channel IMG1: per-pixel channel sum, not raw interleave —
    # a 3-channel image whose channels all equal the gray image must
    # hash identically to it
    gray = np.tile(np.arange(0, 90, 10, dtype=np.uint8), (8, 1))
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    blob_gray = encode_img1(9, 8, 1, gray.tobytes())
    blob_rgb = encode_img1(9, 8, 3, rgb.tobytes())
    df = spark.createDataFrame(
        [(0, "img1", blob_gray), (1, "img1", blob_rgb)],
        "media_id long, kind string, blob binary",
    )
    got = {r.media_id: r.dhash for r in image_dhash(df).collect()}
    assert got[0] is not None and got[0] == got[1]

    # recall guard: banding cannot promise hamming > n_bands-1
    hashes = spark.createDataFrame([(0, 1)], "media_id long, dhash long")
    with pytest.raises(ValueError):
        image_neardup_pairs(hashes, max_hamming=5, n_bands=4)

    # audio frame guard: too few fft bins for the band count
    media = spark.createDataFrame(
        [(0, "aud1", b"AUD1\x00\x00>\x80" + b"\x00" * 4096)],
        "media_id long, kind string, blob binary",
    )
    with pytest.raises(ValueError):
        audio_fingerprint(media, frame=64)

    # null-ok robots rows: due stays BOOLEAN (failure semantics)
    log = spark.createDataFrame(
        [("h", datetime(2025, 12, 31, 22, 0, 0), None)],
        "host string, fetch_ts timestamp, ok boolean",
    )
    hosts = spark.createDataFrame([("h",)], "host string")
    row = robots_refetch_due(log, hosts, 1767225600 * 1_000_000).collect()[0]
    assert row.due is True  # unknown outcome, 2h old -> past the backoff

    # string ts column with junk values: filtered at the CAST, so the
    # real interval survives
    obs = spark.createDataFrame(
        [
            ("u", "2026-01-01 00:00:00", "d1"),
            ("u", "not-a-date", "dX"),
            ("u", "2026-01-01 00:01:40", "d2"),
        ],
        "url string, ts string, digest string",
    )
    r = change_rate(obs).collect()[0]
    assert r.n_obs == 2 and r.n_intervals == 1 and r.n_changes == 1
