"""The benchmark workloads.

Each workload writes its seeded inputs, then runs one operation at a time
from a single caller (closed loop) and checks every result against the
generator's expected answer:

  frontier_epoch  one frontier epoch over a Zipf-host page set
  warc_ingest     WARC segments -> pages, CDX and warc2warc on disk

`op(tracer)` returns an Op (result, items done, wall and CPU seconds),
with a span around each call into the program when a tracer is given;
`check(result)` returns a list of mismatches; `layers(tracer)`, run
after a traced `op`, returns the per-layer metrics that need work of
their own (noop-sink runs of parts of the operation) and whether their
row counts were right.
Kernel micro-timings run single-threaded in the benchmark process on a
seeded sample of the workload's own inputs.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

import gen
from tracing import NO_TRACE, cpu_s


@dataclass
class Op:
    result: object
    items: int  # work units done: links harvested or WARC records
    wall: float  # seconds
    cpu: float  # CPU seconds of the driver JVM and its Python workers


def _write_parquet(path: str, columns: dict, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    per = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * per, per), os.path.join(path, "part-%03d.parquet" % i))


def _noop(df, obs=None):
    """Run df to completion into the noop sink; with `obs`, count its
    rows on the way without an extra job."""
    from pyspark.sql import functions as F

    if obs is not None:
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    df.write.format("noop").mode("overwrite").save()
    return obs.get if obs is not None else None


def _us_per(fn, items) -> float:
    t = time.perf_counter()
    for it in items:
        fn(it)
    return (time.perf_counter() - t) / max(len(items), 1) * 1e6


def page_kernels(pages: list, rng: random.Random, n: int = 400) -> dict:
    """Single-thread µs per item of the HTTP decode, link and canon
    kernels over a seeded sample of pages."""
    from warctools_spark.kernels.canon import canon_parts, canon_parts_fast
    from warctools_spark.kernels.http_decode import decode_http
    from warctools_spark.kernels.links import extract_links

    sample = rng.sample(pages, min(n, len(pages)))
    out = {}
    for v, name in enumerate(gen.WIRE_VARIANTS):
        # page p uses wire variant p % 4 (gen.zipf_pages)
        part = [p.html for p in sample if gen.page_id(p.url) % 4 == v]
        out["kernels.http_decode.us_per_page." + name] = _us_per(
            lambda h: decode_http(h, kind="response").decoded_body(), part
        )
    bodies = [(p.url, decode_http(p.html, kind="response").decoded_body()) for p in sample]
    links: list[str] = []
    out["kernels.links.us_per_page"] = _us_per(
        lambda ub: links.extend(extract_links(ub[0], ub[1])), bodies
    )
    out["kernels.links.links_per_page"] = len(links) / max(len(bodies), 1)
    canon_parts.cache_clear()
    out["kernels.canon.us_per_link"] = _us_per(canon_parts_fast, links)
    return out


def executor_memo_ratios(spark, n_tasks: int = 32) -> dict:
    """Hit ratios of the URL memos (kernels.canon.canon_parts and the
    page-URL parse of kernels.links), summed over the Python workers the
    probe tasks reach. The probe runs through mapInPandas, as the harvest
    does, so it lands on the same pool of Arrow workers. No lookups read
    as 0."""
    import pandas as pd

    def info(batches):
        from warctools_spark.kernels.canon import canon_parts
        from warctools_spark.kernels.links import _urlparse

        for _ in batches:
            pass
        c, u = canon_parts.cache_info(), _urlparse.cache_info()
        yield pd.DataFrame({"pid": [os.getpid()], "c_hits": [c.hits], "c_misses": [c.misses],
                            "u_hits": [u.hits], "u_misses": [u.misses]})

    schema = "pid long, c_hits long, c_misses long, u_hits long, u_misses long"
    rows = spark.range(n_tasks).repartition(n_tasks).mapInPandas(info, schema).collect()
    per_pid = {r["pid"]: r for r in rows}.values()
    out = {}
    for name, k in (("kernels.canon", "c"), ("kernels.links", "u")):
        hits = sum(r[k + "_hits"] for r in per_pid)
        total = hits + sum(r[k + "_misses"] for r in per_pid)
        out[name + ".memo_hit_ratio"] = hits / total if total else 0.0
    return out


class Workload:
    name = ""
    unit = ""  # what items_per_s counts

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.rng = random.Random("kernels/%d" % seed)

    def fresh_inputs_dir(self) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        os.makedirs(self.inputs)


# ---------------------------------------------------------------- frontier


class FrontierEpoch(Workload):
    """harvest_canonicalized -> dedup_within_epoch -> dedup_against_seen
    -> politeness_schedule(salt_all) over pages whose outlinks spread
    over Zipf hosts plus one hot host."""

    name = "frontier_epoch"
    unit = "links"  # hrefs harvested, duplicates included
    N_PAGES, N_URLS, N_HOSTS, FILES, K = 4_000, 100_000, 10_000, 8, 10
    LINKS = (16, 32)

    def generate(self):
        import pyarrow as pa

        self.fresh_inputs_dir()
        docs = gen.make_documents(self.seed, 5000)
        model = gen.make_link_model(
            self.seed, self.N_URLS, self.N_PAGES, self.N_HOSTS, links=self.LINKS
        )
        self.pages = gen.zipf_pages(model, docs)
        _write_parquet(os.path.join(self.inputs, "pages"), {
            "url": pa.array([p.url for p in self.pages], pa.string()),
            "warc_ts": pa.array([p.warc_ts for p in self.pages], pa.timestamp("us", tz="UTC")),
            "html": pa.array([p.html for p in self.pages], pa.binary()),
            "text": pa.array([p.text for p in self.pages], pa.string()),
            "lang": pa.array([p.lang for p in self.pages], pa.string()),
        }, self.FILES)
        seen = gen.seen_half(self.seed, self.N_URLS)
        _write_parquet(
            os.path.join(self.inputs, "seen"),
            {"url_sha1": [gen.sha1_hex(model.url(u)) for u in seen]},
            4,
        )
        self.expect = gen.frontier_oracle(model, seen, self.K)

    def prepare(self, spark):
        self.spark = spark
        self.pages_df = spark.read.parquet(os.path.join(self.inputs, "pages"))
        self.seen_df = spark.read.parquet(os.path.join(self.inputs, "seen"))

    def stages(self, tracer=NO_TRACE):
        """The epoch's four DataFrames, each built by one call into
        operators.frontier (a span each when traced)."""
        from pyspark.sql import functions as F
        from warctools_spark.operators import frontier as FR

        def call(name, *args, **kw):
            with tracer.span("operators.frontier." + name):
                return getattr(FR, name)(*args, **kw)

        links = call("harvest_canonicalized", self.pages_df)
        cand = call("dedup_within_epoch", links.withColumn("depth", F.lit(1)))
        fresh = call("dedup_against_seen", cand, self.seen_df)
        sched = call("politeness_schedule", fresh, self.K, salt_all=True)
        return links, cand, fresh, sched

    def op(self, tracer=NO_TRACE):
        t, c = time.perf_counter(), cpu_s()
        sched = self.stages(tracer)[3]
        with tracer.span("frontier_epoch.digest"):
            digest = frontier_digest(sched)
        return Op(digest, self.expect["links"], time.perf_counter() - t, cpu_s() - c)

    def check(self, digest):
        want = (self.expect["scheduled"], self.expect["digest"])
        return [] if digest == want else ["schedule digest %s != oracle %s" % (digest, want)]

    def layers(self, tracer):
        """The epoch as cumulative noop-sink prefixes, one span each: a
        stage's self time is its prefix's wall minus the previous one's."""
        from pyspark.sql import Observation

        names = ("harvest_canonicalized", "dedup_within_epoch",
                 "dedup_against_seen", "politeness_schedule")
        outs = ("links_out", "candidates_out", "fresh_out", "scheduled_out")
        m, prev = {}, 0.0
        for name, out, df in zip(names, outs, self.stages()):
            obs = Observation()
            with tracer.span("noop_prefix." + name) as s:
                got = _noop(df, obs)
            wall = tracer.duration(s)
            m["operators.frontier.%s_s" % name] = wall - prev
            m["operators.frontier." + out] = got["rows"]
            prev = wall
        m["trace.self_sum_s"] = prev
        e = self.expect
        ok = tuple(m["operators.frontier." + o] for o in outs) == (
            e["links"], e["candidates"], e["fresh"], e["scheduled"])
        return m, ok

    def kernels(self):
        return page_kernels(self.pages, self.rng)


def frontier_digest(sched) -> tuple[int, int]:
    """(rows, sum of the first 32 bits of url_sha1): gen.schedule_digest
    computed by Spark over the program's schedule."""
    from pyspark.sql import functions as F

    row = sched.agg(
        F.count(F.lit(1)),
        F.sum(F.conv(F.substring("url_sha1", 1, 8), 16, 10).cast("long")),
    ).collect()[0]
    return row[0], row[1]


# ------------------------------------------------------------------ ingest


class WarcIngest(Workload):
    """read_warc -> records_to_pages + cdx_index, and
    warc2warc_decode(gzip_output=True) written to disk, over seeded
    request+response segments: one plain, one whole-file gzip, the rest
    one gzip member per record; a seeded 0.5% of responses malformed."""

    name = "warc_ingest"
    unit = "WARC records"
    N_PAGES, N_URLS, N_HOSTS, N_SEGMENTS = 600, 10_000, 1_000, 8

    def generate(self):
        self.fresh_inputs_dir()
        docs = gen.make_documents(self.seed, 5000)
        model = gen.make_link_model(
            self.seed, self.N_URLS, self.N_PAGES, self.N_HOSTS, stream="ingest"
        )
        self.pages = gen.zipf_pages(model, docs)
        self.warc = gen.make_warc(self.seed, self.pages, self.N_SEGMENTS)
        self.seg_dir = os.path.join(self.inputs, "warc")
        os.makedirs(self.seg_dir)
        for name, data in self.warc.files.items():
            with open(os.path.join(self.seg_dir, name), "wb") as f:
                f.write(data)

    def prepare(self, spark):
        self.spark = spark
        self.w2w_dir = os.path.join(self.work, "warc2warc")

    def records(self):
        from warctools_spark.sources.warc import read_warc

        return read_warc(self.spark, self.seg_dir).localCheckpoint(eager=True)

    @staticmethod
    def pages_of(records):
        from warctools_spark.operators.archive_ops import records_to_pages

        return records_to_pages(records).localCheckpoint(eager=True)

    def write_decoded(self, records) -> int:
        """warc2warc_decode(gzip_output=True) written to disk: one file per
        partition, each the concatenation of its records' bytes."""
        from warctools_spark.operators.archive_ops import warc2warc_decode

        out_dir = self.w2w_dir
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)

        def write(batches):
            import uuid

            import pandas as pd

            path = os.path.join(out_dir, "w2w-%s.warc.gz" % uuid.uuid4().hex)
            n = 0
            with open(path, "wb") as f:
                for pdf in batches:
                    for b in pdf["record_bytes"]:
                        f.write(b)
                        n += 1
            yield pd.DataFrame({"n": [n]})

        dec = warc2warc_decode(records, gzip_output=True).select("record_bytes")
        return sum(r[0] for r in dec.mapInPandas(write, "n long").collect())

    def op(self, tracer=NO_TRACE):
        from pyspark.sql import functions as F
        from warctools_spark.operators.archive_ops import cdx_index

        t, c = time.perf_counter(), cpu_s()
        with tracer.span("sources.warc.read_warc"):
            records = self.records()
        with tracer.span("operators.archive_ops.records_to_pages"):
            pages = self.pages_of(records)
        texts = pages.select("url", F.md5(F.encode("text", "utf-8"))).collect()
        errs = records.where(F.size("errors") > 0).select("record_id").collect()
        with tracer.span("operators.archive_ops.cdx_index"):
            cdx = cdx_index(pages).agg(F.count(F.lit(1)), F.sum("length")).collect()[0]
        with tracer.span("operators.archive_ops.warc2warc_decode"):
            written = self.write_decoded(records)
        result = {"texts": texts, "errs": errs, "cdx": tuple(cdx), "written": written}
        return Op(result, self.warc.n_records, time.perf_counter() - t, cpu_s() - c)

    def check(self, r):
        from pyspark.sql import functions as F
        from warctools_spark.sources.warc import read_warc

        w, bad = self.warc, []
        if len(r["texts"]) != w.n_responses or dict(r["texts"]) != w.text_md5:
            bad.append("extracted text differs")
        ids = [x[0] for x in r["errs"]]
        if len(ids) != len(w.malformed_ids) or set(ids) != w.malformed_ids:
            bad.append("error rows %d != seeded malformed %d" % (len(ids), len(w.malformed_ids)))
        if r["cdx"] != (w.n_responses, w.text_bytes):
            bad.append("cdx %s != %s" % (r["cdx"], (w.n_responses, w.text_bytes)))
        re = read_warc(self.spark, self.w2w_dir).agg(
            F.count(F.lit(1)), F.sum((F.size("errors") > 0).cast("long"))
        ).collect()[0]
        if r["written"] != w.n_records or re[0] != w.n_records or re[1]:
            bad.append("warc2warc: wrote %d, reparsed %d with %s errors, want %d"
                       % (r["written"], re[0], re[1], w.n_records))
        return bad

    def layers(self, tracer):
        """The archive operators' walls from the traced operation's spans,
        and read_warc alone into the noop sink, counting records and
        error rows on the way."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from warctools_spark.sources.warc import read_warc

        m = {"%s_s" % name: tracer.duration(tracer.last(name)) for name in (
            "operators.archive_ops.records_to_pages",
            "operators.archive_ops.cdx_index",
            "operators.archive_ops.warc2warc_decode",
        )}
        obs = Observation()
        df = read_warc(self.spark, self.seg_dir).observe(
            obs, F.count(F.lit(1)).alias("n"),
            F.sum((F.size("errors") > 0).cast("long")).alias("bad"))
        with tracer.span("noop.sources.warc.read_warc") as s:
            _noop(df)
        m["sources.warc.read_warc_s"] = tracer.duration(s)
        got = obs.get
        m["sources.warc.records"], m["sources.warc.error_records"] = got["n"], got["bad"]
        ok = (got["n"], got["bad"]) == (self.warc.n_records, len(self.warc.malformed_ids))
        return m, ok

    def kernels(self):
        from warctools_spark.kernels.warc_parse import parse_archive
        from warctools_spark.kernels.warc_write import write_warc_record

        out = page_kernels(self.pages, self.rng)
        data = self.warc.files[sorted(self.warc.files)[-1]]  # one gzip member per record
        t = time.perf_counter()
        rows = parse_archive(data)
        out["kernels.warc_parse.us_per_record"] = (time.perf_counter() - t) / len(rows) * 1e6
        heads = [[(b"WARC-Type", r.record_type or b""), (b"WARC-Target-URI", r.url or b"")]
                 for r in rows]
        t = time.perf_counter()
        for h, r in zip(heads, rows):
            write_warc_record(h, r.content_type, r.content, gzip_record=True)
        out["kernels.warc_write.us_per_record"] = (time.perf_counter() - t) / len(rows) * 1e6
        return out


WORKLOADS = {w.name: w for w in (FrontierEpoch, WarcIngest)}
