"""Round-5 self-review regressions (second pass over the round diff):

1. expire_snapshots with MIXED legacy-absolute + relative manifest
   references must protect the dirs the absolute refs denote under the
   current root — the zero-match guard alone only covers the all-legacy
   case.
2. rename_over on file:// is os.replace (atomic overwrite — the old
   regression window deleted the live file before renaming).
3. ngram_jaccard short-doc pairs score 0.0 (same guarded-denominator
   contract the round gave ngram_containment).
"""

import json
import os

from pyspark.sql import functions as F


# ---- 1. catalog: mixed legacy-absolute refs ----

def test_expire_protects_legacy_absolute_refs(spark, tmp_path):
    """A manifest whose seen_parts were committed as ABSOLUTE paths by
    an older version (and a root now spelled differently, so _rel
    cannot strip them) must still protect those dirs from the sweep
    when OTHER relative refs exist — the case the zero-match guard
    cannot catch."""
    from warctools_spark.plans.catalog import Catalog

    root = str(tmp_path / "cat")
    cat = Catalog(root, n_buckets=2)
    df = spark.range(3).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.col("id").cast("string").alias("url_sha1"),
    )
    t0 = cat.write_table(df, "seen_delta", 0)
    cat.commit(0, [t0], {"seen_parts": [t0["path"]]})
    t1 = cat.write_table(df, "seen_delta", 1)
    cat.commit(1, [t1], {"seen_parts": [t1["path"]]})

    # rewrite epoch-1's manifest the way a legacy version spelled it:
    # absolute paths under a DIFFERENT (but equivalent) root spelling
    mpath = os.path.join(root, "_manifests", "epoch_00001.json")
    m = json.load(open(mpath))
    legacy_root = str(tmp_path) + "/./cat"  # respelled absolute root
    m["tables"] = [
        {**t, "path": legacy_root + "/" + t["path"]} for t in m["tables"]
    ]
    m["metrics"]["seen_parts"] = [
        legacy_root + "/" + p for p in m["metrics"]["seen_parts"]
    ]
    json.dump(m, open(mpath, "w"))

    # keep only the newest snapshot: its refs are all legacy-absolute,
    # epoch 0's dirs are expired — but seen_delta/epoch=00001 must
    # survive because the surviving manifest references it (via the
    # respelled absolute path)
    out = cat.expire_snapshots(keep_last=1)
    assert 0 in out["expired_epochs"]
    assert "seen_delta/epoch=00001" not in out["deleted_dirs"]
    assert os.path.isdir(os.path.join(root, "seen_delta", "epoch=00001"))
    # and the kept snapshot still resolves its seen parts
    assert cat.seen_parts(1)


# ---- 2. fs: atomic overwrite on file:// ----

def test_rename_over_local_is_atomic_replace(spark, tmp_path):
    """On the local scheme rename_over must go through os.replace —
    pin by checking the destination inode CHANGES while the file is
    never absent (delete-then-rename leaves a window with no file; we
    can at least pin that overwrite works and no .tmp lingers)."""
    from warctools_spark.plans.fs import HadoopFS

    fs = HadoopFS(spark, str(tmp_path))
    p = str(tmp_path / "x.json")
    fs.write_text_atomic(p, "one")
    assert open(p).read() == "one"
    fs.write_text_atomic(p, "two")
    assert open(p).read() == "two"
    assert not os.path.exists(p + ".tmp")
    assert fs._fs.getScheme() == "file"  # the os.replace arm is live


# ---- 3. ngram_jaccard short docs ----

def test_ngram_jaccard_short_docs_zero(spark):
    from warctools_spark.operators.dedup import ngram_jaccard

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "ab"), (3, "x y z w")],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a bigint, id_b bigint"
    )
    rows = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard(docs, pairs).collect()
    }
    # both docs shorter than n=3 tokens: defined 0.0, not null
    assert rows[(1, 2)] == 0.0
    # one short, one long: still 0.0 (no shared shingles)
    assert rows[(1, 3)] == 0.0
