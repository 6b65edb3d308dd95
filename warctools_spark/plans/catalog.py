"""Snapshot catalog: bucketed-parquet tables + JSON manifests.

Stands in for an Iceberg catalog (SURVEY.md §7 phase 2 — the sandbox
has no Iceberg runtime jar) behind one seam: every epoch commits an
atomic snapshot per table (directory + manifest), resume reads the
latest consistent manifest set. The physical layout is the same story
Iceberg would give us:

* a table with a `host` column (the schedule and the queue) is
  written partitioned by `bucket` = pmod(xxhash64(host), n_buckets);
  the seen deltas and bases (`bucket_col=None`) and the Bloom table,
  which carries its own `bucket`, are written unpartitioned, so the
  seen-set anti-join still shuffles `seen` when it reads it back;
* manifests carry row counts + per-partition lineage metrics, so a
  resumed run can verify it sees exactly the state the failed run
  committed (north_rule: exact resume with per-partition lineage).

All catalog I/O goes through the Hadoop FileSystem resolved from the
root (plans/fs.py), so `Catalog(root="s3a://bucket/crawl")` is the
same code path as the local stand-in. Manifests record table paths
ROOT-RELATIVE: a catalog reopened under any equivalent spelling of the
same root (relative vs absolute, symlinked, re-mounted) resolves the
identical reference set — the failure mode where a respelled root made
every referenced path "unreferenced" and expire_snapshots swept live
crawl state cannot occur, and a belt-and-braces guard refuses to sweep
when surviving references match nothing on disk.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warctools_spark.plans.fs import HadoopFS


class Catalog:
    def __init__(self, root: str, n_buckets: int = 32):
        self.root = root.rstrip("/")
        self.n_buckets = n_buckets
        self._fs: HadoopFS | None = None

    @property
    def fs(self) -> HadoopFS:
        """Lazily-resolved Hadoop FileSystem for the root (needs an
        active SparkSession — resolved on first I/O, not construction)."""
        if self._fs is None:
            self._fs = HadoopFS(SparkSession.getActiveSession(), self.root)
        return self._fs

    # ---- paths ----
    def _join(self, *parts: str) -> str:
        return "/".join([self.root, *parts])

    def _rel(self, path: str) -> str:
        """Canonical root-relative form of a referenced path. Absolute
        legacy spellings under the current root are stripped; anything
        else (external or differently-spelled legacy) passes through
        unchanged and is handled by the zero-match sweep guard."""
        p = path.rstrip("/")
        if p.startswith(self.root + "/"):
            return p[len(self.root) + 1:]
        return p

    def _abs(self, path: str) -> str:
        """Resolve a manifest-recorded path to a readable location."""
        if "://" in path or path.startswith("/"):
            return path
        return self._join(path)

    def table_path(self, table: str, epoch: int) -> str:
        return self._join(table, f"epoch={epoch:05d}")

    def manifest_path(self, epoch: int) -> str:
        return self._join("_manifests", f"epoch_{epoch:05d}.json")

    # ---- commit ----
    def write_table(
        self, df: DataFrame, table: str, epoch: int, bucket_col: str | None = "host"
    ) -> dict:
        path = self.table_path(table, epoch)
        out = df
        if bucket_col is not None and bucket_col in df.columns:
            out = df.withColumn(
                "bucket",
                F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(self.n_buckets)).cast(
                    "int"
                ),
            )
            out.write.mode("overwrite").partitionBy("bucket").parquet(path)
        else:
            out.write.mode("overwrite").parquet(path)
        return {"table": table, "path": path}

    def commit(self, epoch: int, tables: list[dict], metrics: dict) -> None:
        """Atomic-enough snapshot commit: the manifest is written last,
        via rename, so a crash mid-epoch leaves the previous manifest as
        the latest consistent snapshot. Table paths (and the seen_parts
        metric) are stored root-relative — see the module docstring."""
        metrics = dict(metrics)
        if "seen_parts" in metrics:
            metrics["seen_parts"] = [
                self._rel(p) for p in metrics["seen_parts"]
            ]
        manifest = {
            "epoch": epoch,
            "committed_at": time.time(),
            "n_buckets": self.n_buckets,
            "tables": [
                {**t, "path": self._rel(t["path"])} for t in tables
            ],
            "metrics": metrics,
        }
        self.fs.mkdirs(self._join("_manifests"))
        self.fs.write_text_atomic(
            self.manifest_path(epoch), json.dumps(manifest, indent=2)
        )

    def seen_parts(self, epoch: int) -> list[str]:
        """The parquet paths whose union is the seen set at `epoch`
        (append-only deltas + compaction bases, recorded per manifest).
        epoch < 0 -> [] (crawl start)."""
        if epoch < 0:
            return []
        m = self.read_manifest(epoch)
        return [self._abs(p) for p in m["metrics"].get("seen_parts", [])]

    # ---- resume ----
    def latest_epoch(self) -> int | None:
        epochs = [
            int(name[len("epoch_") : -len(".json")])
            for name in self.fs.listdir(self._join("_manifests"))
            if name.startswith("epoch_") and name.endswith(".json")
        ]
        return max(epochs) if epochs else None

    def read_manifest(self, epoch: int) -> dict:
        path = self.manifest_path(epoch)
        if not self.fs.exists(path):
            raise FileNotFoundError(path)
        return json.loads(self.fs.read_text(path))

    def read_table(self, spark: SparkSession, table: str, epoch: int) -> DataFrame:
        df = spark.read.parquet(self.table_path(table, epoch))
        # the bucket partition column is physical layout, not table schema
        return df.drop("bucket") if "bucket" in df.columns else df

    # ---- snapshot maintenance (the Iceberg expire story) ----
    def list_epochs(self) -> list[int]:
        return sorted(
            int(name[len("epoch_"): -len(".json")])
            for name in self.fs.listdir(self._join("_manifests"))
            if name.startswith("epoch_") and name.endswith(".json")
        )

    def referenced_paths(self, epochs: list[int]) -> set:
        """Every physical path any of `epochs`' manifests still needs
        (canonical root-relative form): the epoch's own table dirs plus
        the seen parts its snapshot references — which, under
        append-only seen storage, reach BACK into older epochs'
        seen_delta dirs."""
        refs: set = set()
        for e in epochs:
            m = self.read_manifest(e)
            for t in m.get("tables", []):
                refs.add(self._rel(t["path"]))
            for p in m["metrics"].get("seen_parts", []):
                refs.add(self._rel(p))
        # Legacy manifests (or a respelled root) can leave ABSOLUTE
        # refs that _rel could not strip. The sweep only ever deletes
        # dirs under the CURRENT root, so an absolute ref can only be
        # endangered if it denotes a root dir via another spelling
        # (symlink, re-mount). Catalog layout is always
        # <root>/<table>/epoch=NNNNN, so protecting the ref's
        # two-component tail under the current root covers that case;
        # if the ref is genuinely external, keeping the same-named
        # local dir too is merely conservative — never a deletion.
        for r in list(refs):
            if "://" in r or r.startswith("/"):
                parts = r.rstrip("/").split("/")
                if len(parts) >= 2:
                    refs.add("/".join(parts[-2:]))
        return refs

    def expire_snapshots(self, keep_last: int = 8) -> dict:
        """Drop all but the newest `keep_last` snapshots and delete
        table directories no surviving snapshot references — bounded
        catalog storage for a 10^3-epoch crawl, where otherwise every
        epoch's schedule/queue table lives forever.

        Safety model (same as Iceberg's expire_snapshots): a path is
        deleted only if NO surviving manifest references it, so the
        append-only seen deltas a compacted-or-not latest snapshot
        still needs always survive, and `resume_state` after expiry is
        byte-identical to before. References are compared in canonical
        root-relative form, and if surviving references resolve to
        ZERO existing directories (a legacy manifest written under a
        different root spelling), the sweep refuses to delete anything
        rather than orphan live state. Manifests are removed first,
        data dirs second — a crash in between leaves only unreferenced
        orphan dirs (re-run to finish), never a manifest pointing at
        deleted data."""
        if keep_last < 1:
            # epochs[:-0] would silently keep everything; and keeping
            # ZERO snapshots is crawl-state destruction, which should
            # be an explicit delete, not an expiry policy
            raise ValueError("keep_last must be >= 1")
        epochs = self.list_epochs()
        # the orphan sweep runs even when no manifest expires: a crash
        # between an epoch's table writes and its manifest commit
        # leaves that epoch's data dirs unreferenced, and this is the
        # pass that reclaims them
        expired = epochs[:-keep_last] if len(epochs) > keep_last else []
        kept = epochs[len(expired):]
        keep_refs = self.referenced_paths(kept)
        if keep_refs and not any(
            self.fs.exists(self._abs(r)) for r in keep_refs
        ):
            raise RuntimeError(
                "expire_snapshots: surviving manifests reference zero "
                "existing paths under %r — refusing to sweep (catalog "
                "opened under a different root spelling than the one "
                "that committed?)" % self.root
            )
        for e in expired:
            self.fs.delete(self.manifest_path(e), recursive=False)
        deleted = []
        for table in self.fs.listdir_dirs(self.root):
            if table == "_manifests":
                continue
            for ep_dir in self.fs.listdir_dirs(self._join(table)):
                rel = f"{table}/{ep_dir}"
                if rel not in keep_refs:
                    self.fs.delete(self._join(rel), recursive=True)
                    deleted.append(rel)
        return {"expired_epochs": expired, "deleted_dirs": deleted}
