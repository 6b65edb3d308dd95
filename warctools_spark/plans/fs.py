"""Hadoop FileSystem seam for catalog / index sidecar I/O.

Everything the catalog does to its root — manifests, expiry sweeps,
sidecar JSON — goes through the JVM's `org.apache.hadoop.fs.FileSystem`
resolved FROM THE PATH, the same API `sources/warc.py::expand_files`
already uses for inputs. That makes `Catalog(root="s3a://bucket/crawl")`
the SAME code path as the local stand-in (verified in tests with a
`file://` root): a real 100 TB crawl catalog lives on an object store,
not the driver's local disk.

Atomicity note: `write_text_atomic` is write-temp + rename. On local
file:// the rename is os.replace — atomic even when overwriting. On
remote stores Hadoop's rename cannot overwrite, so an OVERWRITING
rewrite is delete-then-rename with a crash window in between (readers
then see a missing final file until the writer retries); first-time
writes are still never torn. S3-class stores add the copy+delete
caveat Iceberg's file-IO documents. The manifest protocol tolerates a
torn *temp* file (the previous manifest stays the latest consistent
snapshot).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _require_spark(spark: SparkSession | None) -> SparkSession:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "catalog filesystem access needs a SparkSession (none active)"
        )
    return spark


class HadoopFS:
    """Thin py4j wrapper over org.apache.hadoop.fs.FileSystem for one
    scheme+authority (resolved from the root path)."""

    def __init__(self, spark: SparkSession | None, root: str):
        spark = _require_spark(spark)
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._path(root).getFileSystem(self._conf)

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    # ---- queries ----
    def exists(self, p: str) -> bool:
        return self._fs.exists(self._path(p))

    def listdir(self, p: str) -> list[str]:
        """Child names (not full paths) of a directory; [] if absent."""
        hp = self._path(p)
        if not self._fs.exists(hp):
            return []
        return sorted(
            st.getPath().getName() for st in self._fs.listStatus(hp)
        )

    def listdir_dirs(self, p: str) -> list[str]:
        hp = self._path(p)
        if not self._fs.exists(hp):
            return []
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(hp)
            if st.isDirectory()
        )

    # ---- mutations ----
    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._path(p))

    def delete(self, p: str, recursive: bool = True) -> bool:
        return self._fs.delete(self._path(p), recursive)

    def rename_over(self, src: str, dst: str) -> None:
        """Rename src -> dst, replacing dst if present.

        On the local filesystem this is os.replace — genuinely atomic,
        so an overwriting manifest/sidecar rewrite can never leave the
        destination missing. Remote stores fall back to
        delete-then-rename, because Hadoop's FileSystem.rename refuses
        to overwrite: there a crash between the two calls can leave
        only the .tmp file (readers fail loudly until the writer
        retries) — the same non-atomic-overwrite caveat object-store
        rename has anyway."""
        if self._fs.getScheme() == "file":
            import os

            os.replace(self._local(src), self._local(dst))
            return
        hdst = self._path(dst)
        if self._fs.exists(hdst):
            self._fs.delete(hdst, False)
        if not self._fs.rename(self._path(src), hdst):
            raise IOError(f"rename failed: {src} -> {dst}")

    def _local(self, p: str) -> str:
        """Raw OS path for a file:// (or scheme-less) path."""
        return self._path(p).toUri().getPath()

    # ---- whole-file text ----
    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text(self, p: str, text: str) -> None:
        out = self._fs.create(self._path(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def write_text_atomic(self, p: str, text: str) -> None:
        tmp = p + ".tmp"
        self.write_text(tmp, text)
        self.rename_over(tmp, p)
