"""Filesystem seam for lineage/manifest IO, routed through the Hadoop
FileSystem API (via the Spark JVM gateway).

The lineage layer must work wherever the sinks live: local disks in this
sandbox, HDFS or an object store (s3a://, gs://, abfs://) on the 100 TB
deployment. Raw ``os.*`` calls only work for the first case, so every
manifest read/write and parquet-footer enumeration goes through
``org.apache.hadoop.fs.FileSystem`` resolved from the path's own scheme —
identical code paths for file:/ and s3a:/ URIs (the resume test exercises
file:/ URIs explicitly to prove no raw-os dependency). Callers use
``HadoopFS``'s methods; only this module touches the Hadoop objects.

``parquet_part_files`` is the one part-file inventory (path, bytes, rows)
behind sink lineage (operators/sinks.py), the TTL audit
(operators/retention.py) and compaction (operators/compact.py); it alone
decides between driver footer reads and one distributed scan, and it
skips the hidden paths Spark's reader skips. Footer row counts come from
``parquet-hadoop``'s ``ParquetFileReader`` (already on Spark's classpath),
which on object storage issues ranged GETs for the footer only.
"""

from __future__ import annotations

from itertools import islice
from urllib.parse import unquote, urlparse


def join_path(*parts: str) -> str:
    """URI-safe path join (os.path.join would mangle scheme-qualified
    paths on Windows-style separators and cannot express s3a:// roots)."""
    cleaned = [p.rstrip("/") for p in parts if p]
    return "/".join(cleaned)


class HadoopFS:
    """Thin wrapper over the Hadoop FileSystem of a given path's scheme."""

    def __init__(self, spark, path: str):
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(path).getFileSystem(self._conf)

    def _p(self, path: str):
        return self._Path(path)

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._p(path))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        """tmp-write + overwrite-rename. The rename goes through
        ``FileContext.rename(..., Options.Rename.OVERWRITE)`` — one atomic
        step on HDFS and local FS, so there is never an instant where the
        target is absent (a delete-then-rename pair would lose the manifest
        to a crash between the two calls and silently restart every sink on
        resume). Schemes without an AbstractFileSystem binding (some
        object-store connectors) fall back to delete+rename; readers cover
        that window by falling back to the completed ``.tmp`` file
        (read_text_with_fallback) — the tmp is fully written and closed
        before any rename/delete starts, so the fallback never sees a
        partial manifest."""
        tmp = path + ".tmp"
        out = self._fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        target = self._p(path)
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                target.toUri(), self._conf
            )
            Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
            opts = self._gateway.new_array(Rename, 1)
            opts[0] = Rename.OVERWRITE
            fc.rename(self._p(tmp), target, opts)
        except Exception:
            # no FileContext for this scheme (UnsupportedFileSystemException,
            # typical of object stores): non-atomic fallback; a real rename
            # failure (missing tmp, permissions) re-raises from here too
            if self._fs.exists(target):
                self._fs.delete(target, False)
            self._fs.rename(self._p(tmp), target)

    def read_text_with_fallback(self, path: str) -> str | None:
        """Read ``path``; if absent, read the completed ``path``.tmp left by
        a crash inside the non-atomic fallback rename window; None if
        neither exists."""
        if self.exists(path):
            return self.read_text(path)
        tmp = path + ".tmp"
        if self.exists(tmp):
            return self.read_text(tmp)
        return None

    def list_dirs(self, path: str) -> list[tuple[str, str]]:
        """(name, uri) of every child directory of ``path``."""
        return [
            (st.getPath().getName(), st.getPath().toString())
            for st in self._fs.listStatus(self._p(path))
            if st.isDirectory()
        ]

    def delete(self, path: str) -> None:
        """Recursive delete."""
        self._fs.delete(self._p(path), True)

    def rename(self, src: str, dst: str) -> None:
        self._fs.rename(self._p(src), self._p(dst))

    def iter_files(self, path: str):
        """Yield (uri, byte length) of every file under ``path``, any
        nesting depth, lazily: the caller may stop the listing early. The
        lengths come from the listing statuses (no per-file status
        lookup)."""
        it = self._fs.listFiles(self._p(path), True)
        while it.hasNext():
            st = it.next()
            yield st.getPath().toString(), int(st.getLen())

    def parquet_row_count(self, path: str) -> int:
        """Footer-only row count of ONE file via parquet-hadoop (ranged GET
        on object storage; no data pages read). parquet_part_files loops
        this on the driver only for small directories; the test suite also
        uses it to cross-check the distributed counts."""
        HadoopInputFile = self._jvm.org.apache.parquet.hadoop.util.HadoopInputFile
        ParquetFileReader = self._jvm.org.apache.parquet.hadoop.ParquetFileReader
        reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(self._p(path), self._conf)
        )
        try:
            return int(reader.getRecordCount())
        finally:
            reader.close()

    def _relativizer(self, base: str):
        """A function mapping a fully-qualified URI under directory
        ``base`` to its path relative to ``base`` (other URIs come back
        unchanged). One py4j round-trip to qualify ``base``; each call is
        pure-Python URI parsing, so relativizing many part files stays O(1)
        gateway calls. Handles the ``file:///p`` vs ``file:/p`` rendering
        split by comparing parsed components."""
        bq = urlparse(self._fs.makeQualified(self._p(base)).toString())
        prefix = bq.path.rstrip("/") + "/"

        def rel(uri: str) -> str:
            q = urlparse(uri)
            if (
                q.scheme == bq.scheme
                and q.netloc == bq.netloc
                and q.path.startswith(prefix)
            ):
                return q.path[len(prefix):]
            return uri

        return rel


# Up to this many part files, per-file driver footer reads (a few ms each:
# one py4j round-trip + a footer-ranged read) are cheaper than a Spark
# job's fixed scheduling cost — measured at sf0.1 this was the round-3
# full_pipeline regression (+0.5s: four per-sink footer-count JOBS whose
# fixed costs dominate at small scale). At the 100 TB target every real
# sink has >> 64 files, so production takes the distributed tier.
SMALL_SINK_MAX_FILES = 64


def _spark_reads(rel: str) -> bool:
    """Whether Spark's file reader lists the file at ``rel`` (a path below
    the read root): it skips every name starting with ``_`` that holds no
    ``=`` (commit dirs such as ``_temporary``; ``k=v`` partition dirs
    stay) and every name starting with ``.`` (HadoopFSUtils.
    shouldFilterOutPathName, applied at each directory level)."""
    return not any(
        s.startswith(".") or (s.startswith("_") and "=" not in s)
        for s in rel.split("/")
    )


def parquet_part_files(
    spark, root: str, dirs: list[str] | None = None
) -> list[tuple[str, int, int]]:
    """Sorted (path relative to ``root``, byte length, row count) of every
    parquet part file Spark's reader sees under ``dirs`` (default: the
    whole ``root``; each dir must lie below ``root``). The one part-file
    inventory: sink lineage, the TTL audit and compaction's fingerprints
    all read it, so they count exactly the rows ``spark.read.parquet``
    returns.

    Two tiers, decided here while listing:
    - driver tier: walk the recursive listing and keep the ``.parquet``
      files Spark reads (``_spark_reads``). Lengths come from the listing
      statuses and rows from each footer (ms each; no Spark job — the
      fixed per-job cost is the regression at tiny scale).
    - distributed tier, as soon as more than SMALL_SINK_MAX_FILES files
      are kept: one empty-required-schema scan (no column pages decoded,
      row counts served from row-group metadata; no schema inference, so
      directories holding only commit markers give no rows and no error)
      grouped by ``_metadata.file_path``/``file_size``. At 10^5-10^6 part
      files this is seconds of cluster-parallel metadata work; a serial
      driver loop would be minutes inside every commit. A part file with
      zero rows yields no scan row, so only the driver tier lists it.

    Listing or footer failures PROPAGATE: a blanket catch here would let a
    transient object-store error pass for an empty directory."""
    from pyspark.sql.types import StructType

    dirs = [root] if dirs is None else dirs
    fs = HadoopFS(spark, root)
    rel = fs._relativizer(root)

    def listed():
        for d in dirs:
            for uri, n_bytes in fs.iter_files(d):
                r = rel(uri)
                if r.endswith(".parquet") and _spark_reads(r):
                    yield r, n_bytes, uri

    kept = list(islice(listed(), SMALL_SINK_MAX_FILES + 1))
    if len(kept) <= SMALL_SINK_MAX_FILES:
        return sorted(
            (r, n_bytes, fs.parquet_row_count(uri)) for r, n_bytes, uri in kept
        )
    rows = (
        spark.read.schema(StructType())
        .parquet(*dirs)
        .groupBy("_metadata.file_path", "_metadata.file_size")
        .count()
        .collect()
    )
    # _metadata.file_path is percent-encoded; listing paths are not
    return sorted(
        (rel(unquote(p)), int(n_bytes), int(n)) for p, n_bytes, n in rows
    )
