"""Warehouse abstraction: committed stage tables + snapshot resume.

Realizes the intended-but-empty ``ariadne`` persistence layer of the
reference (/root/reference/include/ariadne.hpp:29, call sites
src/arachne.cpp:103,205) as snapshot-committed tables: one directory
of plain parquet files per table under the warehouse root, with no
session-catalog entry; Spark's ``_SUCCESS`` marker is the commit
record.  Writes go to a temp dir and are atomically swapped into place,
so a killed run never leaves a half-written "committed" stage.  Every
file operation goes through the Hadoop FileSystem API resolved from
the session conf — the same warehouse root works on local disk, HDFS,
and S3A (driver-local ``os.rename`` would silently no-op or fail on a
remote filesystem).

``resume_or_compute`` gives the checkpoint-resume semantics demanded by
the north_rule: a stage whose table is committed is *read*, not
recomputed — kill the driver after stage N, restart, and stages 1..N
load from their snapshots.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` resolved from the session's
    Hadoop conf — works on local, HDFS, and S3A alike."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def checked_rename(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` reports failure by RETURNING FALSE
    (cross-device moves, permission errors, some object-store paths) —
    unlike ``os.rename``, which raises.  Every swap-protocol rename
    must go through this wrapper: ignoring the boolean and then
    deleting the backup turns a failed rename into silent data loss."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def swap_in(
    spark: SparkSession, final: str, write: Callable[[str], None]
) -> None:
    """The one directory-swap commit: ``write(tmp)`` fills
    ``<final>.__tmp`` (cleared first, so a failed earlier write leaves
    nothing behind), then final → ``.__old``, tmp → final, and the
    backup is deleted — unless a rename fails first (see restore)."""
    fs, fpath = hadoop_fs(spark, final)
    mk = spark._jvm.org.apache.hadoop.fs.Path
    tmp, old = mk(final + ".__tmp"), mk(final + ".__old")
    fs.delete(tmp, True)
    write(final + ".__tmp")
    fs.delete(old, True)
    if fs.exists(fpath):
        checked_rename(fs, fpath, old)
    checked_rename(fs, tmp, fpath)
    fs.delete(old, True)


def restore(spark: SparkSession, final: str) -> None:
    """Crash recovery for ``swap_in``: a crash between its two renames
    leaves ``final`` missing and the data at ``<final>.__old``."""
    fs, fpath = hadoop_fs(spark, final)
    old = spark._jvm.org.apache.hadoop.fs.Path(final + ".__old")
    if not fs.exists(fpath) and fs.exists(old):
        checked_rename(fs, old, fpath)


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        fs, rpath = hadoop_fs(spark, root)
        fs.mkdirs(rpath)

    def _path(self, table: str) -> str:
        # plain string join, not os.path.join: the root may be a URI
        # (hdfs://, s3a://) that os.path must not normalize
        return self.root.rstrip("/") + "/" + table

    def _jpath(self, path: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(path)

    def is_committed(self, table: str) -> bool:
        fs, _ = hadoop_fs(self.spark, self.root)
        return fs.exists(self._jpath(self._path(table) + "/_SUCCESS"))

    def write(
        self, df: DataFrame, table: str, mode: str = "overwrite"
    ) -> None:
        final = self._path(table)
        w = df.write.mode(mode)
        if mode == "append":
            w.parquet(final)
            return
        # overwrite: write to temp, atomically swap in via the Hadoop
        # FS API (rename is atomic on HDFS and local; on S3A the
        # object-store commit protocol underneath gives the same
        # all-or-nothing contract for the directory marker).  A
        # zero-row write leaves one schema-only part file, so an empty
        # stage still reads back with its schema.
        swap_in(self.spark, final, w.parquet)

    def file_row_counts(self, table: str) -> dict[int, int]:
        """{partition_id: rows} of a committed table, read from file
        metadata instead of the data: the record count in each parquet
        footer.  ``partition_id`` is the writer's task number, the
        ``NNNNN`` of a ``part-NNNNN-…`` file name; the files one task
        writes (several when ``maxRecordsPerFile`` splits its output)
        are summed.  Zero-row files are skipped: an empty write leaves
        one schema-only file, and an empty table reads as ``{}``."""
        counts: dict[int, int] = {}
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        parquet = jvm.org.apache.parquet.hadoop
        fs, _ = hadoop_fs(self.spark, self.root)
        files = fs.listFiles(self._jpath(self._path(table)), False)
        while files.hasNext():
            st = files.next()
            name = st.getPath().getName()
            if not name.startswith("part-"):
                continue
            reader = parquet.ParquetFileReader.open(
                parquet.util.HadoopInputFile.fromStatus(st, conf)
            )
            try:
                rows = reader.getRecordCount()
            finally:
                reader.close()
            if rows:
                pid = int(re.match(r"part-(\d+)-", name).group(1))
                counts[pid] = counts.get(pid, 0) + rows
        return counts

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self._path(table))

    def resume_or_compute(
        self, table: str, compute, force: bool = False
    ) -> tuple[DataFrame, bool]:
        """(df, resumed): read committed snapshot or compute+commit."""
        if not force and self.is_committed(table):
            return self.read(table), True
        df = compute()
        self.write(df, table)
        # the schema just written: inferring it again from the parquet
        # footers is a Spark job per stage, and reads back the same
        # schema (nullable, in the written column order)
        path = self._path(table)
        return self.spark.read.schema(df.schema).parquet(path), False
