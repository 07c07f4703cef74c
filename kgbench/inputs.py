"""Seeded input staging: the synthetic corpus as a backlog of parquet drops.

The seed picks a window of 6-digit url ids (so every page title adds a
long-tail token the fuzzy linker has to score) and which drop each page
lands in.  First snapshots fill the first ``first_drops`` files and the
recrawl snapshots (every 10th url) the last ``recrawl_drops``, so a
stream reading four files per micro-batch never sees both snapshots of
one url in the same batch.  File modification times follow drop order,
which is the order the file-stream source consumes them in.

The program under test only ever sees the staged parquet.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from arachne_spark.sources.pages import RECRAWL_EVERY, pages_df

ID_LO, ID_HI = 100_000, 1_000_000  # 6-digit url ids
RECRAWL_TS = "2024-01-08 00:00:00"  # recrawl snapshots are 7 days later
MTIME_BASE = 1_700_000_000


@dataclass(frozen=True)
class Staged:
    drops_dir: str
    lo: int  # first url id of the window
    n_pages: int
    n_recrawls: int
    n_drops: int
    first_drops: int
    bytes: int

    def url_ids(self) -> range:
        return range(self.lo, self.lo + self.n_pages)


def url_window(seed: int, n_pages: int) -> int:
    return random.Random(seed).randrange(ID_LO, ID_HI - n_pages)


def stage_drops(
    spark: SparkSession,
    out_dir: str,
    seed: int,
    n_pages: int,
    first_drops: int,
    recrawl_drops: int,
) -> Staged:
    lo = url_window(seed, n_pages)
    hi = lo + n_pages
    uid = F.substring_index("url", "/", -1).cast("long")
    # pages_df(n) recrawls only ids below n rounded down to a multiple
    # of RECRAWL_EVERY: generate past the window so every id in it that
    # is due a recrawl has one
    pages = pages_df(
        spark, hi + RECRAWL_EVERY, partitions=4
    ).where((uid >= lo) & (uid < hi))
    h = F.xxhash64("url", F.lit(seed))
    is_recrawl = F.col("warc_ts") >= F.lit(RECRAWL_TS).cast("timestamp")
    drop = F.when(
        is_recrawl, first_drops + F.pmod(h, F.lit(recrawl_drops))
    ).otherwise(F.pmod(h, F.lit(first_drops)))
    tmp = out_dir + ".__tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        pages.withColumn("drop", drop)
        .coalesce(1)
        .write.partitionBy("drop")
        .parquet(tmp)
    )
    os.makedirs(out_dir)
    n_drops = first_drops + recrawl_drops
    total = 0
    for d in range(n_drops):
        part_dir = os.path.join(tmp, f"drop={d}")
        (part,) = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        dst = os.path.join(out_dir, f"drop-{d:03d}.parquet")
        shutil.move(os.path.join(part_dir, part), dst)
        os.utime(dst, (MTIME_BASE + d, MTIME_BASE + d))
        total += os.path.getsize(dst)
    shutil.rmtree(tmp)
    return Staged(
        drops_dir=out_dir,
        lo=lo,
        n_pages=n_pages,
        n_recrawls=sum(1 for u in range(lo, hi) if u % RECRAWL_EVERY == 0),
        n_drops=n_drops,
        first_drops=first_drops,
        bytes=total,
    )
