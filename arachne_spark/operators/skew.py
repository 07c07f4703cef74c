"""Explicit skew handling: salted two-phase aggregation.

The reference's touch counter (/root/reference/src/arachne.cpp:224-233)
is exactly the skewed aggregation of this engine: head entities (Q5
"human", Q30 "united states") appear on a large fraction of all pages,
so a naive groupBy(qid).count() funnels those keys into single reducers.

Catalyst's partial aggregation already combines map-side, and AQE splits
skewed *join* partitions — but the north_rule requires explicit
handling, and partial aggregation alone degrades when the per-partition
distinct-key count is huge (hash map spill) — so the salted two-phase
shape is provided and used by the pipeline:

  phase 1: groupBy(key, salt) — salt = pmod(xxhash64(salt_from), n)
           spreads one hot key over n reducers
  phase 2: groupBy(key) over the n pre-reduced rows

Both phases are plain hash aggregates; the extra shuffle moves at most
N_SALT rows per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_SALT = 32
# touch-promotion threshold of the reference (include/arachne.hpp:285-286)
CANDIDATES_THRESHOLD = 50


def salted_count(
    df: DataFrame,
    keys: list[str],
    salt_from: str | Column,
    count_alias: str = "cnt",
) -> DataFrame:
    """Two-phase skew-safe count per key."""
    salt_col = F.pmod(F.xxhash64(salt_from), F.lit(N_SALT))
    partial = (
        df.withColumn("_salt", salt_col)
        .groupBy(*keys, "_salt")
        .agg(F.count("*").alias("_partial"))
    )
    return partial.groupBy(*keys).agg(
        F.sum("_partial").cast("long").alias(count_alias)
    )


def salted_distinct_count(
    df: DataFrame,
    keys: list[str],
    distinct_col: str,
    count_alias: str = "cnt",
) -> DataFrame:
    """Skew-safe COUNT(DISTINCT distinct_col) per key.

    Dedup on (key, v) first — that shuffle hashes on BOTH columns so a
    hot key spreads over all partitions — then a plain count, which
    partial aggregation pre-reduces map-side.

    Measured honesty note: Catalyst already PLANS
    ``countDistinct`` this way (partial-distinct expand + two shuffles)
    — at 20M rows with a 50%-hot key, naive and explicit two-phase
    both run ~1.3 s on local[8].  The explicit form exists so callers
    can compose per-pair logic between the phases (and because not
    every aggregate gets Catalyst's treatment: ``collect_set``/
    ``max_by`` per key still funnel).  Contract surface: q41
    (distinct-touch counts per entity) in __spark_entry__.py.
    """
    return (
        df.select(*keys, distinct_col)
        .dropDuplicates([*keys, distinct_col])
        .groupBy(*keys)
        .agg(F.count("*").alias(count_alias))
    )


def promote_candidates(
    touches: DataFrame,
    key: str = "qid",
    salt_from: str = "url",
) -> DataFrame:
    """Touch-counter promotion (src/arachne.cpp:224-233): keys touched
    >= ``CANDIDATES_THRESHOLD`` times.  Returns (key, cnt)."""
    counts = salted_count(touches, [key], salt_from)
    return counts.where(F.col("cnt") >= CANDIDATES_THRESHOLD)
