"""As-of (time-travel) join — a temporal operator Spark lacks natively.

For each left row, attach the latest right row whose timestamp is at
or before the left row's, per key.  The reference's staleness gate
performs exactly this lookup scalar-style ("what was the last fetch
for this entity?", /root/reference/src/arachne.cpp:201-222); a
training-data pipeline needs it relationally (join each page/event
against the snapshot in force at its crawl time).

Scale-first formulation — **union + sort + carry-forward**, not a
range join:

* the naive `l JOIN r ON key AND r.ts <= l.ts` explodes to
  O(|l|·|r|) per key before the "latest" filter;
* instead both sides union into one relation tagged by side, sorted
  within each key partition by (ts, side, seq); a running
  ``last(payload, ignoreNulls)`` window carries each right payload
  forward to every later left row.  One shuffle on the key, O(n log n)
  per partition, no pair blowup — and AQE's skew-join splitting
  handles a hot key the same way it does any windowed aggregation.

Tie rules (deterministic): a right row AT the left timestamp is
visible (sorts before the left row); multiple right rows at the same
(key, ts) resolve by the greatest ``seq`` expression (caller-chosen
total order).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str] | None,
    seq: Column | None,
    bucket: Callable[[Column, str], Column] | None = None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """The prologue both plans share: the payload-column and ``seq``
    defaults, then left and right rows tagged by ``_side`` in one
    relation (``_k``, ``_ts``, ``_side``, ``_seq``, ``_payload``, plus
    ``_b`` when ``bucket(col, type name)`` maps a timestamp to its
    bucket).  Returns (union, tagged right rows, payload columns)."""
    payload_cols = payload_cols or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    if not payload_cols:
        raise ValueError(
            "asof_join: right side has no payload columns beyond "
            "key/timestamp — nothing to attach"
        )
    seq = seq if seq is not None else F.col(payload_cols[0])

    def tags(df: DataFrame, ts: str) -> list[Column]:
        b = [] if bucket is None else [
            bucket(F.col(ts), df.schema[ts].dataType.simpleString())
            .alias("_b")
        ]
        return [F.col(key).alias("_k"), F.col(ts).alias("_ts"), *b]

    r = right.select(
        *tags(right, right_ts),
        F.lit(0).alias("_side"),
        seq.alias("_seq"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("_payload"),
    )
    lf = left.select(
        *[F.col(c) for c in left.columns],
        *tags(left, left_ts),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_seq"].dataType).alias("_seq"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
    )
    r2 = r.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
        ],
        *r.columns,
    )
    return lf.unionByName(r2), r, payload_cols


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_cols: list[str] | None = None,
    seq: Column | None = None,
    time_bucket: float | None = None,
) -> DataFrame:
    """Left rows + ``asof_<payload>`` columns from the latest right
    row with ``right_ts <= left_ts`` on ``key`` (nulls where no right
    row precedes).

    ``seq`` breaks ties among right rows sharing (key, right_ts);
    defaults to the first payload column.  Column names with a
    leading underscore (``_k``, ``_ts``, ``_b``, ``_side``, ``_seq``,
    ``_payload``, ``_carry``, ``_c1``, ``_cin``) are reserved for the
    operator's internals and must not appear in either input.

    ``time_bucket`` (seconds, or plain units for numeric timestamps)
    switches to the **hot-key-safe two-pass plan**: the single-window
    formulation serializes an entire key inside one task, so a key
    holding 10^9 of the rows becomes the straggler no core count
    fixes.  With a bucket width set, the carry-forward window
    partitions on (key, time-bucket) — the hot key spreads across its
    time range — and rows not answered within their bucket resolve
    through a bucket-granularity as-of (this same operator, recursing
    on ~|key × touched buckets| rows, orders of magnitude smaller).
    Results are identical to the single-window plan
    (tests/test_asof.py asserts equality on a randomized fixture).
    """
    reserved = {
        "_k", "_ts", "_b", "_side", "_seq", "_payload", "_carry",
        "_c1", "_cin",
    }
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"asof_join: input columns {sorted(clash)} collide with "
            "reserved internal names — rename them first"
        )
    if time_bucket is not None:
        return _asof_join_bucketed(
            left, right, key, left_ts, right_ts, payload_cols, seq,
            time_bucket,
        )
    tagged, _, payload_cols = _tagged_union(
        left, right, key, left_ts, right_ts, payload_cols, seq
    )
    # nulls-first ascending puts left rows (null _seq) after no right
    # row they should see: ordering is (_ts, _side, _seq), and _side
    # already separates the sides within a timestamp
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", "_seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "_carry", F.last("_payload", ignorenulls=True).over(w)
    )
    out = carried.where(F.col("_side") == 1).select(
        *[F.col(c) for c in left.columns],
        *[
            F.col("_carry").getField(c).alias(f"asof_{c}")
            for c in payload_cols
        ],
    )
    return out


def _asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str] | None,
    seq: Column | None,
    width: float,
) -> DataFrame:
    """Two-pass as-of: per-(key, time-bucket) carry-forward, then a
    bucket-granularity as-of (recursion on the small summary relation)
    for rows whose bucket holds no preceding right row."""
    def bucket(col: Column, dtype: str) -> Column:
        # timestamps (ltz AND ntz) go through unix_micros — a direct
        # double cast is rejected for TIMESTAMP_NTZ; the ntz→ltz cast
        # uses the session timezone (pinned UTC by the session
        # factory), and bucketing only needs a consistent monotonic
        # mapping on both sides anyway
        if dtype.startswith("timestamp"):
            num = F.unix_micros(col.cast("timestamp")) / F.lit(1e6)
        else:
            num = col.cast("double")
        return F.floor(num / F.lit(float(width))).cast("long")

    tagged, r, payload_cols = _tagged_union(
        left, right, key, left_ts, right_ts, payload_cols, seq, bucket
    )
    # pass 1: carry INSIDE each (key, bucket) — the hot key is spread
    # over its time range, so no single task owns it
    w1 = (
        Window.partitionBy("_k", "_b")
        .orderBy("_ts", "_side", "_seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = tagged.withColumn(
        "_c1", F.last("_payload", ignorenulls=True).over(w1)
    )
    lrows = within.where(F.col("_side") == 1)

    # bucket summary: the LAST right payload per (key, bucket) — one
    # row per touched bucket, orders of magnitude smaller than rows
    summary = r.groupBy("_k", "_b").agg(
        F.max_by("_payload", F.struct("_ts", "_seq")).alias("_last")
    )

    # pass 2: rows unanswered within their bucket need the latest
    # summary row from a STRICTLY EARLIER bucket — an as-of at bucket
    # granularity, solved by this operator's single-window plan over
    # the distinct (key, bucket) pairs that still need an answer
    need = (
        lrows.where(F.col("_c1").isNull())
        .select(F.col("_k").alias("k"), F.col("_b").alias("b"))
        .distinct()
        .withColumn("bq", F.col("b") - 1)
    )
    carry_in = asof_join(
        need,
        summary.select(
            F.col("_k").alias("k"),
            F.col("_b").alias("bq"),
            F.col("_last").alias("last"),
        ),
        key="k",
        left_ts="bq",
        right_ts="bq",
        payload_cols=["last"],
    ).select(
        F.col("k").alias("_k"),
        F.col("b").alias("_b"),
        F.col("asof_last").alias("_cin"),
    )

    resolved = lrows.join(carry_in, ["_k", "_b"], "left").withColumn(
        "_carry", F.coalesce("_c1", "_cin")
    )
    return resolved.select(
        *[F.col(c) for c in left.columns],
        *[
            F.col("_carry").getField(c).alias(f"asof_{c}")
            for c in payload_cols
        ],
    )

