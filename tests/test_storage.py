"""Warehouse tests: the parquet swap protocol's edge cases (zero-row
partitioned overwrites, failed writes, the read-back schema).  The
commit-and-resume path itself is covered end-to-end by the pipeline
resume tests.
"""

from __future__ import annotations

import pytest

from arachne_spark.plans.storage import Warehouse


def test_empty_partitioned_overwrite_stays_readable(spark, tmp_path):
    """A partitionBy overwrite of a ZERO-ROW relation emits no data
    files (no partition dirs), which poisoned read-back with
    UNABLE_TO_INFER_SCHEMA — found when a curation gate filtered a
    corpus to zero triples.  The warehouse rewrites schema-only in
    that case; a later non-empty overwrite restores the partitioned
    layout."""
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "empty_wh"))
    schema = "subj string, pred string, obj string"
    empty = spark.createDataFrame(
        [("a", "b", "c")], schema
    ).where(F.lit(False))
    wh.write(empty, "triples", partition_by=["pred"])
    back = wh.read("triples")
    assert back.count() == 0
    assert set(back.columns) == {"subj", "pred", "obj"}
    # non-empty overwrite afterwards: partitioned layout, same data
    full = spark.createDataFrame(
        [("s1", "p1", "o1"), ("s2", "p2", "o2")], schema
    )
    wh.write(full, "triples", partition_by=["pred"])
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in wh.read("triples").collect()
    }
    assert got == {("s1", "p1", "o1"), ("s2", "p2", "o2")}


def test_failed_overwrite_leaves_no_temp_dir(spark, tmp_path):
    """A write whose plan raises must not leave a temp directory
    behind once the next write of the table commits, and the table
    then holds exactly the good rows."""
    from pyspark.sql import functions as F

    root = tmp_path / "wh_tmp"
    wh = Warehouse(spark, str(root))
    bad = spark.range(3).select(
        F.raise_error(F.lit("boom")).cast("string").alias("v")
    )
    with pytest.raises(Exception):
        wh.write(bad, "t")
    good = spark.createDataFrame([("a",), ("b",)], "v string")
    wh.write(good, "t")
    assert not [p.name for p in root.iterdir() if p.name.startswith(
        "t.__tmp")]
    assert sorted(r["v"] for r in wh.read("t").collect()) == ["a", "b"]


def test_computed_stage_reads_back_as_inferred(spark, tmp_path):
    """A computed stage is read back with the schema just written, not
    re-inferred from the parquet footers: the same schema (names,
    types, nullability, order — partition columns last) and rows as an
    inferring read, for a plain, a partitioned and a partitioned stage
    filtered to zero rows (which the warehouse rewrites schema-only)."""
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "schema_wh"))
    base = spark.range(6).select(
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("k"),
        F.concat(F.lit("sé"), F.col("id").cast("string")).alias("s"),
        (F.col("id") > 2).alias("b"),
        (F.col("id") / 4).alias("d"),
        F.col("id").cast("decimal(20,2)").alias("dec"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
        F.array(F.col("id").cast("string")).alias("arr"),
        F.struct(F.col("id").alias("x"), F.lit(None).cast("string")
                 .alias("y")).alias("st"),
        F.when(F.col("id") > 1, F.col("id")).alias("maybe"),
    )
    for table, df, parts in (
        ("plain", base, None),
        ("parted", base, ["k"]),
        ("parted_empty", base.where(F.lit(False)), ["k"]),
    ):
        got, resumed = wh.resume_or_compute(
            table, lambda: df, partition_by=parts
        )
        inferred = spark.read.parquet(str(tmp_path / "schema_wh" / table))
        assert not resumed
        assert got.schema == inferred.schema, table
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, inferred.collect())
        ), table
    assert got.count() == 0
