"""Unit tests for the table loaders' spread gate (tables.spread /
tables.dir_bytes) and the persist owner (tables.pinned). They read no
table data, so CI's smoke step runs this file."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from etl_wlg_metlink_spark import tables


def test_artifact_respread_is_scale_conditional(spark, tmp_path, monkeypatch):
    """The one spread gate (tables.spread, behind load_spread and the
    artifact reads) must respread ONLY when the input is too small to
    split naturally — at scale an unconditional repartition is an
    extra full shuffle. Also pins the recursive bytes-on-disk walk
    (nested dirs must not measure ~0 and force the respread at exactly
    the wrong scale) and its single-file case."""
    # the recursive sum sees nested files (Hive-style layouts)
    nested = tmp_path / "t.parquet" / "k=1"
    nested.mkdir(parents=True)
    (nested / "part-0.parquet").write_bytes(b"x" * 1000)
    (tmp_path / "f.parquet").write_bytes(b"x" * 10)
    assert tables.dir_bytes(str(tmp_path / "t.parquet")) == 1000
    assert tables.dir_bytes(str(tmp_path / "f.parquet")) == 10

    df = spark.range(4)
    small = tables.spread(df, str(tmp_path / "t.parquet"))
    assert "Repartition" in small._jdf.queryExecution().logical().toString()
    # a relation with no source on disk is left as it is
    assert tables.spread(df, None) is df

    # an input past the split threshold is NOT respread
    monkeypatch.setattr(
        tables,
        "dir_bytes",
        lambda p: spark.sparkContext.defaultParallelism
        * tables.SPREAD_BYTES_PER_CORE,
    )
    big = tables.spread(df, str(tmp_path / "t.parquet"))
    assert big is df


def test_pinned_releases_the_pin_whether_build_succeeds_or_raises(spark):
    df = spark.range(10)
    seen = []

    def build(pin):
        seen.append(pin.storageLevel)
        return pin.groupBy((F.col("id") % 2).alias("k")).count()

    out = tables.pinned(df, build)
    assert seen == [StorageLevel.MEMORY_AND_DISK]
    assert sorted(map(tuple, out.collect())) == [(0, 5), (1, 5)]
    assert df.storageLevel == StorageLevel.NONE

    def failing(pin):
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        tables.pinned(df, failing)
    assert df.storageLevel == StorageLevel.NONE


def test_failing_lane_leaves_its_input_uncached(spark):
    """A lane whose build raises mid-job (here l6's verified-pair
    build, over shingle hashes that raise when read) must not leave
    its pinned input in the session's cache."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import _minhash_verified_pairs

    hashed = spark.range(4).select(
        F.col("id").alias("doc_id"),
        F.raise_error(F.lit("bad shingle hash")).cast("array<bigint>").alias("hs"),
    )
    with pytest.raises(Exception, match="bad shingle hash"):
        _minhash_verified_pairs(hashed)
    assert hashed.storageLevel == StorageLevel.NONE
