"""Unit tests for the table loaders' spread gate (tables.spread /
tables.dir_bytes). They read no table data, so CI's smoke step runs
this file."""

from __future__ import annotations

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
