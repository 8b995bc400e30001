"""runners.drain: the one one-shot streaming lifecycle. Whether the
query succeeds or fails, it leaves no temp view, no loaded state-store
providers and no checkpoint behind. Self-contained: each test lands its
own parquet files, so no table data is needed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from etl_wlg_metlink_spark.streaming import runners


def _landing(spark, tmp_path):
    land = str(tmp_path / "landing")
    spark.range(20).select((F.col("id") % 3).alias("k")).write.parquet(land)
    return spark.readStream.schema("k long").parquet(land)


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.fixture
def made_dirs(monkeypatch):
    """Every temp dir runners creates during the test."""
    made = []
    real = runners._tracked_mkdtemp

    def tracked(prefix):
        made.append(real(prefix))
        return made[-1]

    monkeypatch.setattr(runners, "_tracked_mkdtemp", tracked)
    return made


@pytest.mark.parametrize("sink", ["memory", "foreachBatch"])
def test_failed_drain_leaves_nothing_behind(spark, tmp_path, made_dirs, sink):
    """A stateful aggregation whose output fails an assert_true: the
    state stores are loaded before the failing projection runs."""
    store = spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore
    failing = (
        _landing(spark, tmp_path)
        .groupBy("k")
        .count()
        .select(F.assert_true(F.col("count") < 0).alias("ok"))
    )
    batch_fn = None if sink == "memory" else (lambda df, _: df.collect())
    views = _temp_views(spark)
    with pytest.raises(StreamingQueryException):
        runners.drain(failing, batch_fn, output_mode="complete")
    assert _temp_views(spark) == views
    assert not store.isMaintenanceRunning()
    assert made_dirs and not any(os.path.exists(d) for d in made_dirs)


def test_idle_drain_times_out_loudly(spark, tmp_path, made_dirs, monkeypatch):
    """A catch-up that does not go idle in time raises instead of
    returning a partial result, and still cleans up."""
    monkeypatch.setattr(runners, "IDLE_TIMEOUT_S", 0)
    views = _temp_views(spark)
    active = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError):
        runners.drain(_landing(spark, tmp_path), idle=True)
    assert {q.id for q in spark.streams.active} == active
    assert _temp_views(spark) == views
    assert made_dirs and not any(os.path.exists(d) for d in made_dirs)


def test_state_store_unload_failure_is_logged(capfd):
    runners._unload_state_providers(None)  # no JVM to call into
    out, err = capfd.readouterr()
    assert out == ""
    assert json.loads(err) == {
        "event": "state_store_unload_failed",
        "error": "AttributeError",
    }
