"""runners.drain: the one one-shot streaming lifecycle. Whether the
query succeeds or fails, it leaves no temp view, no loaded state-store
providers and no checkpoint behind. runners.ledger, built on it: a
replayed batch replaces itself, and no ledger dir outlives the run.
Self-contained: each test lands its own parquet files, so no table
data is needed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from etl_wlg_metlink_spark.streaming import runners


def _landing(spark, tmp_path, **options):
    """20 rows keyed k = id % 3, landed as 4 parquet files."""
    land = str(tmp_path / "landing")
    rows = spark.range(0, 20, 1, 4).select((F.col("id") % 3).alias("k"))
    rows.write.parquet(land)
    return spark.readStream.schema("k long").options(**options).parquet(land)


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


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


def test_state_store_unload_failure_is_logged(capfd):
    runners._unload_state_providers(None)  # no JVM to call into
    out, err = capfd.readouterr()
    assert out == ""
    assert json.loads(err) == {
        "event": "state_store_unload_failed",
        "error": "AttributeError",
    }


def _counts_by_key(spark, tmp_path, partial=lambda b: b.groupBy("k").count()):
    """A SUM-merged ledger over the 4-file landing, one file per batch:
    replay-safe only if a replayed batch replaces its own rows."""
    return sorted(
        map(
            tuple,
            runners.ledger(
                _landing(spark, tmp_path, maxFilesPerTrigger=1),
                partial,
                lambda rows: rows.groupBy("k").agg(
                    F.sum("count").alias("n"),
                    F.countDistinct("batch_id").alias("batches"),
                ),
            ).collect(),
        )
    )


def test_ledger_replayed_batch_replaces_itself(spark, tmp_path, monkeypatch):
    once = _counts_by_key(spark, tmp_path / "once")
    assert once == [(0, 7, 4), (1, 7, 4), (2, 6, 4)]

    real_drain = runners.drain

    def drain_twice(stream, batch_fn, **kw):
        def replay(batch, batch_id):
            batch_fn(batch, batch_id)
            batch_fn(batch, batch_id)

        return real_drain(stream, replay, **kw)

    monkeypatch.setattr(runners, "drain", drain_twice)
    assert _counts_by_key(spark, tmp_path / "twice") == once


def test_ledger_leaves_no_dir_behind(spark, tmp_path, made_dirs):
    _counts_by_key(spark, tmp_path / "ok")
    assert len(made_dirs) == 2  # the ledger and drain's checkpoint
    assert not any(os.path.exists(d) for d in made_dirs)

    def failing(batch):
        raise RuntimeError("partial failed")

    with pytest.raises(StreamingQueryException):
        _counts_by_key(spark, tmp_path / "failed", failing)
    assert len(made_dirs) == 4
    assert not any(os.path.exists(d) for d in made_dirs)
