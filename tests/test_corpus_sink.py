"""Round-trip test for the materialized corpus write path
(sinks/corpus.py): the l42 corpus build → bucketed Parquet table →
read back and match the build's kept set, plus the scale property the
bucketing buys (no corpus-side shuffle for a fingerprint join)."""

from __future__ import annotations

from etl_wlg_metlink_spark.operators.llm_pipeline import _corpus_build_kept
from etl_wlg_metlink_spark.sinks.corpus import write_corpus_build
from etl_wlg_metlink_spark.tables import load


def test_dedup_corpus_roundtrip(spark, sf_dir, tmp_path):
    table = "dedup_corpus_roundtrip"
    try:
        counters, _ = write_corpus_build(
            spark, sf_dir, str(tmp_path / "corpus"), table, n_buckets=4
        )
        keep = {
            r["doc_id"]
            for r in _corpus_build_kept(spark, sf_dir).select("doc_id").collect()
        }
        n_docs = load(spark, sf_dir, "documents").count()
        assert counters["received"] == n_docs
        assert counters["written"] == len(keep)
        assert counters["dropped"] == n_docs - len(keep) > 0

        back = spark.table(table)
        got = {r["doc_id"] for r in back.select("doc_id").collect()}
        assert got == keep
        # full document rows survive, plus the bucket key
        assert {"doc_id", "text", "lang", "source", "n_chars", "fp"} <= set(
            back.columns
        )

        # catalog records the bucket spec
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
        }
        assert desc.get("Num Buckets") == "4"
        assert "fp" in desc.get("Bucket Columns", "")

        # THE point of bucketing: joining the corpus to itself on fp
        # needs zero shuffle — both scan sides already satisfy the
        # join's hash distribution. (Broadcast disabled so the join
        # can't dodge the question.)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = back.alias("a").join(
                spark.table(table).alias("b"), "fp"
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan.replace("ReusedExchange", "")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
