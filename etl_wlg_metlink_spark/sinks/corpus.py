"""Materialized corpus write path: the l42 corpus build's kept
documents → a deduplicated corpus on disk (VERDICT r4 stretch item 7).

`write_corpus_build` composes the final step every production dedup
ships — the near-dup drop set anti-joined, the quality gate and the
mixture applied — and persists the surviving corpus as a **bucketed**
Parquet table keyed by the canonical content fingerprint.

Why bucket by fingerprint:

- Incremental ingest (the l25 pattern) joins every new batch against
  the corpus on the fingerprint. With the corpus bucketed on ``fp``,
  that join needs NO shuffle of the corpus side — only the (small)
  batch is shuffled into matching buckets. At 100 TB the corpus-side
  shuffle is the whole cost; bucketing amortizes it once at write time
  across every future ingest.
- Bucket pruning: an exact-fp point lookup touches one bucket.

Scale shape of the write itself:

- The near-dup labels are bounded by the number of CLUSTERED
  documents (tiny vs the corpus), so their join broadcasts them; the
  corpus never shuffles for the join.
- The only corpus shuffle is the explicit ``repartition`` on the
  bucket key, which exists to make each task own whole buckets —
  otherwise every task writes a file per bucket and a 1000-executor
  run emits n_tasks × n_buckets small files. Spark's bucketed-table
  hash (Murmur3 on the column) matches ``repartition``'s hash
  partitioning, so the write lands one file per bucket.
- At 100 TB, ``n_buckets`` is sized so one bucket ≈ one HDFS-block-ish
  file (corpus_bytes / 256 MiB); the default here is test-scale.

Reference lineage: the reference's sink is a one-envelope HTTP submit
(task.ts:335-341); this is the unbounded-scale generalization of
"persist the processed snapshot", composed with the dedup lane the
north star adds.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_wlg_metlink_spark.tables import load


def write_corpus_build(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    table: str = "corpus_build",
    n_buckets: int = 8,
) -> tuple[dict, DataFrame]:
    """The engine's flagship one-command story (VERDICT r5 stretch 7):
    run the FULL l42 corpus build (near-dup dedup → quality gate →
    temperature mixture) and land the kept documents as a bucketed
    Parquet table — l42's audit rollup and this write share the same
    kept-relation plan, so the written corpus is by construction the
    one the audit describes.

    The mixture columns (n_clean, rate) ride along in the written
    schema; the returned audit DataFrame is computed FROM THE WRITTEN
    TABLE, which makes the CLI's printed audit a read-back proof, not
    an in-plan claim. Returns (counters, audit_df)."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        _bag_fp,
        _corpus_audit_rollup,
        _corpus_build_kept,
        _words,
    )

    kept = _corpus_build_kept(spark, sf_dir)
    fp = _bag_fp(_words(F.col("text")))
    out = kept.withColumn("fp", fp).repartition(n_buckets, F.col("fp"))
    (
        out.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, "fp")
        .sortBy("fp")
        .saveAsTable(table)
    )
    written = spark.table(table)
    n_total = load(spark, sf_dir, "documents").count()
    n_written = written.count()
    counters = {
        "received": n_total,
        "dropped": n_total - n_written,
        "written": n_written,
    }
    return counters, _corpus_audit_rollup(written.drop("fp"))
