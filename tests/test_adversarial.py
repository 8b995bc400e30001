"""Unit pins for the degenerate-input semantics the r16 adversarial
corpus forced both engines to define (tools/gen_adversarial_data.py;
the full 195-lane differential over that corpus is banked as
SELFCHECK_adv_r16.txt — these are the fast regression guards for the
specific boundary rules, runnable without DuckDB or the corpus).

Each test builds the minimal in-memory frame that exercised the bug:
zero-norm embeddings, empty/whitespace documents, carriage returns
inside BPE words, NBSP-class spaces, far-future recursive spines."""

from __future__ import annotations

from pyspark.sql import functions as F

import etl_wlg_metlink_spark.operators.llm_pipeline as lp


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_l93_symbol_inventory_keeps_carriage_return(spark):
    """(?s). must keep \\r (and \\n) as BPE symbols: Java's bare '.'
    excludes \\r/NEL/LS/PS while RE2's excludes only \\n, so any bare-dot
    tokenizer desyncs the corpus symbol total across engines."""
    row = (
        spark.range(1)
        .select(F.lit("a\rb\nc").alias("w"))
        .select(F.expr("regexp_extract_all(w, '(?s).', 0)").alias("sym"))
        .head()
    )
    assert row["sym"] == ["a", "\r", "b", "\n", "c"]


def test_l94_normalize_collapses_unicode_spaces(spark, monkeypatch):
    """\\p{Zs}-class spaces (NBSP & co.) collapse and trim like ASCII
    spaces; ZWSP is Cf, not Zs, and must survive — a doc that LOOKS
    blank but tokenizes to one word stays that way."""
    docs = _docs(
        spark,
        [
            (1, "\u00a0a\u00a0\u00a0b\u00a0"),  # NBSP pad + double NBSP
            (2, " a  b "),  # ASCII twin — must normalize identically
            (3, "\u200b"),  # ZWSP only: NOT whitespace, survives
        ],
    )
    monkeypatch.setattr(lp, "load", lambda _s, _d, _n: docs)
    got = {
        r["doc_id"]: r for r in lp.l94_text_normalize(spark, "x").collect()
    }
    assert got[1]["norm_fp"] == got[2]["norm_fp"]
    assert got[1]["n_chars_norm"] == 3  # "a b"
    assert got[3]["n_chars_norm"] == 1  # the ZWSP itself


def test_ivf_corpus_excludes_zero_norm(spark):
    """A zero embedding has no direction: excluded from every
    cosine-space relation instead of NaN-poisoning an IVF cell or
    dying on ANSI 0/0 (one failed encoder call is routine at 100 TB)."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    kept = sorted(r["vec_id"] for r in lp._cosine_corpus(emb, "vec_id").collect())
    assert kept == [1, 3]


def test_s13_ingest_drops_zero_norm_vector(spark, sf_dir):
    """The streaming IVF ingest applies the same corpus rule as the
    batch build: a zero-norm vector is dropped at ingest, never
    assigned a NaN-cosine cell."""
    from etl_wlg_metlink_spark.streaming import runners
    from etl_wlg_metlink_spark.tables import load

    serving = runners.ivf_ingest_run(spark, sf_dir)
    n_vectors = load(spark, sf_dir, "embeddings").count()
    assert serving.count() == n_vectors  # sf0.001 has no zero vectors
    assert serving.where(F.col("cell").isNull()).count() == 0


def test_l73_empty_doc_signature_is_all_ones(spark, monkeypatch):
    """Empty/NULL text decodes to the all-zero pixel grid, whose aHash
    (0 >= total 0) is all-ones bands — both engines, by definition,
    so two empty docs are an exact pHash pair at Hamming 0."""
    docs = _docs(spark, [(1, ""), (2, None), (3, "real text here")])
    monkeypatch.setattr(lp, "load", lambda _s, _d, _n: docs)
    sig, n = lp._l73_signatures(spark, "x")
    got = {r["doc_id"]: r["bands"] for r in sig.collect()}
    assert n == 3
    assert got[1] == [255] * 8
    assert got[2] == [255] * 8
    assert got[3] != [255] * 8


def test_r22_month_spine_survives_far_future_order(spark):
    """One future-dated junk order stretches the recursive month spine
    arbitrarily; the pinned cteRecursionLevelLimit must carry a
    multi-century span instead of dying at Spark's default 100."""
    from etl_wlg_metlink_spark.session import ensure_engine_conf

    ensure_engine_conf(spark)
    n = spark.sql(
        """
        WITH RECURSIVE m(d) AS (
          SELECT DATE'1998-01-01'
          UNION ALL SELECT add_months(d, 1) FROM m
          WHERE d < DATE'2148-01-01'
        ) SELECT COUNT(*) AS n FROM m
        """
    ).head()["n"]
    assert n == 1801  # 150 years of months, far past the default 100


def test_r20_epoch_truncates_not_rounds(spark):
    """Spark's unix_timestamp truncates sub-second epochs; the r20
    oracle floors before casting because DuckDB's ::BIGINT rounds
    half-to-even. Pin the Spark side of the contract."""
    ts = spark.sql(
        "SELECT unix_timestamp(TIMESTAMP '2024-01-01 00:00:00.999') AS e"
    ).head()["e"]
    base = spark.sql(
        "SELECT unix_timestamp(TIMESTAMP '2024-01-01 00:00:00') AS e"
    ).head()["e"]
    assert ts == base  # truncation: .999 shares the second's epoch
