"""Contract tests for the driver surface: registry discipline, smoke
execution of every query at sf0.001, and the flagship entry()."""

from __future__ import annotations

import duckdb
import pytest

from __spark_entry__ import entry, oracle_sql, queries
from etl_wlg_metlink_spark import artifacts
from etl_wlg_metlink_spark.operators import llm_pipeline as lp
from etl_wlg_metlink_spark.operators import metlink_queries as mq
from etl_wlg_metlink_spark.tables import TABLE_NAMES


def test_every_oracle_key_has_a_query():
    qs, os_ = queries(), oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) > 0


def test_order_names_all_implemented():
    """The round-3 failure class, kept loud: a name in the frozen
    _ORDER curriculum with no implementation must fail CI (the
    registry itself only warns, so the driver gate can never be
    zeroed by a typo — but the typo must not ship silently either)."""
    from etl_wlg_metlink_spark.registry import _ORDER

    implemented = set(queries())
    missing = [n for n in _ORDER if n not in implemented]
    assert not missing, f"_ORDER names without implementation: {missing}"
    assert len(set(_ORDER)) == len(_ORDER), "_ORDER has duplicate names"


def test_oracle_sql_parses_in_duckdb(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    for name, sql in oracle_sql().items():
        try:
            con.execute(f"SELECT * FROM ({sql}) LIMIT 1")
        except Exception as e:  # noqa: BLE001
            pytest.fail(f"oracle for {name!r} failed in duckdb: {e}")


#: Lanes built on the shared corpus, pricing and sketch rules (the
#: cosine space, the bag-of-words fingerprint, the discounted price,
#: count-min, HyperLogLog, Lloyd's k-means and the tumbling window),
#: checked against their DuckDB oracles with
#: tools/check_correctness.compare.
RULE_LANES = (
    "l4_fingerprint", "l5_exact_dedup", "l9_cosine_topk",
    "l11_knn_label_vote", "l14_cosine_near_dup", "l16_kmeans", "l17_ivf_ann",
    "l25_incremental_dedup", "l28_cross_source_overlap",
    "l35_semantic_dedup", "l38_ivf_recall_sweep", "l79_corpus_diversity",
    "l90_takedown_propagation", "l92_countmin_heavyhitters",
    "l95_hll_cardinality", "l96_bloom_contamination",
    "s1_tumbling_window", "s8_streaming_ingest_dedup",
    "s13_streaming_ann_ingest", "s15_streaming_countmin",
    "s16_streaming_hll", "r12_approx_distinct",
    "r25_pricing_summary", "r26_local_supplier_volume",
    "r31_promo_revenue_share", "r33_disjunctive_predicate_revenue",
    "r35_nation_volume_shipping", "r36_market_share",
    "r37_returned_item_reporting",
)


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """tools/check_correctness.py as a module, and one DuckDB
    connection over the sf_dir tables."""
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).resolve().parent.parent / "tools" / "check_correctness.py"
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)
    con = cc.oracle_connection(sf_dir)
    yield cc, con
    con.close()


@pytest.mark.parametrize("name", RULE_LANES)
def test_lane_matches_oracle(spark, sf_dir, oracle, name):
    cc, con = oracle
    sdf = queries()[name](spark, sf_dir)
    rel = con.sql(oracle_sql()[name])
    problems = cc.compare(
        sdf.schema, sdf.collect(), list(rel.columns), rel.types, rel.fetchall()
    )
    assert problems == [], f"{name}: {problems}"


@pytest.mark.parametrize("name", sorted(queries()))
def test_query_runs_at_sf0001(spark, sf_dir, name):
    df = queries()[name](spark, sf_dir)
    assert df.columns, f"{name} returned no columns"
    # touch execution, not just planning
    df.limit(5).collect()


def test_entry_flagship(spark):
    rows = entry(spark).collect()
    assert len(rows) > 0
    assert {"l_returnflag", "l_linestatus", "sum_qty"} <= set(rows[0].asDict())


def test_l17_ivf_consistent_with_exact(spark, sf_dir):
    """IVF is an *approximation of l9*: for every (query, neighbor)
    pair both report, the cosine must be identical (same double math),
    and l17's neighbor set per query must be a subset of candidates
    the exact ranking could produce — recall over the shared query set
    must be positive (the probed cells contain real neighbors)."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in queries()["l9_cosine_topk"](spark, sf_dir).collect()
    }
    ann_rows = queries()["l17_ivf_ann"](spark, sf_dir).collect()
    assert ann_rows, "IVF returned no neighbors"
    hits = 0
    for r in ann_rows:
        assert 1 <= r["rnk"] <= 5
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            hits += 1
            assert exact[key] == r["cosine"], f"cosine mismatch for {key}"
    assert hits > 0, "IVF found none of the exact top-5 neighbors"


def test_l12_recall_monotone_in_radius(spark, sf_dir):
    """Multi-probe radius widens the candidate set strictly
    monotonically (r0 buckets ⊆ r1 ⊆ r2), so per-query recall@5 must
    be non-decreasing in the radius, and the r2 sweep over 22 of 64
    buckets must beat the identity bucket somewhere in aggregate."""
    rows = queries()["l12_lsh_ann_recall"](spark, sf_dir).collect()
    assert len(rows) == 50
    for r in rows:
        assert (
            0.0
            <= r["recall_at_5_r0"]
            <= r["recall_at_5_r1"]
            <= r["recall_at_5_r2"]
            <= 1.0
        )
    assert sum(r["recall_at_5_r2"] for r in rows) > sum(
        r["recall_at_5_r0"] for r in rows
    )


def test_l18_repetition_invariants(spark, sf_dir):
    rows = queries()["l18_repetition_filter"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["top_2gram_frac"] is not None:
            assert 0.0 < r["top_2gram_frac"] <= 1.0
        assert 0.0 <= r["dup_word_frac"] < 1.0
        expect = ((r["top_2gram_frac"] or 0.0) > 0.20) or (
            r["dup_word_frac"] > 0.30
        )
        assert r["would_filter"] == expect


def test_l20_flag_buckets(spark, sf_dir):
    from etl_wlg_metlink_spark.operators.llm_pipeline import L20_HI, L20_LO

    rows = queries()["l20_unigram_logprob"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_tokens"] > 0
        assert r["mean_log2p"] < 0  # log-probabilities are negative
        expect = (
            "repetitive"
            if r["mean_log2p"] > L20_HI
            else "unusual"
            if r["mean_log2p"] < L20_LO
            else "ok"
        )
        assert r["flag"] == expect


def test_l21_sample_invariants(spark, sf_dir):
    from etl_wlg_metlink_spark.operators.llm_pipeline import L21_K

    rows = queries()["l21_stratified_sample"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_topk"] == min(L21_K, r["n_total"])
        assert 0 <= r["n_rate_kept"] <= r["n_total"]
        # checksums are sums of doc_ids actually kept — bounded by the
        # total id mass of the stratum
        assert r["sum_topk_ids"] >= 0
        assert r["sum_rate_ids"] >= 0


def test_l22_clusters_cover_l6_pairs(spark, sf_dir):
    """Every verified near-dup pair must land in ONE cluster (the whole
    point of cluster formation), and cluster sizes must partition the
    node set."""
    pairs = queries()["l6_minhash_near_dup"](spark, sf_dir).collect()
    clusters = queries()["l22_dup_clusters"](spark, sf_dir).collect()
    nodes = {d for r in pairs for d in (r["doc_i"], r["doc_j"])}
    assert sum(r["n_members"] for r in clusters) == len(nodes)
    for r in clusters:
        # cluster_id is the propagated min doc_id — itself a member,
        # so the id-sum is at least cluster_id * size
        assert r["member_sum"] >= r["cluster_id"] * r["n_members"]


def test_l22_chain_needs_convergence_loop(spark):
    """A diameter-4 path graph 1-2-3-4-5: three fixed propagation
    rounds leave node 5 labeled 2 (min label 1 is 4 hops away); the
    convergence loop must carry label 1 to every node. This is the
    case that motivated replacing fixed-iteration CC with the
    changed==0 loop."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        _min_label_propagation,
    )

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_i long, doc_j long"
    )
    fixed3 = {
        r["node"]: r["lbl"]
        for r in _min_label_propagation(chain, max_iters=3).collect()
    }
    assert fixed3[5] != 1, "diameter-4 chain should NOT converge in 3 rounds"
    converged = {
        r["node"]: r["lbl"] for r in _min_label_propagation(chain).collect()
    }
    assert converged == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_iterative_convergence_telemetry(spark):
    """VERDICT r5 item 5: the iterative lanes must EMIT how they
    terminated. On the diameter-4 chain, CC needs 4 label-moving
    rounds plus a confirming round (rounds=5, converged); capped at 3
    it reports non-convergence. The same numbers ride the result as an
    observe() metric group (CollectMetrics in the plan) so a
    production listener can alert without driver-side access."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        CC_TELEMETRY,
        L45_ITERS,
        PAGERANK_TELEMETRY,
        _min_label_propagation,
        _pagerank,
    )

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_i long, doc_j long"
    )
    labels = _min_label_propagation(chain)
    assert CC_TELEMETRY == {"rounds": 5, "converged": True}
    plan = labels._jdf.queryExecution().analyzed().toString()
    assert "cc_convergence" in plan  # CollectMetrics node present
    labels.count()

    _min_label_propagation(chain, max_iters=3)
    assert CC_TELEMETRY == {"rounds": 3, "converged": False}

    ranks = _pagerank(chain)
    assert PAGERANK_TELEMETRY["iters"] == L45_ITERS
    # the chain hasn't fully mixed in 3 rounds: delta is small but real
    assert 0.0 < PAGERANK_TELEMETRY["final_max_delta"] < 0.1
    assert "pagerank_convergence" in (
        ranks._jdf.queryExecution().analyzed().toString()
    )


def test_l22_converges_within_oracle_rounds(spark, sf_dir):
    """The l22/l29 oracle SQL unrolls L22_ORACLE_ROUNDS propagation
    rounds; it equals the engine's converged answer only if the test
    corpus converges within that many rounds. Pin that precondition:
    capped-at-oracle-rounds labels == converged labels."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L22_ORACLE_ROUNDS,
        _build_hashed_shingles,
        _minhash_verified_pairs,
        _min_label_propagation,
    )

    pairs = _minhash_verified_pairs(_build_hashed_shingles(spark, sf_dir))
    capped = {
        r["node"]: r["lbl"]
        for r in _min_label_propagation(pairs, max_iters=L22_ORACLE_ROUNDS).collect()
    }
    converged = {
        r["node"]: r["lbl"] for r in _min_label_propagation(pairs).collect()
    }
    assert capped == converged


def test_l23_contamination_invariants(spark, sf_dir):
    rows = queries()["l23_contamination"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_contaminated"] <= r["n_train"]
        assert 0.0 <= r["contamination_rate"] <= 1.0


def test_l24_quantize_invariants(spark, sf_dir):
    rows = queries()["l24_embedding_quantize"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # symmetric max-abs scaling: the max-|x| element quantizes to
        # exactly ±127, so every vector saturates at least once
        assert r["n_saturated"] >= r["n_vecs"]
        assert r["avg_mse_ppm"] > 0
        assert r["max_abs_err_milli"] > 0


def test_l25_verdicts_partition_batch(spark, sf_dir):
    rows = queries()["l25_incremental_dedup"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r["n_dup_vs_corpus"] + r["n_dup_in_batch"] + r["n_ingested"]
            == r["n_batch"]
        )
        assert r["sum_ingested_ids"] >= 0


def test_l26_packing_invariants(spark, sf_dir):
    from etl_wlg_metlink_spark.operators.llm_pipeline import L26_SEQ_LEN

    rows = queries()["l26_sequence_pack"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["fill_ratio"] <= 1.0
        # bins must cover the tokens, with at most one partial bin per shard
        assert r["n_bins"] * L26_SEQ_LEN >= r["total_tokens"]
        assert 0 <= r["n_spanning"] <= r["n_docs"]


def test_l27_redaction_fires_on_every_row(spark, sf_dir):
    rows = queries()["l27_pii_redaction"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # the deterministic augmentation guarantees ≥1 of each PII kind
        assert r["n_emails"] >= 1 and r["n_ips"] >= 1 and r["n_phones"] >= 1
        assert "<EMAIL>" in r["redacted"]
        assert "<IP>" in r["redacted"]
        assert "<PHONE>" in r["redacted"]
        assert "@" not in r["redacted"]


def test_l28_overlap_invariants(spark, sf_dir):
    rows = queries()["l28_cross_source_overlap"](spark, sf_dir).collect()
    assert rows, "corpus has cross-source near-dups; matrix must be non-empty"
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert r["n_shared"] >= 1
        assert 0.0 < r["overlap_coef"] <= 1.0


def test_l29_manifest_invariants(spark, sf_dir):
    rows = queries()["l29_dedup_manifest"](spark, sf_dir).collect()
    docs = {r["doc_id"] for r in rows}
    from etl_wlg_metlink_spark.tables import load

    assert len(docs) == load(spark, sf_dir, "documents").count()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        keeps = [m for m in members if m["verdict"] == "keep"]
        # exactly one survivor per cluster, and it's the min doc_id
        assert len(keeps) == 1
        assert keeps[0]["doc_id"] == cid == min(m["doc_id"] for m in members)


def test_l32_segment_dedup_invariants(spark, sf_dir):
    """Exactly one copy of every distinct segment is 'first': summing
    (n_segs - n_dup_segs) over docs must equal the corpus-wide count of
    distinct segments, and fractions must be consistent."""
    rows = queries()["l32_segment_dedup"](spark, sf_dir).collect()
    assert rows
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L32_SEG_WORDS,
        _words,
    )
    from etl_wlg_metlink_spark.tables import load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    n_segs = F.ceil(F.size(_words(F.col("text"))) / F.lit(L32_SEG_WORDS)).cast(
        "int"
    )
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(_words(F.col("text")), i * L32_SEG_WORDS + 1, L32_SEG_WORDS),
            " ",
        ),
    )
    n_distinct = (
        docs.select(F.explode(segs).alias("seg")).distinct().count()
    )
    assert sum(r["n_segs"] - r["n_dup_segs"] for r in rows) == n_distinct
    for r in rows:
        assert 0 <= r["n_dup_segs"] <= r["n_segs"]
        assert abs(r["dup_seg_frac"] - r["n_dup_segs"] / r["n_segs"]) < 1e-3


def test_l33_projection_matches_numpy(spark, sf_dir):
    """The Catalyst fold must equal the numpy int matmul exactly (the
    projection is all-integer by construction)."""
    import numpy as np

    from etl_wlg_metlink_spark.operators.llm_pipeline import _l33_proj
    from etl_wlg_metlink_spark.tables import load

    emb = {
        r["vec_id"]: np.floor(np.array(r["embedding"], dtype=np.float64) * 1000)
        .astype(np.int64)
        for r in load(spark, sf_dir, "embeddings")
        .where("vec_id < 20")
        .collect()
    }
    proj = np.array(_l33_proj(), dtype=np.int64)
    got = {
        (r["vec_id"], r["out_dim"]): r["component"]
        for r in queries()["l33_random_projection"](spark, sf_dir)
        .where("vec_id < 20")
        .collect()
    }
    for vid, q in emb.items():
        want = proj @ q
        for d in range(len(want)):
            assert got[(vid, d)] == want[d]


def test_l34_rates_and_determinism(spark, sf_dir):
    rows = queries()["l34_mixture_sample"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["rate"] <= 1.0
        assert 0 <= r["n_kept"] <= r["n_total"]
        # rate ≈ 1 keeps everything (cap), and the empirical keep rate
        # tracks the target loosely (hash-uniform sampling)
        if r["rate"] == 1.0:
            assert r["n_kept"] == r["n_total"]
    again = queries()["l34_mixture_sample"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_l35_semantic_dedup_invariants(spark, sf_dir):
    from etl_wlg_metlink_spark.tables import load

    rows = queries()["l35_semantic_dedup"](spark, sf_dir).collect()
    assert rows
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert sum(r["n_members"] for r in rows) == n_vecs
    total_drops = 0
    for r in rows:
        n = r["n_members"]
        assert r["n_pairs"] == n * (n - 1) // 2
        assert r["n_sem_drops"] < n  # at least one representative survives
        if r["max_cos"] is not None:
            assert -1.0 <= r["max_cos"] <= 1.0
        total_drops += r["n_sem_drops"]
    assert total_drops > 0, "tau calibrated to P99 must catch some pairs"


def test_l36_oov_accounting(spark, sf_dir):
    """OOV + in-vocab must partition each doc's tokens, and corpus-wide
    in-vocab mass must equal the summed frequency of the top-V words."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import L36_VOCAB, _words
    from etl_wlg_metlink_spark.tables import load
    from pyspark.sql import functions as F

    rows = queries()["l36_vocab_coverage"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert abs(r["oov_rate"] - r["n_oov"] / r["n_tokens"]) < 1e-3
    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.col("count").desc(), "w")
        .limit(L36_VOCAB)
        .collect()
    )
    vocab_mass = sum(r["count"] for r in words)
    in_vocab_mass = sum(r["n_tokens"] - r["n_oov"] for r in rows)
    assert in_vocab_mass == vocab_mass


def test_l37_chunks_cover_and_overlap(spark, sf_dir):
    """Chunks tile every document: chunk 0 starts at 0, consecutive
    starts differ by the stride, the tail chunk reaches the last token,
    and full chunks are exactly W wide."""
    from collections import defaultdict

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L37_CHUNK_TOKENS,
        L37_STRIDE,
    )

    rows = queries()["l37_chunk_windows"](spark, sf_dir).collect()
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    assert by_doc
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        assert chunks[0]["chunk_start"] == 0
        for i, c in enumerate(chunks):
            assert c["chunk_start"] == i * L37_STRIDE
            assert 1 <= c["n_chunk_tokens"] <= L37_CHUNK_TOKENS
        # all but the last start is a full-coverage window: every token
        # index below the last chunk's end is inside some chunk
        last = chunks[-1]
        n_tokens = last["chunk_start"] + last["n_chunk_tokens"]
        if len(chunks) > 1:
            assert L37_STRIDE < L37_CHUNK_TOKENS  # overlap exists
            assert chunks[-2]["chunk_start"] + L37_CHUNK_TOKENS >= last[
                "chunk_start"
            ]
        assert n_tokens >= 1


def test_l38_recall_monotone_in_nprobe(spark, sf_dir):
    """Probing more cells can only widen the candidate set, so recall@5
    must be non-decreasing in nprobe for every query; the widest sweep
    point must beat the narrowest in aggregate."""
    from collections import defaultdict

    from etl_wlg_metlink_spark.operators.llm_pipeline import L38_NPROBES

    rows = queries()["l38_ivf_recall_sweep"](spark, sf_dir).collect()
    assert len(rows) == 20 * len(L38_NPROBES)
    by_q = defaultdict(dict)
    for r in rows:
        by_q[r["query_id"]][r["nprobe"]] = r["recall_at_5"]
    for q, curve in by_q.items():
        vals = [curve[n] for n in L38_NPROBES]
        assert all(0.0 <= v <= 1.0 for v in vals)
        assert vals == sorted(vals), f"recall not monotone for query {q}"
    assert sum(c[L38_NPROBES[-1]] for c in by_q.values()) > sum(
        c[L38_NPROBES[0]] for c in by_q.values()
    )


def test_l39_edit_verify_agrees_with_jaccard(spark, sf_dir):
    """The two verify signals must agree on this corpus: every
    jaccard-verified l6 pair is also an edit-distance near-dup, and
    l39 admits nothing the jaccard signal scores as clearly unrelated
    (the calibration margin: admitted pairs all have jaccard ≥ 0.5)."""
    l6 = {
        (r["doc_i"], r["doc_j"])
        for r in queries()["l6_minhash_near_dup"](spark, sf_dir).collect()
    }
    l39 = queries()["l39_edit_distance_dedup"](spark, sf_dir).collect()
    got = {(r["doc_i"], r["doc_j"]) for r in l39}
    assert l6 <= got, "a jaccard-verified near-dup failed the edit verify"
    for r in l39:
        assert r["doc_i"] < r["doc_j"]
        assert 0 <= r["rel_edit"] <= 0.35
        assert r["jaccard"] >= 0.5, (
            f"edit verify admitted a jaccard-unrelated pair: {r}"
        )


def test_l40_card_grains_consistent(spark, sf_dir):
    """The four grouping-set grains must tell one story: per-grain doc
    counts all sum to the corpus total, and the grand-total row equals
    the sum over the (lang, source) cells."""
    rows = queries()["l40_dataset_card"](spark, sf_dir).collect()
    by_gid: dict[int, list] = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    # gid: 0 = (lang, source), 1 = (lang), 2 = (source), 3 = total
    assert set(by_gid) == {0, 1, 2, 3}
    total = by_gid[3][0]
    for gid in (0, 1, 2):
        assert sum(r["n_docs"] for r in by_gid[gid]) == total["n_docs"]
        assert sum(r["total_tokens"] for r in by_gid[gid]) == total[
            "total_tokens"
        ]


def test_l41_zipf_sanity(spark, sf_dir):
    """One fit row; the slope is negative (frequency falls with rank)
    and predicts the top word's log-frequency to within the scatter of
    this synthetic (deliberately non-Zipfian) vocabulary."""
    rows = queries()["l41_zipf_fit"](spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_vocab"] > 0 and r["total_tokens"] > 0
    assert r["zipf_slope"] < 0
    assert r["zipf_intercept"] > 0


def test_l42_composes_its_stage_lanes(spark, sf_dir):
    """The composed corpus build must agree with its component lanes:
    every kept doc is an l29 'keep', stage counts only shrink
    (survivors ≥ clean ≥ kept per lang), and the run is deterministic."""
    rows = queries()["l42_corpus_build"](spark, sf_dir).collect()
    assert rows
    keeps = {
        r["doc_id"]
        for r in queries()["l29_dedup_manifest"](spark, sf_dir).collect()
        if r["verdict"] == "keep"
    }
    for r in rows:
        assert 0 < r["n_kept"] <= r["n_clean"]
        assert 0.0 < r["rate"] <= 1.0
        assert r["total_tokens"] > 0
    assert sum(r["n_clean"] for r in rows) <= len(keeps)
    again = queries()["l42_corpus_build"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_r21_finds_planted_pattern(spark, tmp_path):
    """A value series containing one exact copy of the template must
    score that position highest (matched filter peaks at alignment),
    and users with fewer than 8 events must contribute no rows."""
    import datetime as dt

    from etl_wlg_metlink_spark.operators.relational import (
        R21_PATTERN,
        r21_pattern_match,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    eid = 0
    # user 1: flat noise, then the template itself, then flat noise
    series = [0.5] * 6 + [float(p) for p in R21_PATTERN] + [0.5] * 6
    for i, v in enumerate(series):
        rows.append((eid, t0 + dt.timedelta(minutes=i), 1, "click", v, None))
        eid += 1
    # the event at the END of the planted window (oldest→newest match)
    expect_eid = 6 + len(R21_PATTERN) - 1
    # user 2: only 5 events — below the window, must not appear
    for i in range(5):
        rows.append((eid, t0 + dt.timedelta(minutes=i), 2, "click", 9.9, None))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))

    got = r21_pattern_match(spark, str(tmp_path)).collect()
    assert got, "no matches returned"
    assert all(r["user_id"] == 1 for r in got)
    top = got[0]
    assert top["event_id"] == expect_eid
    # perfect alignment scores the template's self-dot-product
    assert top["score"] == float(sum(p * p for p in R21_PATTERN))


def test_r7_asof_tie_break_deterministic(spark, tmp_path):
    """Two clicks sharing (user_id, ts) must resolve to the MAX click_id
    (VERDICT r3: the old window ordered only by (ts, side, purchase_id),
    leaving equal-ts clicks nondeterministically ordered)."""
    import datetime as dt

    from etl_wlg_metlink_spark.operators.relational import r7_asof_join

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        # two clicks at the SAME (user, ts) — the tie under test
        (10, t0, 1, "click", None, None),
        (11, t0, 1, "click", None, None),
        # purchase exactly at the tie ts (inclusive >=) and one later
        (20, t0, 1, "purchase", 5.0, None),
        (21, t0 + dt.timedelta(seconds=30), 1, "purchase", 7.0, None),
        # control user: single click then purchase
        (12, t0, 2, "click", None, None),
        (22, t0 + dt.timedelta(seconds=10), 2, "purchase", 9.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))

    got = {
        r["purchase_id"]: r["last_click_id"]
        for r in r7_asof_join(spark, str(tmp_path)).collect()
    }
    assert got == {20: 11, 21: 11, 22: 12}
    # determinism across re-runs (same plan, fresh execution)
    for _ in range(3):
        again = {
            r["purchase_id"]: r["last_click_id"]
            for r in r7_asof_join(spark, str(tmp_path)).collect()
        }
        assert again == got


def test_r22_spine_dense_and_gapfilled(spark, sf_dir):
    """The recursive spine must be month-contiguous over the full
    orders date range, and the sparsity threshold (R22_BIG_ORDER) is
    tuned so at least one month has NO qualifying orders — proving the
    left-join gap-fill emits the zero row instead of dropping it."""
    from etl_wlg_metlink_spark.operators.relational import r22_recursive_cte

    rows = r22_recursive_cte(spark, sf_dir).collect()
    yms = sorted(r["ym"] for r in rows)
    assert len(yms) == len(set(yms))
    # contiguity: every month between min and max appears exactly once
    y0, m0 = map(int, yms[0].split("-"))
    y1, m1 = map(int, yms[-1].split("-"))
    assert len(yms) == (y1 - y0) * 12 + (m1 - m0) + 1
    zero = [r for r in rows if r["n_big"] == 0]
    assert zero, "threshold left no empty month — gap-fill untestable"
    for r in zero:
        assert float(r["sum_price"]) == 0.0


def test_x15_lateral_is_per_customer_topk(spark, sf_dir):
    """Lateral top-2 must agree with the window-rank formulation and
    never emit more than 2 rows per customer (inner-lateral: customers
    with zero orders are absent)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.operators.extended import x15_lateral_topk
    from etl_wlg_metlink_spark.tables import load

    got = x15_lateral_topk(spark, sf_dir)
    counts = got.groupBy("c_custkey").count().agg(F.max("count")).first()[0]
    assert counts <= 2
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    expect = (
        load(spark, sf_dir, "orders")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey")
    )
    assert {(r[0], r[1]) for r in got.select("c_custkey", "o_orderkey").collect()} == {
        (r[0], r[1]) for r in expect.collect()
    }


def test_l43_marks_planted_duplicate_span(spark, tmp_path):
    """Two docs sharing a long boilerplate span must have every window
    inside the span marked duplicated; a doc with no shared span must
    report zero duplicated windows."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L43_W,
        l43_substring_dedup,
    )

    span = " ".join(f"boiler{i}" for i in range(L43_W + 2))  # 3 windows
    rows = [
        (1, span + " uniqueA1 uniqueA2", "en", "web", 0),
        (2, "uniqueB1 uniqueB2 " + span, "en", "web", 0),
        (3, " ".join(f"solo{i}" for i in range(L43_W + 4)), "en", "web", 0),
        (4, "too short", "en", "web", 0),  # < W tokens: no windows
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["doc_id"]: r for r in l43_substring_dedup(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2, 3}  # doc 4 has no windows
    # the shared span contributes 3 duplicated windows to each carrier
    assert got[1]["n_dup"] >= 3 and got[2]["n_dup"] >= 3
    assert got[3]["n_dup"] == 0 and got[3]["dup_share"] == 0.0
    for r in got.values():
        assert 0 <= r["n_dup"] <= r["n_windows"]


def test_l51_salted_substring_dedup_matches_unsalted(spark, tmp_path):
    """VERDICT r5 stretch 6: plant the pathological corpus — ONE
    boilerplate fingerprint shared by (almost) every document — and
    pin (a) salted result == unsalted result row for row, and (b) the
    salted plan really joins on (fp, salt) with the dup-fp side
    exploded over every salt value."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L43_W,
        l43_substring_dedup,
        l51_substring_dedup_salted,
    )

    span = " ".join(f"hot{i}" for i in range(L43_W))  # exactly 1 window
    rows = [
        (i, span + f" tail{i}a tail{i}b", "en", "web", 0) for i in range(40)
    ] + [(99, " ".join(f"solo{i}" for i in range(L43_W + 2)), "en", "web", 0)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    sf = str(tmp_path)
    plain = sorted(map(tuple, l43_substring_dedup(spark, sf).collect()))
    salted = sorted(map(tuple, l51_substring_dedup_salted(spark, sf).collect()))
    assert salted == plain
    # every doc carrying the hot span has its first window marked dup
    by_id = {t[0]: t for t in salted}
    assert all(by_id[i][2] >= 1 for i in range(40))  # n_dup >= 1
    assert by_id[99][2] == 0
    # the salt is really in the join: analyzed plan joins on the salt
    # column and explodes the salt sequence on the dup-fp side
    plan = (
        l51_substring_dedup_salted(spark, sf)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "l43_salt" in plan and "explode" in plan
    assert "l43_salt" not in (
        l43_substring_dedup(spark, sf)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )


def test_l44_split_deterministic_and_complete(spark, sf_dir):
    """Hash split must partition the corpus exactly (no doc lost or
    double-counted), keep split shares near the cut points, and be
    bit-stable across re-runs (the retry-safety property rand() lacks)."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.operators.llm_pipeline import l44_hash_split
    from etl_wlg_metlink_spark.tables import load

    out = l44_hash_split(spark, sf_dir)
    rows = out.collect()
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    n_total = load(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_total
    train = sum(r["n_docs"] for r in rows if r["split"] == "train")
    assert 0.80 <= train / n_total <= 0.97
    again = sorted(map(tuple, l44_hash_split(spark, sf_dir).collect()))
    assert again == sorted(map(tuple, rows))


def test_l45_pagerank_star_graph(spark):
    """On a planted star (center 1 — leaves 2,3,4), the center must
    outrank every leaf, leaves must tie, and total rank mass must stay
    1 (symmetric graph: no dangling-node leakage)."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import _pagerank

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_i bigint, doc_j bigint"
    )
    rows = {r["node"]: r for r in _pagerank(pairs).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["deg"] == 3
    leaf_ranks = {rows[k]["rank"] for k in (2, 3, 4)}
    assert len(leaf_ranks) == 1, "leaves must tie"
    assert rows[1]["rank"] > leaf_ranks.pop()
    assert abs(sum(r["rank"] for r in rows.values()) - 1.0) < 1e-9


def test_l46_rulecard_consistency(spark, sf_dir):
    """fail_mask must encode exactly the fired rule bits, n_failed the
    popcount, verdict keep iff mask==0 — and every rule must fire on a
    nonzero minority of the corpus (thresholds sit inside the observed
    metric spread, else the rule-card is dead weight)."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L46_RULES,
        l46_quality_rulecard,
    )

    rows = l46_quality_rulecard(spark, sf_dir).collect()
    fired = dict.fromkeys([n for n, _ in L46_RULES], 0)
    for r in rows:
        mask = sum(bit for name, bit in L46_RULES if r[f"r_{name}"])
        assert r["fail_mask"] == mask
        assert r["n_failed"] == bin(mask).count("1")
        assert r["verdict"] == ("keep" if mask == 0 else "drop")
        for name, _ in L46_RULES:
            fired[name] += bool(r[f"r_{name}"])
    assert all(0 < v < len(rows) for v in fired.values()), fired
    assert any(r["verdict"] == "keep" for r in rows)
    assert any(r["verdict"] == "drop" for r in rows)


def test_l47_boilerplate_invariants(spark, sf_dir):
    """Coverage fraction is n_common/n_shingles in [0,1]; the flag is
    the majority rule on those counts; the threshold must flag a real
    minority (not 0%, not 100%) or the lane is dead weight."""
    rows = queries()["l47_boilerplate_ngrams"](spark, sf_dir).collect()
    assert rows
    n_flagged = 0
    for r in rows:
        assert 1 <= r["n_common"] <= r["n_shingles"] or r["n_common"] == 0
        # tolerance, not round(): Python rounds half-even, Spark half-up
        assert abs(r["boiler_frac"] - r["n_common"] / r["n_shingles"]) < 5.1e-5
        assert r["is_boilerplate"] == (r["n_common"] * 2 > r["n_shingles"])
        n_flagged += r["is_boilerplate"]
    assert 0 < n_flagged < len(rows)


def test_l48_bpe_pairs_invariants(spark, sf_dir):
    """Every merge candidate is exactly 2 chars, counts are positive
    and non-increasing in rank order, and the top pair really is a
    substring of some corpus word."""
    rows = queries()["l48_bpe_pair_counts"](spark, sf_dir).collect()
    assert len(rows) == 20
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r["pair"]) == 2 and r["pair_count"] > 0 for r in rows)
    # the top merge pair must occur somewhere in the FULL corpus (a
    # head(50) sample isn't guaranteed to contain the corpus-wide top
    # pair — ADVICE r5)
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.tables import load

    top = rows[0]["pair"]
    hits = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").contains(top))
        .limit(1)
        .count()
    )
    assert hits == 1, f"top BPE pair {top!r} absent from the corpus"


def test_l49_triangles_vs_l22_clusters(spark, sf_dir):
    """Triangle membership implies degree ≥ 2; clustering is bounded
    by 1; every triangle node must sit in some l22 duplicate cluster
    of size ≥ 3 (a triangle IS a 3-clique, and CC components contain
    their cliques)."""
    rows = queries()["l49_graph_triangles"](spark, sf_dir).collect()
    assert rows, "near-dup graph is non-empty at this SF"
    tri_nodes = [r["doc_id"] for r in rows if r["n_triangles"] > 0]
    for r in rows:
        assert r["deg"] >= 1
        assert 0.0 <= r["clustering"] <= 1.0
        if r["n_triangles"] > 0:
            assert r["deg"] >= 2
    manifest = queries()["l29_dedup_manifest"](spark, sf_dir).collect()
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in manifest}
    from collections import Counter

    sizes = Counter(cluster_of.values())
    for n in tri_nodes:
        assert sizes[cluster_of[n]] >= 3


def test_l52_corpus_diff_statuses_partition(spark, sf_dir):
    """The diff must partition v1 ∪ v2 exactly: per-status doc counts
    recomputed driver-side from the snapshot moduli must match, and
    'changed' must be exactly the edited overlap."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L52_EDIT_MOD,
        L52_V1_MOD,
        L52_V2_MOD,
    )
    from etl_wlg_metlink_spark.tables import load

    ids = [r["doc_id"] for r in load(spark, sf_dir, "documents").select("doc_id").collect()]
    exp = {"added": 0, "removed": 0, "changed": 0, "unchanged": 0}
    for i in ids:
        in1, in2 = i % L52_V1_MOD != 3, i % L52_V2_MOD != 5
        if in1 and in2:
            exp["changed" if i % L52_EDIT_MOD == 2 else "unchanged"] += 1
        elif in2:
            exp["added"] += 1
        elif in1:
            exp["removed"] += 1
    rows = queries()["l52_corpus_diff"](spark, sf_dir).collect()
    got = {}
    for r in rows:
        got[r["status"]] = got.get(r["status"], 0) + r["n_docs"]
    assert got == {k: v for k, v in exp.items() if v}


def test_l53_calibration_buckets(spark, sf_dir):
    """Deciles are valid fixed-width buckets: scores inside bucket
    bounds, counts cover the corpus, and the outcome signal varies
    across buckets (otherwise the curve is vacuous)."""
    from etl_wlg_metlink_spark.tables import load

    rows = sorted(
        queries()["l53_quality_calibration"](spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert rows
    total = 0
    for r in rows:
        assert 0 <= r["decile"] <= 9
        lo, hi = r["decile"] / 10.0, (r["decile"] + 1) / 10.0
        assert lo <= r["min_score"] <= r["max_score"]
        assert r["max_score"] < hi or r["decile"] == 9
        assert 0.0 <= r["long_rate"] <= 1.0
        total += r["n_docs"]
    assert total == load(spark, sf_dir, "documents").count()
    assert len({r["long_rate"] for r in rows}) > 1


def test_l54_crossentropy_invariants(spark, sf_dir):
    """Train scores itself: OOV must be exactly 0 on train and the
    cross-entropy positive everywhere; all three splits present."""
    rows = {r["split"]: r for r in queries()["l54_split_crossentropy"](spark, sf_dir).collect()}
    assert set(rows) == {"train", "val", "test"}
    assert rows["train"]["oov_rate"] == 0.0
    for r in rows.values():
        assert r["n_tokens"] > 0
        assert 0.0 <= r["oov_rate"] <= 1.0
        assert r["cross_entropy"] > 0


def test_r28_one_supplier_per_part(spark, sf_dir):
    """Argmin discipline: each part appears at most once, prices
    ascend, and every reported price is a real minimum (spot-check the
    first row against a direct aggregation)."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.tables import load

    rows = queries()["r28_min_cost_supplier"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    parts = [r["p_partkey"] for r in rows]
    assert len(parts) == len(set(parts))
    prices = [float(r["min_price"]) for r in rows]
    assert prices == sorted(prices)
    li = load(spark, sf_dir, "lineitem")
    true_min = (
        li.where(F.col("l_partkey") == rows[0]["p_partkey"])
        .agg(F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("m"))
        .first()["m"]
    )
    assert float(true_min) == float(rows[0]["min_price"])


def test_l55_pq_invariants(spark, sf_dir):
    """PQ audit sanity: vec counts cover the corpus, codebook usage is
    within the M*K geometry, and reconstruction error is positive
    (codewords are 16 of 500+ vectors — exact reconstruction would
    mean a broken distance)."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import PQ_K, PQ_M
    from etl_wlg_metlink_spark.tables import load

    rows = queries()["l55_product_quantization"](spark, sf_dir).collect()
    assert rows
    assert sum(r["n_vecs"] for r in rows) == load(
        spark, sf_dir, "embeddings"
    ).count()
    for r in rows:
        assert 1 <= r["codes_used"] <= PQ_M * PQ_K
        assert r["mean_sq_err"] > 0


def test_l56_bm25_invariants(spark, sf_dir):
    """Retrieval discipline: ranks are 1..K per query with scores
    non-increasing, every query id satisfies the query-set rule,
    scores are positive (BM25+ idf), and a query never retrieves
    itself."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L56_QMOD,
        L56_TOPK,
    )

    rows = queries()["l56_bm25_retrieval"](spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r["query_id"] % L56_QMOD == 7
        assert r["doc_id"] != r["query_id"]
        assert r["score"] > 0
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= L56_TOPK
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_l57_dialogue_invariants(spark, sf_dir):
    """Every user yields one sample; turn count respects the cap and
    equals the newline count + 1; the fingerprint is stable across
    re-runs (retry-safety of the assembly)."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import L57_MAX_TURNS
    from etl_wlg_metlink_spark.tables import load

    rows = queries()["l57_dialogue_pack"](spark, sf_dir).collect()
    n_users = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert len(rows) == n_users
    for r in rows:
        assert 1 <= r["n_turns"] <= L57_MAX_TURNS
    again = queries()["l57_dialogue_pack"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_l58_fim_reassembly(spark, sf_dir):
    """The three pieces must reassemble to the original document:
    md5(prefix + ' ' + middle + ' ' + suffix) == md5(text) for every
    split doc (checked by recomputing the slices engine-side and
    comparing against md5 of the raw text)."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L58_MIN_TOKENS,
        L58_SPAN,
        _md5_int60,
        _words,
    )
    from etl_wlg_metlink_spark.tables import load

    out = queries()["l58_fim_spans"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.md5("text").alias("orig_md5"), _words(F.col("text")).alias("ws")
    )
    ws, n = F.col("ws"), F.size(F.col("ws"))
    start = (
        _md5_int60(F.concat(F.col("doc_id").cast("string"), F.lit("_fim")))
        % (n - L58_SPAN - 1)
        + 2
    )
    rejoined = F.md5(
        F.concat_ws(
            " ",
            F.array_join(F.slice(ws, 1, start - 1), " "),
            F.array_join(F.slice(ws, start, L58_SPAN), " "),
            F.array_join(
                F.slice(ws, start + L58_SPAN, n - start - L58_SPAN + 1), " "
            ),
        )
    )
    check = (
        base.where(n >= L58_MIN_TOKENS)
        .select("doc_id", "orig_md5", rejoined.alias("rejoined_md5"))
        .join(out, "doc_id")
    )
    bad = check.where(F.col("orig_md5") != F.col("rejoined_md5")).count()
    assert bad == 0
    assert check.count() == out.count() > 0
    # suffix is never empty: span_start <= n_tokens - span width
    assert out.where(
        F.col("span_start") > F.col("n_tokens") - L58_SPAN
    ).count() == 0


def test_r29_late_orders_match_direct_count(spark, sf_dir):
    """The semi-join must count each qualifying order exactly once:
    the per-priority totals re-derived with a direct distinct-count
    over the late-line join must match."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.tables import load

    rows = queries()["r29_order_priority_check"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 5
    got = sum(r["order_count"] for r in rows)
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    direct = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("o_orderkey")
        .distinct()
        .count()
    )
    assert got == direct


def test_r30_histogram_covers_every_customer(spark, sf_dir):
    """Q13's NULL→0 requirement: the count histogram must partition the
    full customer set (zero-order customers included, each customer in
    exactly one bucket)."""
    from etl_wlg_metlink_spark.tables import load

    rows = queries()["r30_customer_order_distribution"](spark, sf_dir).collect()
    n_cust = load(spark, sf_dir, "customer").count()
    assert sum(r["custdist"] for r in rows) == n_cust
    buckets = [r["c_count"] for r in rows]
    assert len(buckets) == len(set(buckets))


def test_r31_share_bounded_and_monthly(spark, sf_dir):
    rows = queries()["r31_promo_revenue_share"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 12
    for r in rows:
        assert 0.0 <= r["promo_share"] <= 100.0
    months = [r["month"] for r in rows]
    assert months == sorted(months)


def test_r32_only_below_half_average_lines_counted(spark, sf_dir):
    """The threshold self-join must reproduce a direct two-pass
    computation of the same revenue."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.tables import load

    row = queries()["r32_small_quantity_revenue"](spark, sf_dir).first()
    part = (
        load(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").join(
        part, F.col("l_partkey") == F.col("p_partkey")
    )
    avgs = {
        r["l_partkey"]: r["a"]
        for r in li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("a")).collect()
    }
    import decimal

    expect = sum(
        decimal.Decimal(str(r["l_extendedprice"])).quantize(decimal.Decimal("0.01"))
        for r in li.select("l_partkey", "l_quantity", "l_extendedprice").collect()
        if r["l_quantity"] < 0.5 * avgs[r["l_partkey"]]
    )
    if row["avg_yearly"] is None:
        assert expect == 0
    else:
        assert abs(float(expect) / 7.0 - row["avg_yearly"]) < 1e-3


def test_r33_single_pass_disjunction(spark, sf_dir):
    """The OR'd arms must resolve in ONE lineitem⨝part pass — the plan
    may contain exactly one join, and the result matches summing the
    three arms independently."""
    df = queries()["r33_disjunctive_predicate_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_joins = sum(
        plan.count(j) for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1, f"expected one join, plan has {n_joins}"
    row = df.first()
    assert row["n_lines"] >= 0


def test_r34_survivors_have_no_recent_orders(spark, sf_dir):
    """Anti-join discipline: re-derive the survivor custkey set
    directly and compare nation-level counts."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.tables import load

    rows = queries()["r34_prospect_customers"](spark, sf_dir).collect()
    cust = load(spark, sf_dir, "customer")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal")).first()[0]
    )
    recent = {
        r["o_custkey"]
        for r in load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
        .collect()
    }
    direct = {}
    for r in cust.select("c_custkey", "c_nationkey", "c_acctbal").collect():
        if r["c_acctbal"] > avg_bal and r["c_custkey"] not in recent:
            direct[r["c_nationkey"]] = direct.get(r["c_nationkey"], 0) + 1
    assert {r["c_nationkey"]: r["numcust"] for r in rows} == direct
    assert sum(direct.values()) > 0


def test_l59_rrf_consistent_with_ranks(spark, sf_dir):
    """RRF discipline: per query the returned rows are rnk 1..K with
    non-increasing fused scores, and every rrf value is exactly the
    reciprocal-rank formula applied to the two integer ranks."""
    rows = queries()["l59_rrf_hybrid"](spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
        expect = round(1.0 / (60 + r["rank_bm25"]) + 1.0 / (60 + r["rank_cos"]), 6)
        assert abs(r["rrf"] - expect) < 1e-9
        assert r["rank_bm25"] >= 1 and r["rank_cos"] >= 1
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["rrf"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_l60_key_formula_and_weighting(spark, sf_dir):
    """The sample keys must match a host-side recomputation of the
    Efraimidis-Spirakis key for the selected docs, and be the global
    minimum keys (spot-check: no unselected doc has a smaller key)."""
    import hashlib
    import math

    rows = queries()["l60_weighted_sample"](spark, sf_dir).collect()
    from etl_wlg_metlink_spark.operators.llm_pipeline import L60_N

    assert len(rows) == L60_N
    keys = [r["sample_key"] for r in rows]
    assert keys == sorted(keys)

    def key_of(doc_id, n_chars):
        h = int(hashlib.md5(f"{doc_id}_aes".encode()).hexdigest()[:15], 16)
        u = (h % 1000000 + 1) / 1000001.0
        return round(-math.log(u) / n_chars, 9)

    for r in rows:
        assert abs(key_of(r["doc_id"], r["n_chars"]) - r["sample_key"]) < 1e-9


def test_l61_estimate_tracks_exact(spark, sf_dir):
    """Sketch contract: the 8-perm MinHash estimate is within 3/8 of
    the exact Jaccard for every source pair (l61's documented bound),
    and set algebra holds."""
    rows = queries()["l61_domain_jaccard"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert r["n_inter"] <= r["n_union"]
        assert abs(r["est_jaccard"] - r["exact_jaccard"]) <= 0.375 + 1e-9
        assert r["src_a"] < r["src_b"]


def test_l62_only_test_docs_and_bounded_rates(spark, sf_dir):
    import hashlib

    rows = queries()["l62_ngram_memorization"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        h = int(
            hashlib.md5(f"{r['doc_id']}_l44".encode()).hexdigest()[:15], 16
        )
        u = (h % 1000000) / 1000000.0
        assert u >= 0.95, "non-test doc in the memorization audit"
        assert 0 <= r["n_memorized"] <= r["n_windows"]
        assert abs(r["mem_rate"] - round(r["n_memorized"] / r["n_windows"], 6)) < 1e-9


def test_l63_entropy_bounds_and_recompute(spark, sf_dir):
    """Entropy is within [0, log2(alphabet)] and matches a host-side
    recomputation for the first document."""
    import collections
    import math

    from etl_wlg_metlink_spark.tables import load

    rows = queries()["l63_char_entropy"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["entropy"] <= math.log2(r["n_distinct_chars"]) + 1e-6
        assert r["low_entropy"] == (r["entropy"] < 3.0)
    doc = load(spark, sf_dir, "documents").orderBy("doc_id").first()
    counts = collections.Counter(doc["text"])
    n = sum(counts.values())
    expect = round(sum(-(c / n) * math.log2(c / n) for c in counts.values()), 4)
    got = next(r for r in rows if r["doc_id"] == doc["doc_id"])
    assert abs(got["entropy"] - expect) < 1e-6
    assert got["n_chars_counted"] == n


def test_x17_sql_udf_inlines_into_plan(spark, sf_dir):
    """SQL UDFs must expand at analysis time: the executed plan
    contains no Python evaluation node and stays in whole-stage
    codegen; band totals cover every lineitem row exactly once."""
    from etl_wlg_metlink_spark.tables import load

    df = queries()["x17_sql_udf"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    assert {r["band"] for r in rows} <= {"low", "mid", "high"}
    assert sum(r["n_lines"] for r in rows) == load(
        spark, sf_dir, "lineitem"
    ).count()


def test_l64_scores_ordered_and_raw_pool_only(spark, sf_dir):
    """DSIR selection discipline: only raw-pool (non-target) docs are
    scored, scores are descending, and one doc's feature count matches
    unigrams + bigrams of its text."""
    rows = queries()["l64_dsir_importance"](spark, sf_dir).collect()
    assert rows
    assert all(r["lang"] != "en" for r in rows)
    scores = [r["importance"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    from etl_wlg_metlink_spark.tables import load

    docs_df = load(spark, sf_dir, "documents")
    doc = docs_df.where(docs_df.doc_id == rows[0]["doc_id"]).first()
    n_tok = len(doc["text"].split(" "))
    assert rows[0]["n_features"] == n_tok + max(n_tok - 1, 0)


def test_l65_chunks_partition_every_document(spark, sf_dir):
    """CDC conservation law: chunks tile the token stream exactly —
    n_chunks * mean width returns the doc's token count (chunks never
    overlap, never gap), and every doc >= W tokens appears."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.tables import load

    rows = queries()["l65_cdc_chunks"](spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["n"]
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
        if r["n"] >= 4
    }
    assert set(r["doc_id"] for r in rows) == set(docs)
    for r in rows:
        total = r["n_chunks"] * r["mean_chunk_tokens"]
        assert abs(total - docs[r["doc_id"]]) < 1e-2
        assert 0.0 <= r["shared_share"] <= 1.0
        assert r["n_shared_chunks"] <= r["n_chunks"]


def test_x18_variance_identities(spark, sf_dir):
    """var = stddev^2 and covariance/correlation sign agreement —
    the aggregate definitions must be internally consistent."""
    rows = queries()["x18_stats_profile"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r["var_value"] - r["stddev_value"] ** 2) < 1e-2
        if abs(r["corr_value_hour"]) > 1e-4:
            assert (r["corr_value_hour"] > 0) == (r["covar_value_hour"] > 0)
        assert -1.0 <= r["corr_value_hour"] <= 1.0


def test_l66_budget_arithmetic(spark, sf_dir):
    """Allocation identities: targets sum to ~budget, epoch integers
    reconstruct the target, and the partial-epoch prefix never
    overshoots the remainder."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L66_BUDGET,
        L66_WEIGHTS,
    )

    rows = queries()["l66_token_budget_epochs"](spark, sf_dir).collect()
    assert {r["lang"] for r in rows} == {lg for lg, _ in L66_WEIGHTS}
    assert abs(sum(r["target_tokens"] for r in rows) - L66_BUDGET) < len(rows)
    for r in rows:
        assert (
            r["full_epochs"] * r["available_tokens"] + r["remainder_tokens"]
            == r["target_tokens"]
        )
        assert 0 <= r["remainder_tokens"] < r["available_tokens"]
        assert r["n_docs_partial_epoch"] <= r["n_docs"]
        assert r["oversampled"] == (r["full_epochs"] >= 1)


def test_l67_metric_bounds_and_mrr_definition(spark, sf_dir):
    """Metric sanity: MRR and nDCG in [0,1]; MRR is exactly 1/rank of
    the first relevant result recomputed from the l56 ranking and the
    same-source labels."""
    from etl_wlg_metlink_spark.tables import load

    rows = queries()["l67_retrieval_metrics"](spark, sf_dir).collect()
    assert rows
    src = {
        r["doc_id"]: r["source"]
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .collect()
    }
    ranked = {}
    for r in queries()["l56_bm25_retrieval"](spark, sf_dir).collect():
        ranked.setdefault(r["query_id"], []).append((r["rnk"], r["doc_id"]))
    for r in rows:
        assert 0.0 <= r["mrr"] <= 1.0
        assert 0.0 <= r["ndcg_at_5"] <= 1.0 + 1e-9
        hits = [
            rnk
            for rnk, d in sorted(ranked[r["query_id"]])
            if src[d] == src[r["query_id"]]
        ]
        assert r["n_relevant"] == len(hits)
        expect_mrr = round(1.0 / hits[0], 6) if hits else 0.0
        assert abs(r["mrr"] - expect_mrr) < 1e-9


def test_r35_bidirectional_pairs_only(spark, sf_dir):
    """The pair predicate admits exactly the two directions and the
    revenue split re-derives from a direct filter per direction."""
    from etl_wlg_metlink_spark.operators.relational import R35_NATIONS

    rows = queries()["r35_nation_volume_shipping"](spark, sf_dir).collect()
    assert rows
    a, b = R35_NATIONS
    assert {(r["supp_nation"], r["cust_nation"]) for r in rows} <= {
        (a, b),
        (b, a),
    }
    years = [(r["supp_nation"], r["l_year"]) for r in rows]
    assert len(years) == len(set(years))


def test_r36_share_is_ratio_of_outputs(spark, sf_dir):
    rows = queries()["r36_market_share"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["mkt_share"] <= 1.0
        assert abs(
            r["mkt_share"]
            - round(float(r["target_rev"]) / float(r["total_rev"]), 6)
        ) < 1e-9
        assert float(r["target_rev"]) <= float(r["total_rev"])


def test_l68_dims_cover_embedding_width(spark, sf_dir):
    from etl_wlg_metlink_spark.tables import load

    rows = queries()["l68_embedding_dim_stats"](spark, sf_dir).collect()
    width = len(
        load(spark, sf_dir, "embeddings").first()["embedding"]
    )
    assert [r["dim"] for r in rows] == list(range(1, width + 1))
    n_vecs = load(spark, sf_dir, "embeddings").count()
    for r in rows:
        assert r["n"] == n_vecs
        assert r["var_val"] >= 0.0


def test_l69_one_keep_per_cluster_and_it_is_the_best(spark, sf_dir):
    """Survivor discipline: exactly one keep per cluster, the keep has
    the cluster-max quality (doc_id tiebreak), the manifest covers the
    whole corpus, and clusters agree with l29's min-id manifest."""
    rows = queries()["l69_keep_best_dedup"](spark, sf_dir).collect()
    l29 = queries()["l29_dedup_manifest"](spark, sf_dir).collect()
    assert len(rows) == len(l29)
    assert {r["doc_id"]: r["cluster_id"] for r in rows} == {
        r["doc_id"]: r["cluster_id"] for r in l29
    }
    by_c = {}
    for r in rows:
        by_c.setdefault(r["cluster_id"], []).append(r)
    for c, members in by_c.items():
        keeps = [m for m in members if m["verdict"] == "keep"]
        assert len(keeps) == 1
        best = min(members, key=lambda m: (-m["quality_score"], m["doc_id"]))
        assert keeps[0]["doc_id"] == best["doc_id"]


def test_x19_arrow_lane_matches_jvm_recompute(spark, sf_dir):
    """The Arrow batch lane must agree with a JVM-side recomputation of
    byte totals (octet length via built-ins), proving the RecordBatch
    plumbing preserves rows and values."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.tables import load

    rows = {r["lang"]: r for r in queries()["x19_map_in_arrow"](spark, sf_dir).collect()}
    jvm = {
        r["lang"]: r
        for r in load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.octet_length("text")).alias("total_bytes"),
        )
        .collect()
    }
    assert set(rows) == set(jvm)
    for lang, r in rows.items():
        assert r["n_docs"] == jvm[lang]["n_docs"]
        assert r["total_bytes"] == jvm[lang]["total_bytes"]


def test_l65_cdc_edit_locality(spark):
    """THE property content-defined chunking exists for: inserting one
    token mid-document changes only the chunks whose boundary windows
    see the edit; every chunk fully before or after the affected
    region survives byte-identical. Fixed-size chunking fails this
    (every downstream chunk shifts)."""
    import hashlib

    from etl_wlg_metlink_spark.operators.llm_pipeline import _cdc_chunked

    # deterministic pseudo-random 400-token doc (varied words so cuts
    # actually occur), edited by inserting one token at position 200
    words = [
        "w" + hashlib.md5(f"tok{i}".encode()).hexdigest()[:6]
        for i in range(400)
    ]
    edited = words[:200] + ["INSERTED"] + words[200:]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(edited))], "doc_id long, text string"
    )
    chunks = {1: [], 2: []}
    for r in _cdc_chunked(df).collect():
        chunks[r["doc_id"]].append(r["chunk"])
    assert len(chunks[1]) > 3, "modulus never fired; widen the test doc"
    orig, edit = set(chunks[1]), set(chunks[2])
    shared = orig & edit
    # reassembly sanity: chunks tile each doc exactly
    assert " ".join(chunks[1]) == " ".join(words)
    assert " ".join(chunks[2]) == " ".join(edited)
    # locality: the overwhelming majority of chunks survive the edit
    assert len(shared) >= len(orig) - 3, (
        f"edit invalidated {len(orig) - len(shared)} of {len(orig)} chunks"
    )


def test_l70_provenance_points_at_real_chunks(spark, sf_dir):
    """Every returned passage must exist: chunk_start is a multiple of
    the chunk width inside the doc's token range, the query never
    retrieves its own chunks, and ranks are 1..K per query."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.operators.llm_pipeline import L70_CHUNK
    from etl_wlg_metlink_spark.tables import load

    rows = queries()["l70_rag_chunk_retrieval"](spark, sf_dir).collect()
    assert rows
    n_toks = {
        r["doc_id"]: r["n"]
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    by_q = {}
    for r in rows:
        assert r["doc_id"] != r["query_id"]
        assert r["chunk_start"] % L70_CHUNK == 0
        assert r["chunk_start"] == r["chunk_idx"] * L70_CHUNK
        assert r["chunk_start"] < n_toks[r["doc_id"]]
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    for q, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))


def test_l71_frame_count_and_energy_recompute(spark, sf_dir):
    """The overlapping-frame geometry and one doc's RMS energy must
    match a host-side recomputation (the Arrow lane is a real decode
    path, not a black box)."""
    import math

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L71_HOP,
        L71_WIN,
    )
    from etl_wlg_metlink_spark.tables import load

    rows = queries()["l71_audio_energy"](spark, sf_dir).collect()
    assert rows
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").collect()
    }
    for r in rows[:5]:
        xs = [ord(c) for c in texts[r["doc_id"]]]
        n_frames = (len(xs) - L71_WIN) // L71_HOP + 1
        assert r["n_frames"] == n_frames
        rms = [
            math.sqrt(
                sum(x * x for x in xs[k * L71_HOP : k * L71_HOP + L71_WIN])
                / L71_WIN
            )
            for k in range(n_frames)
        ]
        assert abs(r["peak_rms"] - max(rms)) < 1e-3
        assert 0.0 <= r["silence_ratio"] <= 1.0
    short = [d for d, t in texts.items() if len(t) < L71_WIN]
    assert set(r["doc_id"] for r in rows).isdisjoint(short)


def test_l72_containment_dominates_jaccard(spark, sf_dir):
    """Measure identities: containment >= jaccard always (the min
    denominator is smaller); verdict precedence matches the rounded
    values; pairs are ordered and unique."""
    rows = queries()["l72_containment_dedup"](spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["doc_i"] < r["doc_j"]
        assert (r["doc_i"], r["doc_j"]) not in seen
        seen.add((r["doc_i"], r["doc_j"]))
        assert r["containment"] >= r["jaccard"] - 1e-9
        if r["jaccard"] >= 0.95:
            expect = "exact-dup"
        elif r["containment"] >= 0.9:
            expect = "subset"
        elif r["jaccard"] >= 0.8:
            expect = "near-dup"
        else:
            expect = "partial-overlap"
        assert r["relation"] == expect


def test_l72_asymmetric_probe_finds_planted_subset(spark, tmp_path):
    """The recall case Jaccard-tuned banding cannot see: a tiny doc
    embedded verbatim in a huge one (Jaccard < 0.2, containment 1.0)
    MUST surface via the asymmetric argmin-probe candidates with
    relation 'subset'; an unrelated doc must pair with nothing."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        l72_containment_dedup,
    )

    tiny = " ".join(f"quote{i}" for i in range(12))  # 10 shingles
    huge = (
        " ".join(f"host{i}" for i in range(60))
        + " " + tiny + " "
        + " ".join(f"tail{i}" for i in range(60))
    )
    rows = [
        (1, tiny, "en", "web", len(tiny)),
        (2, huge, "en", "web", len(huge)),
        (3, " ".join(f"other{i}" for i in range(40)), "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r["doc_i"], r["doc_j"]): r
        for r in l72_containment_dedup(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in got, "asymmetric probe missed the planted subset pair"
    pair = got[(1, 2)]
    assert pair["jaccard"] < 0.2
    assert pair["containment"] > 0.95
    assert pair["relation"] == "subset"
    assert all(3 not in k for k in got)


def test_l73_planted_near_identical_images(spark, tmp_path):
    """Perceptual-hash ground truth: a byte-identical payload pair
    must verify at Hamming 0; a single-character edit of the same
    payload (same length → perfectly aligned pixel buckets, one bucket
    mean nudged) must land within a couple of bits; an unrelated
    payload must pair with neither."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        l73_image_phash_neardup,
    )

    base = " ".join(f"pixel{i:03d}" for i in range(80))
    edited = base.replace("pixel040", "pixel04z")  # same length, 1 char
    other = " ".join(f"zz{i * 7 % 97:02d}q" for i in range(120))
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),       # byte-identical
        (3, edited, "en", "web", len(edited)),   # one-char edit
        (4, other, "en", "web", len(other)),     # unrelated
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r["doc_i"], r["doc_j"]): r["hamming"]
        for r in l73_image_phash_neardup(spark, str(tmp_path)).collect()
    }
    assert got.get((1, 2)) == 0, "byte-identical payloads must hash equal"
    assert (1, 3) in got and got[(1, 3)] <= 2, "single edit must stay local"
    assert got[(2, 3)] == got[(1, 3)]
    assert all(4 not in k for k in got)


def test_l73_popular_byte_pair_survives_split(spark):
    """VERDICT r12 item 1: a Hamming-0 pair whose EVERY byte value is
    popular (each primary band bucket driven over the cap by filler
    mass) was silently invisible to the drop-at-depth-1 cap — the
    split cap must still find it, because the fillers disagree with
    the pair on the SECONDARY byte, so the refined 16-bit buckets
    isolate the pair. Also pins the join bound: fillers that share a
    popular primary byte but have unique secondary bytes must not
    explode into candidates with each other."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L7_BUCKET_CAP_MIN,
        _l73_pairs,
    )

    pair_bands = [10, 20, 30, 40, 50, 60, 70, 80]
    rows = [(1, pair_bands), (2, list(pair_bands))]
    n_fill = L7_BUCKET_CAP_MIN + 10  # drives every primary bucket over
    # family A floods the pair's EVEN bands (0,2,4,6) with unique odd
    # bytes; family B floods the ODD bands (1,3,5,7) with unique even
    # bytes — so all 8 primary buckets of the pair are over-cap, but
    # every refined (byte_k, byte_k+1) bucket containing the pair has
    # width 2.
    for f in range(n_fill):
        a = list(pair_bands)
        b = list(pair_bands)
        for k in range(0, 8, 2):
            a[(k + 1) % 8] = 100 + f  # A: keep even bytes, break odd
            b[k] = 161 + f            # B: keep odd bytes, break even
        rows.append((100 + f, a))
        rows.append((1000 + f, b))
    sig = spark.createDataFrame(rows, "doc_id long, bands array<int>")
    got = {
        (r["doc_i"], r["doc_j"]): r["hamming"]
        for r in _l73_pairs(sig, n_docs=len(rows)).collect()
    }
    assert got.get((1, 2)) == 0, (
        "popular-byte Hamming-0 pair must survive the bucket split"
    )
    # fillers within a family share over-cap primary buckets but have
    # unique secondary bytes → refined buckets of width 1 → no pairs
    # among fillers, and none with the planted pair (Hamming > 14)
    assert all(k == (1, 2) for k in got), got


def test_r37_only_returned_quarter_revenue(spark, sf_dir):
    """Top-20 discipline and filter correctness: revenue descends, and
    the top customer's revenue re-derives from a direct filtered
    aggregation."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.tables import load

    rows = queries()["r37_returned_item_reporting"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    revs = [float(r["revenue"]) for r in rows]
    assert revs == sorted(revs, reverse=True)
    top = rows[0]
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        & (F.col("o_custkey") == top["c_custkey"])
    )
    direct = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("decimal(18,4)")
            ).alias("rev")
        )
        .first()["rev"]
    )
    assert abs(float(direct) - float(top["revenue"])) < 1e-6


def test_r12_hll_estimate_within_5pct_of_exact(spark):
    """VERDICT r10 item 4: the exact-count accuracy check lives HERE,
    not in the benched lane — r12's production path is the portable
    HLL sketch alone (no expand+shuffle count_distinct). Exercises
    BOTH estimator branches: sf0.001 (~1.5k distinct < 2.5m, the
    linear-counting correction) and sf0.01 (~15k distinct, the raw
    harmonic-mean path)."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.operators.relational import r12_approx_distinct
    from etl_wlg_metlink_spark.tables import load

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        row = r12_approx_distinct(spark, sf).first()
        exact_row = (
            load(spark, sf, "lineitem")
            .agg(
                F.count_distinct("l_orderkey").alias("exact"),
                F.count("*").alias("n"),
            )
            .first()
        )
        exact = exact_row["exact"]
        assert row["n_rows"] == exact_row["n"]
        assert abs(row["hll_estimate"] - exact) / exact < 0.05, (
            sf,
            row["hll_estimate"],
            exact,
        )


def test_r12_linear_counting_no_boundary_values():
    """ADVICE r11: r12's linear-counting branch m·ln(m/V) is computed
    independently by Spark (Math.log) and DuckDB (libm log), and ln is
    not IEEE-guaranteed correctly rounded. The bit-identical-estimate
    contract survives because V has only HLL_M possible values, and
    NONE of the resulting estimates sits anywhere near a
    floor(est+0.5) decision boundary — proven exhaustively here: the
    worst case (V=2782) is ≥ 1.07e-4 absolute ≈ 4.7e8 ulps away, so a
    cross-engine ln disagreement of even 1000 ulps cannot flip the
    reported integer. (The m· scaling is an exact power-of-two
    multiply and the branch guard divides exact operands, so ln is
    the ONLY inexact op in play.)"""
    import math

    from etl_wlg_metlink_spark.operators.relational import R12_HLL_P

    HLL_M = 1 << R12_HLL_P

    min_ulps = math.inf
    for v in range(1, HLL_M + 1):
        est = float(HLL_M) * math.log(float(HLL_M) / v)
        t = est + 0.5
        dist = abs(t - round(t))  # distance to the nearest flip point
        if est > 0:
            min_ulps = min(min_ulps, dist / math.ulp(est))
    assert min_ulps > 1e5, min_ulps  # actual margin ≈ 4.7e8 ulps


def test_l27_no_preexisting_placeholders(spark, sf_dir):
    """l27 counts placeholder literals in the redacted OUTPUT (the
    no-double-count design), so a raw text already containing
    '<EMAIL>'/'<IP>'/'<PHONE>' would inflate the counts (see the l27
    docstring's false-positive caveat, ADVICE r11). Pin that the
    corpus the contract is banked on is clean of those tokens."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    hits = docs.where(
        F.col("text").contains("<EMAIL>")
        | F.col("text").contains("<IP>")
        | F.col("text").contains("<PHONE>")
    ).count()
    assert hits == 0


def test_l27_sentinel_markers_exact_counts(spark, tmp_path):
    """VERDICT r12 stretch 6: sentinel_markers=True redacts with
    NUL-delimited tokens that cannot occur in source text, so a raw
    document that ALREADY contains '<EMAIL>'/'<IP>'/'<PHONE>' no
    longer inflates the counts (the default mode's documented
    false-positive), while the default mode still demonstrates the
    false-positive on the same corpus — and on clean text both modes
    agree."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        l27_pii_redaction,
    )

    rows = [
        (1, "clean document text", "en", "web", 19),
        (2, "tricky doc quoting <EMAIL> and <IP> and <PHONE>", "en", "web", 47),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def counts(sentinel):
        return {
            r["doc_id"]: (r["n_emails"], r["n_ips"], r["n_phones"])
            for r in l27_pii_redaction(
                spark, str(tmp_path), sentinel_markers=sentinel
            ).collect()
        }

    default, sentinel = counts(False), counts(True)
    # every doc gets exactly one appended email/ip/phone; the exact
    # counts are (1, 1, 1) regardless of what the raw text quotes
    assert sentinel == {1: (1, 1, 1), 2: (1, 1, 1)}
    assert default[1] == (1, 1, 1)  # clean text: modes agree
    assert default[2] == (2, 2, 2)  # the documented false-positive
    # and the sentinel markers never leak into default-mode output
    red = l27_pii_redaction(spark, str(tmp_path), sentinel_markers=True)
    texts = [r["redacted"] for r in red.collect()]
    assert all("\x00EMAIL\x00" in t for t in texts)


def test_l7_planted_cluster_survives_bucket_cap(spark, tmp_path):
    """VERDICT r10 item 6: pin l7's recall trade. A planted j >= 0.9
    near-dup cluster must keep ALL its pairs through the band-bucket
    cap at the sf0.01 AND sf1 cap settings (cap recomputed from the
    module constants, so a future L7_BUCKET_CAP_MIN/FRAC change flows
    through and fails here if it starts eating true pairs) — while in
    the same corpus the cap demonstrably FIRES: 60 byte-identical
    filler docs form an over-cap degenerate bucket in every band and
    contribute no pairs."""
    import math

    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L7_BUCKET_CAP_FRAC,
        L7_BUCKET_CAP_MIN,
        MERSENNE_P,
        N_BANDS_L7,
        UH_PARAMS_L7,
        _banded_lsh_pairs,
        _md5_int60,
        l7_ngram_jaccard,
    )

    import hashlib

    base = "".join(
        chr(97 + b % 26)
        for blk in range(40)
        for b in hashlib.md5(f"l7seed{blk}".encode()).digest()
    )  # 640 deterministic pseudo-random chars -> ~600 distinct 4-grams
    planted = [(k, base + f" tail{k}xx") for k in range(1, 5)]
    filler_text = "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG " * 3
    rows = [(d, t, "en", "web", len(t)) for d, t in planted] + [
        (100 + j, filler_text, "en", "web", len(filler_text))
        for j in range(60)
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    planted_pairs = {
        (i, j) for i in range(1, 5) for j in range(i + 1, 5)
    }

    # the real lane (N=64 docs -> cap = max(50, ceil(64e-5)) = 50,
    # which IS the sf0.01 and sf1 cap value)
    got = {
        (r["doc_i"], r["doc_j"]): r["jaccard"]
        for r in l7_ngram_jaccard(spark, str(tmp_path)).collect()
    }
    for p in planted_pairs:
        assert p in got, f"cap dropped planted true pair {p}"
        assert got[p] >= 0.9
    assert not any(k[0] >= 100 or k[1] >= 100 for k in got), (
        "over-cap degenerate bucket leaked pairs — the cap did not fire"
    )

    # cap values as the formula yields them at sf0.01 (N=500), sf1
    # (N=50k) and a 10^7-doc corpus — parameterized survival
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    cg = F.array_distinct(
        F.expr(r"regexp_extract_all(text, '(?s)(?=(.{4}))', 1)")
    )
    hashed = (
        docs.select("doc_id", cg.alias("cg"))
        .where(F.size("cg") > 0)
        .select(
            "doc_id",
            F.transform(
                F.col("cg"), lambda x: _md5_int60(x) % MERSENNE_P
            ).alias("hs"),
        )
    )
    caps = sorted(
        {
            max(L7_BUCKET_CAP_MIN, math.ceil(L7_BUCKET_CAP_FRAC * n))
            for n in (500, 50_000, 10**7)
        }
    )
    for cap in caps:
        pairs = {
            (r["doc_i"], r["doc_j"])
            for r in _banded_lsh_pairs(
                hashed, UH_PARAMS_L7, N_BANDS_L7, 0.5, max_bucket=cap
            ).collect()
        }
        assert planted_pairs <= pairs, (cap, planted_pairs - pairs)


def test_ivf_trained_index_deterministic_and_cached(spark, sf_dir):
    """The trained coarse quantizer must be a pure function of the
    corpus: two independent trainings (cache bypassed) yield
    bit-identical centroid matrices — the property the DuckDB oracle's
    unrolled-CTE twin depends on — the cached call returns the same
    arrays, cell labels are a subset of the seed grid, and every
    corpus vector is assigned to a live cell."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        _cosine_corpus,
        _ivf_assign,
        _ivf_index,
    )
    from etl_wlg_metlink_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    sid1, cent1, cnorm1 = _ivf_index(emb)          # uncached
    sid2, cent2, cnorm2 = _ivf_index(emb)          # uncached, retrain
    assert np.array_equal(sid1, sid2)
    assert cent1.tobytes() == cent2.tobytes()      # bit-identical
    assert cnorm1.tobytes() == cnorm2.tobytes()
    assert np.all(np.isfinite(cent1))

    sidc, centc, _ = _ivf_index(emb, cache_key=sf_dir)
    sidc2, centc2, _ = _ivf_index(emb, cache_key=sf_dir)
    assert centc2 is centc and sidc2 is sidc       # cache hit
    assert centc.tobytes() == cent1.tobytes()      # cache == retrain

    mod = max(1, __import__("math").isqrt(emb.count()))
    grid = {r["vec_id"] for r in emb.where(F.col("vec_id") % mod == 0).collect()}
    assert set(sid1.tolist()) <= grid              # labels from the grid

    cells = {
        r["cell"]
        for r in _ivf_assign(_cosine_corpus(emb, "vec_id"), sid1, cent1, cnorm1)
        .select("cell")
        .distinct()
        .collect()
    }
    assert cells <= set(sid1.tolist())


def test_ivf_cache_invalidates_on_rewrite(spark, tmp_path):
    """VERDICT r11 item 2 / ADVICE r11: the trained-index cache key
    carries a content fingerprint (realpath + per-file size/mtime_ns),
    so regenerating the data IN PLACE with the SAME row count forces a
    retrain instead of serving stale centroids — and an untouched path
    still cache-hits."""
    import numpy as np

    from etl_wlg_metlink_spark.operators.llm_pipeline import _ivf_index

    path = str(tmp_path / "emb")

    def write(offset):
        rows = [
            (
                i,
                [float(((i * 37 + d * 11 + offset) % 97) - 48) for d in range(64)],
            )
            for i in range(40)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    write(offset=0)
    emb = spark.read.parquet(path)
    sid1, cent1, _ = _ivf_index(emb, cache_key=path)
    sid1b, cent1b, _ = _ivf_index(spark.read.parquet(path), cache_key=path)
    assert cent1b is cent1 and sid1b is sid1  # untouched path: cache hit

    write(offset=5)  # same N, same path, different bytes
    sid2, cent2, _ = _ivf_index(spark.read.parquet(path), cache_key=path)
    assert cent2 is not cent1  # retrained, not served stale
    assert cent1.tobytes() != cent2.tobytes()  # and on the NEW data
    assert np.array_equal(sid1, sid2)  # same grid labels (same N)


def test_ivf_cache_key_fails_closed(spark, tmp_path, monkeypatch):
    """ADVICE r12: a stat/walk failure mid-fingerprint must NOT
    degrade the cache key to a truncated/empty fingerprint that can
    alias two corpus states — the key must fail closed (unique
    sentinel, never a hit), forcing a retrain."""
    import os as _os

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    path = str(tmp_path / "emb")
    rows = [
        (i, [float(((i * 37 + d * 11) % 97) - 48) for d in range(64)])
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(path)

    # healthy keys for the same untouched path are equal (cacheable)
    assert artifacts.fingerprint(path, 40) == artifacts.fingerprint(path, 40)

    def broken_walk(*a, **k):
        raise OSError("simulated stat failure mid-walk")
        yield  # pragma: no cover — keeps it a generator

    monkeypatch.setattr(_os, "walk", broken_walk)
    k1 = artifacts.fingerprint(path, 40)
    k2 = artifacts.fingerprint(path, 40)
    assert k1 != k2  # unique per call → can never alias states

    # end-to-end: a trained index cached under a healthy key is NOT
    # served while fingerprinting is broken — _ivf_index retrains
    monkeypatch.undo()
    emb = spark.read.parquet(path)
    _, cent1, _ = lp._ivf_index(emb, cache_key=path)
    monkeypatch.setattr(_os, "walk", broken_walk)
    _, cent2, _ = lp._ivf_index(spark.read.parquet(path), cache_key=path)
    assert cent2 is not cent1  # retrained: no stale serve under error
    assert cent1.tobytes() == cent2.tobytes()  # same data → same result


def test_ivf_index_served_from_storage(spark, tmp_path, monkeypatch):
    """Train once, serve FOREVER (VERDICT r12 item 2 extended to the
    trained index — the FAISS write_index step): after the in-process
    caches are cleared (fresh-process simulation) the index must be
    served byte-identically from the fingerprint-keyed parquet
    artifact without re-paying the training passes — pinned by making
    the corpus scan raise. Doubles round-trip parquet bit-exactly, so
    a storage hit is indistinguishable from retraining."""
    import numpy as np

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    artifacts.clear()
    path = str(tmp_path / "emb")
    rows = [
        (i, [float(((i * 37 + d * 11) % 97) - 48) for d in range(64)])
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    sid1, cent1, cn1 = lp._ivf_index(
        spark.read.parquet(path), cache_key=path
    )
    art = artifacts._path("ivf_index", artifacts.fingerprint(path, 40))
    assert artifacts._exists(art)

    artifacts.clear()  # fresh-process simulation: memo empty

    def boom(*a, **k):
        raise AssertionError("retrained: storage artifact was not used")

    monkeypatch.setattr(lp, "_cosine_corpus", boom)
    sid2, cent2, cn2 = lp._ivf_index(
        spark.read.parquet(path), cache_key=path
    )
    assert sid2.dtype == np.int64 and cent2.dtype == np.float64
    assert sid1.tobytes() == sid2.tobytes()  # exact row ORDER restored
    assert cent1.tobytes() == cent2.tobytes()  # bit-exact round-trip
    assert cn1.tobytes() == cn2.tobytes()
    sid3, cent3, _ = lp._ivf_index(spark.read.parquet(path), cache_key=path)
    assert cent3 is cent2  # second call in-process: memo hit
    artifacts.clear()


def test_bm25_ranked_artifact_matches_recompute(spark, sf_dir, tmp_path, monkeypatch):
    """The per-fingerprint ranked-retrieval artifact (l67's input) must
    be byte-identical to a fresh l56 run — same schema (including
    nullability, via the sidecar), same rows — and l56 itself must
    neither read nor write the store (it is the lane that MEASURES
    retrieval; only metric consumers serve from the stored run)."""
    import os

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    fresh = lp.l56_bm25_retrieval(spark, sf_dir)
    assert not os.path.exists(artifacts.ROOT)  # mining lane: no write

    cold = lp._bm25_ranked_artifact(spark, sf_dir)  # pays + persists
    path = artifacts._path("bm25_ranked", artifacts.fingerprint(sf_dir))
    assert artifacts._exists(path)
    warm = lp._bm25_ranked_artifact(spark, sf_dir)  # reads the store

    # sidecar keeps NAMES and TYPES exact; nullability widens to
    # nullable (parquet scans always read nullable — safe superset)
    assert [(f.name, f.dataType) for f in warm.schema.fields] == [
        (f.name, f.dataType) for f in fresh.schema.fields
    ]
    assert (
        sorted(map(tuple, fresh.collect()))
        == sorted(map(tuple, cold.collect()))
        == sorted(map(tuple, warm.collect()))
    )
    assert fresh.count() > 0


def test_minhash_hashed_artifact_matches_recompute(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The shared fingerprint index (r16: the (doc_id, hs) shingle-hash
    relation l39/l72/l91 ride) must be byte-identical to the raw
    construction — same schema via the sidecar, same rows — and l6,
    the lane that MEASURES the MinHash pipeline, must neither read nor
    write the store."""
    import os

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    raw = lp._build_hashed_shingles(spark, sf_dir)
    lp.l6_minhash_near_dup(spark, sf_dir)
    assert not os.path.exists(artifacts.ROOT)  # mining lane: no write

    cold = lp._hashed_shingles_artifact(spark, sf_dir)  # mines + persists
    path = artifacts._path("minhash_hashed", artifacts.fingerprint(sf_dir))
    assert artifacts._exists(path)
    warm = lp._hashed_shingles_artifact(spark, sf_dir)  # reads the store

    assert [(f.name, f.dataType) for f in warm.schema.fields] == [
        (f.name, f.dataType) for f in raw.schema.fields
    ]
    raw_rows = sorted(
        [(r["doc_id"], tuple(r["hs"])) for r in raw.collect()]
    )
    assert (
        raw_rows
        == sorted([(r["doc_id"], tuple(r["hs"])) for r in cold.collect()])
        == sorted([(r["doc_id"], tuple(r["hs"])) for r in warm.collect()])
    )
    assert len(raw_rows) > 0


@pytest.mark.parametrize(
    "build",
    [lp._build_hashed_shingles, mq._synthetic_entities],
    ids=lambda f: f.__name__,
)
def test_large_input_is_not_respread(spark, sf_dir, monkeypatch, build):
    """Past the gate, the former unconditional-respread sites leave the
    scan's own splits alone: no Repartition in the logical plan (plan
    only — no Spark action runs)."""
    from etl_wlg_metlink_spark import tables

    monkeypatch.setattr(
        tables,
        "dir_bytes",
        lambda p: spark.sparkContext.defaultParallelism
        * tables.SPREAD_BYTES_PER_CORE,
    )
    df = build(spark, sf_dir)
    assert "Repartition" not in df._jdf.queryExecution().logical().toString()


def test_verified_pairs_warm_rebuild_is_memoized(spark, sf_dir, tmp_path, monkeypatch):
    """ADVICE r12: the warm path eagerly checkpoints its rebuild, so
    repeated consumer calls in one session must reuse ONE checkpointed
    DataFrame (same object) instead of accumulating a fresh set of
    checkpointed blocks per call; artifacts.clear must drop the
    memo, and with remove_persisted=True the on-disk store too."""
    import os

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    artifacts.clear()
    cold = lp._verified_pairs_artifact(spark, sf_dir)  # mines + persists
    warm1 = lp._verified_pairs_artifact(spark, sf_dir)
    warm2 = lp._verified_pairs_artifact(spark, sf_dir)
    assert cold is warm1  # cold serves the store read it memoized
    assert warm1 is warm2  # one read, one checkpoint, memoized
    assert sum(k[1] == "verified_pairs" for k in artifacts._MEMO) == 1
    assert sorted(map(tuple, warm1.collect())) == sorted(
        map(tuple, cold.collect())
    )
    artifacts.clear()
    assert not artifacts._MEMO
    assert os.path.exists(artifacts.ROOT)  # store survives soft clear
    artifacts.clear(remove_persisted=True)
    assert not os.path.exists(artifacts.ROOT)


def test_artifact_read_failure_falls_through_to_compute(
    spark, sf_dir, tmp_path, monkeypatch, capfd
):
    """ADVICE r13 (low): every warm consumer read is guarded — a
    corrupt sidecar or a gutted store (part files deleted, _SUCCESS
    kept: Spark would scan that as a silently EMPTY DataFrame) must
    degrade to recomputing the artifact, matching the write path's
    'storage unavailable → serve uncached' contract, never fail the
    query or serve empty rows — and never silently: each fallback
    writes one structured stderr line."""
    import json
    import os

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    artifacts.clear()

    # bm25 consumer vs corrupt sidecar
    fresh = sorted(map(tuple, lp.l56_bm25_retrieval(spark, sf_dir).collect()))
    lp._bm25_ranked_artifact(spark, sf_dir)  # cold: persists
    artifacts.clear()  # drop the memo, keep the store
    bpath = artifacts._path("bm25_ranked", artifacts.fingerprint(sf_dir))
    with open(os.path.join(bpath, "_schema.json"), "w") as f:
        f.write("{not json")
    assert artifacts._exists(bpath)  # exists check still passes
    failed = artifacts.COUNTS["bm25_ranked.read_failed"]
    capfd.readouterr()
    got = sorted(map(tuple, lp._bm25_ranked_artifact(spark, sf_dir).collect()))
    assert got == fresh and len(got) > 0
    # the fallback is logged, one stderr line; stdout stays data-only
    out, err = capfd.readouterr()
    assert "artifact_read_failed" not in out
    [line] = [x for x in err.splitlines() if "artifact_read_failed" in x]
    assert json.loads(line) == {
        "event": "artifact_read_failed",
        "kind": "bm25_ranked",
        "path": bpath,
        "error": "JSONDecodeError",
    }
    assert artifacts.COUNTS["bm25_ranked.read_failed"] == failed + 1

    # verified-pairs consumer vs gutted store (zero part files)
    mined = sorted(
        map(tuple, lp._verified_pairs_artifact(spark, sf_dir).collect())
    )
    artifacts.clear()  # drop the DataFrame memo, keep the store
    vpath = artifacts._path(
        "verified_pairs", (artifacts.fingerprint(sf_dir), 0.8)
    )
    for name in os.listdir(vpath):
        if name.endswith(".parquet") and not name.startswith((".", "_")):
            os.unlink(os.path.join(vpath, name))
    assert artifacts._exists(vpath)
    got = sorted(
        map(tuple, lp._verified_pairs_artifact(spark, sf_dir).collect())
    )
    assert got == mined and len(got) > 0
    artifacts.clear()


def test_artifacts_serve_fresh_process_from_storage(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r12 item 2's done-criterion: after the in-process
    caches are cleared (fresh-process simulation), every consumer must
    serve from the ON-DISK artifact without re-mining — pinned by
    making the mining stages raise — and the served rows must equal
    the mined ones. Driver memory holds no row sets; the dicts only
    memoize DataFrame handles."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    artifacts.clear()
    mined_pairs = sorted(
        map(tuple, lp._verified_pairs_artifact(spark, sf_dir).collect())
    )
    mined_labels = sorted(map(tuple, lp._cc_labels(spark, sf_dir).collect()))
    mined_ranked = sorted(
        map(tuple, lp._bm25_ranked_artifact(spark, sf_dir).collect())
    )

    artifacts.clear()  # fresh-process simulation: memo empty

    def boom(*a, **k):
        raise AssertionError("re-mined: artifact store was not used")

    monkeypatch.setattr(lp, "_minhash_verified_pairs", boom)
    monkeypatch.setattr(lp, "_min_label_propagation", boom)
    monkeypatch.setattr(lp, "l56_bm25_retrieval", boom)

    assert (
        sorted(map(tuple, lp._verified_pairs_artifact(spark, sf_dir).collect()))
        == mined_pairs
    )
    assert (
        sorted(map(tuple, lp._cc_labels(spark, sf_dir).collect()))
        == mined_labels
    )
    assert (
        sorted(map(tuple, lp._bm25_ranked_artifact(spark, sf_dir).collect()))
        == mined_ranked
    )
    artifacts.clear()


def test_l74_merges_windows_into_maximal_spans(spark, tmp_path):
    """Two planted shared passages must come back as exactly two
    maximal spans per carrier doc — one wide span per passage, not one
    row per duplicated window — with exact token arithmetic."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L43_W,
        l74_dup_span_merge,
    )

    W = L43_W
    span_a = " ".join(f"sa{i}" for i in range(W + 4))  # W+4 tokens, 5 windows
    span_b = " ".join(f"sb{i}" for i in range(W))  # W tokens, 1 window
    rows = [
        (1, span_a + " u1a u1b u1c u1d u1e " + span_b + " u1f u1g", "en", "web", 0),
        (2, "u2a u2b " + span_b + " u2c u2d u2e u2f u2g " + span_a, "en", "web", 0),
        (3, " ".join(f"solo{i}" for i in range(W + 6)), "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["doc_id"]: r for r in l74_dup_span_merge(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2}  # doc 3 has no duplicated window
    for doc_id, n_tokens in ((1, (W + 4) + 5 + W + 2), (2, 2 + W + 5 + (W + 4))):
        r = got[doc_id]
        assert r["n_spans"] == 2
        assert r["dup_tokens"] == (W + 4) + W
        assert r["max_span"] == W + 4
        assert r["dup_token_share"] == round(((W + 4) + W) / n_tokens, 4)


def test_l74_abutting_coverage_merges_one_token_gap_splits(spark, tmp_path):
    """The merge rule's boundary: two duplicated windows whose COVERAGE
    abuts (positions p and p+W) fuse into one span even though the
    mixture windows between them are unique; a single non-duplicated
    token between the passages keeps them as two spans."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L43_W,
        l74_dup_span_merge,
    )

    W = L43_W
    x = " ".join(f"x{i}" for i in range(W))
    y = " ".join(f"y{i}" for i in range(W))
    filler = " ".join(f"f{i}" for i in range(W))
    rows = [
        (1, x + " " + y, "en", "web", 0),  # X abuts Y: one fused span
        (2, y + " " + filler + " " + x, "en", "web", 0),  # separated: two
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["doc_id"]: r for r in l74_dup_span_merge(spark, str(tmp_path)).collect()}
    fused = got[1]
    assert fused["n_spans"] == 1
    assert fused["dup_tokens"] == 2 * W and fused["max_span"] == 2 * W
    assert fused["dup_token_share"] == 1.0
    split = got[2]
    assert split["n_spans"] == 2
    assert split["dup_tokens"] == 2 * W and split["max_span"] == W


def test_l75_weights_consistent_with_cluster_labels(spark, sf_dir):
    """l75's per-source rollup must agree with the shared _cc_labels
    lineage recomputed independently driver-side: same clustered-doc
    counts and the exact fixed-point effective sizes (half-up rounding,
    matching both engines)."""
    import math
    from collections import Counter

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L75_W_FP,
        _cc_labels,
        l75_softdedup_weights,
    )
    from etl_wlg_metlink_spark.tables import load

    labels = {r["node"]: r["lbl"] for r in _cc_labels(spark, sf_dir).collect()}
    csize = Counter(labels.values())
    exp: dict = {}
    for r in load(spark, sf_dir, "documents").select("doc_id", "source").collect():
        d = exp.setdefault(r["source"], [0, 0, 0])
        d[0] += 1
        if r["doc_id"] in labels:
            d[1] += 1
            d[2] += math.floor(L75_W_FP / csize[labels[r["doc_id"]]] + 0.5)
        else:
            d[2] += L75_W_FP

    got = {r["source"]: r for r in l75_softdedup_weights(spark, sf_dir).collect()}
    assert set(got) == set(exp)
    some_clustered = False
    for src, (n_docs, n_clustered, w_fp) in exp.items():
        r = got[src]
        assert r["n_docs"] == n_docs
        assert r["n_clustered"] == n_clustered
        assert r["effective_docs"] == round(w_fp / L75_W_FP, 4)
        assert r["dup_inflation"] == round(n_docs * L75_W_FP / w_fp, 4)
        assert r["effective_docs"] <= n_docs
        some_clustered = some_clustered or n_clustered > 0
    assert some_clustered, "fixture corpus has near-dup clusters; none seen"


def test_l76_rebuilds_exact_remainder_text(spark, tmp_path):
    """The span-cut rebuild must produce byte-exact remainder text:
    planted carriers keep exactly their unique tokens (fingerprint
    pinned via hashlib), an undamaged doc passes through uncut, and a
    doc duplicated in full rebuilds to the empty string."""
    import hashlib

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L43_W,
        l76_span_cut_rebuild,
    )

    def fp(text: str) -> int:
        return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)

    W = L43_W
    span_a = " ".join(f"sa{i}" for i in range(W + 4))
    span_b = " ".join(f"sb{i}" for i in range(W))
    clone = " ".join(f"cl{i}" for i in range(W + 3))
    solo = " ".join(f"solo{i}" for i in range(W + 6))
    rows = [
        (1, span_a + " u1a u1b u1c u1d u1e " + span_b + " u1f u1g", "en", "web", 0),
        (2, "u2a u2b " + span_b + " u2c u2d u2e u2f u2g " + span_a, "en", "web", 0),
        (3, solo, "en", "web", 0),
        (4, clone, "en", "web", 0),
        (5, clone, "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["doc_id"]: r for r in l76_span_cut_rebuild(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2, 3, 4, 5}  # total manifest, uncut docs included
    r1 = got[1]
    assert (r1["kept_tokens"], r1["cut_tokens"]) == (7, (W + 4) + W)
    assert r1["rebuilt_fp"] == fp("u1a u1b u1c u1d u1e u1f u1g")
    r2 = got[2]
    assert (r2["kept_tokens"], r2["cut_tokens"]) == (7, (W + 4) + W)
    assert r2["rebuilt_fp"] == fp("u2a u2b u2c u2d u2e u2f u2g")
    r3 = got[3]
    assert r3["cut_tokens"] == 0 and r3["kept_tokens"] == r3["n_tokens"]
    assert r3["rebuilt_fp"] == fp(solo)
    for d in (4, 5):  # whole-doc duplicates rebuild to the empty string
        assert got[d]["kept_tokens"] == 0
        assert got[d]["rebuilt_fp"] == fp("")


def test_l74_l76_span_inventory_explains_cuts(spark, sf_dir):
    """Cross-lane invariant on the shared span lineage: l76's per-doc
    cut must equal l74's duplicated-token total for every spanned doc,
    vanish for unspanned docs, and kept + cut must tile each doc."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        l74_dup_span_merge,
        l76_span_cut_rebuild,
    )

    spans = {r["doc_id"]: r for r in l74_dup_span_merge(spark, sf_dir).collect()}
    cuts = {r["doc_id"]: r for r in l76_span_cut_rebuild(spark, sf_dir).collect()}
    assert set(spans) <= set(cuts)  # l76 is the total manifest
    assert spans, "fixture corpus plants duplicated spans; none found"
    for doc_id, c in cuts.items():
        assert c["kept_tokens"] + c["cut_tokens"] == c["n_tokens"]
        expected = spans[doc_id]["dup_tokens"] if doc_id in spans else 0
        assert c["cut_tokens"] == expected


def test_l77_global_rank_matches_total_order_any_bucket_count(
    spark, tmp_path, monkeypatch
):
    """The distributed bucket+offset rank must equal the plain total
    order (score DESC, doc_id) computed driver-side, for ANY bucket
    count — bucketing sets parallelism, never the order — and ranks
    must be exactly 1..N with thirds-phases."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(5 + i % 9)),
         "en", "web", 0)
        for i in range(60)
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    results = {}
    for b in (1, 4, 32):
        monkeypatch.setattr(lp, "L77_BUCKETS", b)
        got = sorted(
            map(tuple, lp.l77_curriculum_order(spark, str(tmp_path)).collect())
        )
        results[b] = got
    assert results[1] == results[4] == results[32]

    by_rank = sorted(results[32], key=lambda t: t[2])
    assert [t[2] for t in by_rank] == list(range(1, 61))
    expected = sorted(results[32], key=lambda t: (-t[1], t[0]))
    assert [t[0] for t in by_rank] == [t[0] for t in expected]
    phases = [t[3] for t in by_rank]
    assert phases == ["early"] * 20 + ["mid"] * 20 + ["late"] * 20


def test_l78_epoch_shards_balanced_distinct_deterministic(spark, tmp_path):
    """Each epoch's shards must tile the corpus in near-equal contiguous
    ranges, different epochs must produce different orders (fresh
    deterministic shuffle per epoch), and a re-run must be
    byte-identical (retry safety — the md5 order, unlike rand(),
    re-derives)."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L78_EPOCHS,
        L78_SHARDS,
        l78_epoch_shard_manifest,
    )

    n = 41  # not divisible by L78_SHARDS: exercises the remainder split
    rows = [(i, f"tok{i} tok{i + 1}", "en", "web", 0) for i in range(n)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = l78_epoch_shard_manifest(spark, str(tmp_path)).collect()
    assert len(got) == L78_EPOCHS * L78_SHARDS
    by_epoch: dict = {}
    for r in got:
        by_epoch.setdefault(r["epoch"], []).append(r)
    for epoch, shards in by_epoch.items():
        sizes = [r["n_docs"] for r in shards]
        assert sum(sizes) == n
        assert max(sizes) - min(sizes) <= 1  # near-equal contiguous split
        assert sum(r["sum_doc_ids"] for r in shards) == n * (n - 1) // 2
    # fresh order per epoch: the per-epoch shard boundaries can't all
    # coincide (md5 keys re-draw per epoch)
    firsts = {tuple(sorted(r["first_doc"] for r in v)) for v in by_epoch.values()}
    assert len(firsts) == L78_EPOCHS
    # retry safety: a second run reproduces the manifest exactly
    again = l78_epoch_shard_manifest(spark, str(tmp_path)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def _write_embeddings(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))


def test_l79_diversity_matches_numpy_pairwise(spark, tmp_path):
    """The sum-vector identity must reproduce the brute-force N² mean
    pairwise cosine (computed in numpy) per label and overall, without
    ever forming a pair."""
    import numpy as np

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        l79_corpus_diversity,
    )

    rng_base = [
        [((i * 37 + d * 11) % 97 - 48) / 48.0 for d in range(64)]
        for i in range(30)
    ]
    rows = [
        (i, [float(np.float32(x)) for x in v], i % 3)
        for i, v in enumerate(rng_base)
    ]
    _write_embeddings(spark, tmp_path, rows)

    got = {
        r["label"]: (r["n_vecs"], r["mean_pairwise_cosine"])
        for r in l79_corpus_diversity(spark, str(tmp_path)).collect()
    }

    vecs = np.array([v for _, v, _ in rows], dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = np.array([lbl for _, _, lbl in rows])

    def brute(mask):
        u = unit[mask]
        n = len(u)
        sims = u @ u.T
        return (sims.sum() - np.trace(sims)) / (n * (n - 1))

    for lbl in (0, 1, 2):
        n_vecs, mean_cos = got[lbl]
        assert n_vecs == int((labels == lbl).sum())
        assert abs(mean_cos - brute(labels == lbl)) < 2e-4
    n_all, overall = got[-1]
    assert n_all == len(rows)
    assert abs(overall - brute(np.ones(len(rows), bool))) < 2e-4


def test_l80_buckets_tile_and_rank_predictable_head(spark, tmp_path):
    """Per-language buckets must tile each language into near-equal
    thirds whose membership checksum matches the driver-side sort of
    the shared unigram scorer; planted ultra-predictable docs must
    land in the head bucket of their language."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = []
    # 12 'en' docs: 3 made of the corpus's most common word (highest
    # mean logp -> head), 9 of unique rare words
    for i in range(3):
        rows.append((i, " ".join(["common"] * 8), "en", "web", 0))
    for i in range(3, 12):
        rows.append(
            (i, " ".join(f"rare{i}_{j}" for j in range(6)), "en", "web", 0)
        )
    # 6 'de' docs with a mix
    for i in range(12, 18):
        rows.append(
            (i, "common " + " ".join(f"u{i}_{j}" for j in range(i - 9)),
             "de", "web", 0)
        )
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = lp.l80_perplexity_buckets(spark, str(tmp_path)).collect()
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r["lang"], {})[r["ppl_bucket"]] = r
    for lang, n in (("en", 12), ("de", 6)):
        assert sum(r["n_docs"] for r in by_lang[lang].values()) == n
        sizes = [r["n_docs"] for r in by_lang[lang].values()]
        assert max(sizes) - min(sizes) <= 1

    # driver-side reference: sort the shared scorer's output
    scored = lp._unigram_scored(
        lp.load(spark, str(tmp_path), "documents"), ("lang",)
    ).collect()
    en = sorted(
        (r for r in scored if r["lang"] == "en"),
        key=lambda r: (-r["mean_log2p"], r["doc_id"]),
    )
    head_ids = {r["doc_id"] for r in en[:4]}
    assert {0, 1, 2} <= head_ids  # planted predictable docs lead
    assert by_lang["en"]["head"]["sum_doc_ids"] == sum(head_ids)


def test_l81_waterfilling_reference_and_budget_conservation(spark, tmp_path):
    """The allocation must match a pure-python waterfilling reference:
    capped languages get exactly cap, uncapped ones share one water
    level, and the budget is spent exactly."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = []
    doc_id = 0
    # one huge language (uncapped) + three tiny ones (capped)
    for lang, n_docs, words in (
        ("en", 40, 20), ("de", 3, 4), ("es", 2, 3), ("zh", 1, 5),
    ):
        for _ in range(n_docs):
            rows.append(
                (doc_id, " ".join(f"w{doc_id}_{j}" for j in range(words)),
                 lang, "web", 0)
            )
            doc_id += 1
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r["lang"]: r for r in
           lp.l81_unimax_budget(spark, str(tmp_path)).collect()}

    sizes = {}
    for _, text, lang, _, _ in rows:
        sizes[lang] = sizes.get(lang, 0) + len(text.split(" "))
    total = sum(sizes.values())
    budget = total * lp.L81_BUDGET_NUM // lp.L81_BUDGET_DEN
    caps = {lg: s * lp.L81_MAX_EPOCHS for lg, s in sizes.items()}

    # python waterfilling reference
    alloc, remaining, langs = {}, budget, sorted(
        caps, key=lambda lg: (caps[lg], lg)
    )
    for pos, lg in enumerate(langs):
        if caps[lg] * (len(langs) - pos) <= remaining:
            alloc[lg] = float(caps[lg])
            remaining -= caps[lg]
        else:
            level = remaining / (len(langs) - pos)
            for rest in langs[pos:]:
                alloc[rest] = level
            break

    for lg in sizes:
        r = out[lg]
        assert r["n_tokens"] == sizes[lg]
        assert r["cap_tokens"] == caps[lg]
        assert abs(r["alloc_tokens"] - round(alloc[lg], 4)) < 1e-9
        assert r["capped"] == (alloc[lg] == caps[lg] != budget)
        assert abs(r["epochs"] - round(alloc[lg] / sizes[lg], 4)) < 1e-9
    assert abs(sum(a for a in alloc.values()) - budget) < 1e-6
    # epoch cap honored everywhere
    assert all(r["epochs"] <= lp.L81_MAX_EPOCHS + 1e-9 for r in out.values())


def test_l82_outlier_flagged_and_z_normalized(spark, tmp_path):
    """A planted far outlier must be the label's prune_outlier; cluster
    cores near the prototype must never be outliers; z-scores must be
    label-normalized (mean ~0) and the action partition must follow the
    rounded fences exactly."""
    import numpy as np

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = []
    vid = 0
    for lbl in (0, 1):
        base = np.zeros(64)
        base[lbl] = 1.0
        for i in range(12):
            v = base.copy()
            v[(i + 2) % 64] = 0.05 * (i + 1) / 12.0  # tight cluster
            rows.append((vid, [float(np.float32(x)) for x in v], lbl))
            vid += 1
        out = -base  # diametric outlier
        rows.append((vid, [float(np.float32(x)) for x in out], lbl))
        vid += 1
    _write_embeddings(spark, tmp_path, rows)

    got = lp.l82_prototype_prune(spark, str(tmp_path)).collect()
    by_label: dict = {}
    for r in got:
        by_label.setdefault(r["label"], []).append(r)
    for lbl, rs in by_label.items():
        assert len(rs) == 13
        outliers = [r for r in rs if r["action"] == "prune_outlier"]
        # the planted diametric vector is each label's last vec_id
        assert [r["vec_id"] for r in outliers] == [
            max(r["vec_id"] for r in rs)
        ]
        assert outliers[0]["cos_to_centroid"] == min(
            r["cos_to_centroid"] for r in rs
        )
        zs = [r["z_score"] for r in rs]
        assert abs(sum(zs) / len(zs)) < 0.05
        for r in rs:
            if r["z_score"] >= lp.L82_EASY_Z:
                assert r["action"] == "prune_easy"
            elif r["z_score"] <= lp.L82_OUTLIER_Z:
                assert r["action"] == "prune_outlier"
            else:
                assert r["action"] == "keep"


def test_l83_fertility_hand_computed(spark, tmp_path):
    """Per-language fertility must equal hand-computed token ratios on
    a corpus with known whitespace/regex token splits."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        l83_tokenizer_fertility,
    )

    rows = [
        # "ab cd" -> 2 ws tokens, 2 regex tokens, 5 chars
        (0, "ab cd", "en", "web", 0),
        # "a-b c1d" -> 2 ws tokens, regex: a,-,b,c,1,d = 6 tokens, 7 chars
        (1, "a-b c1d", "en", "web", 0),
        # "x!" -> 1 ws token, regex: x,! = 2, 2 chars
        (2, "x!", "de", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["lang"]: r for r in
           l83_tokenizer_fertility(spark, str(tmp_path)).collect()}
    en = got["en"]
    assert (en["n_docs"], en["ws_tokens"], en["re_tokens"]) == (2, 4, 8)
    assert en["fertility"] == 2.0
    assert en["chars_per_token"] == round((5 + 7) / 8, 4)
    de = got["de"]
    assert (de["ws_tokens"], de["re_tokens"]) == (1, 2)
    assert de["fertility"] == 2.0


def test_l84_triplets_follow_run_and_relevance(spark, sf_dir):
    """Every triplet must be explainable from the BM25 run: positive =
    best-ranked same-source hit, negatives = top-ranked other-source
    hits in run order, margin = pos score - neg score; queries with no
    positive in the top-K must emit nothing."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    run = {}
    for r in lp.l56_bm25_retrieval(spark, sf_dir).collect():
        run.setdefault(r["query_id"], []).append(r)
    src = {
        r["doc_id"]: r["source"]
        for r in lp.load(spark, sf_dir, "documents")
        .select("doc_id", "source").collect()
    }

    expected = []
    for qid, rows in run.items():
        rows.sort(key=lambda r: r["rnk"])
        pos = [r for r in rows if src[r["doc_id"]] == src[qid]]
        neg = [r for r in rows if src[r["doc_id"]] != src[qid]]
        if not pos:
            continue
        p = pos[0]
        for n in neg[: lp.L84_NEG_K]:
            expected.append(
                (qid, p["doc_id"], n["doc_id"], p["rnk"], n["rnk"],
                 round(p["score"] - n["score"], 4))
            )

    got = sorted(
        map(tuple, lp.l84_hard_negative_mining(spark, sf_dir).collect())
    )
    assert got == sorted(expected)
    assert got, "fixture corpus yields at least one triplet"


def test_l85_zorder_interleave_and_zone_maps(spark, tmp_path):
    """The Morton key must be the exact bit interleave of the two
    bucket ids, zone maps must bound their bucket's rows, and the
    skip flag must follow max_chars; a z-ordered layout must make the
    demo predicate skip at least one bucket on a bimodal corpus."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = []
    for i in range(40):
        n_chars = 40 if i % 2 == 0 else 1200  # bimodal lengths
        lang = ["en", "de", "es", "zh"][i % 4]
        rows.append((i, "t", lang, "web", n_chars))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = lp.l85_zorder_layout(spark, str(tmp_path)).collect()

    def interleave(a, b):
        return sum(
            (((a >> i) & 1) << (2 * i + 1)) | (((b >> i) & 1) << (2 * i))
            for i in range(4)
        )

    import hashlib

    def lang_bucket(lang):
        h = int(hashlib.md5(lang.encode()).hexdigest()[:15], 16)
        return h % 16

    expected_keys = set()
    for doc_id, _, lang, _, n_chars in rows:
        expected_keys.add(interleave(min(15, n_chars // 64), lang_bucket(lang)))
    assert {r["zbucket"] for r in got} == expected_keys

    assert any(r["skippable"] for r in got), "short buckets must skip"
    assert any(not r["skippable"] for r in got)
    for r in got:
        assert r["min_chars"] <= r["max_chars"]
        assert r["skippable"] == (r["max_chars"] < lp.L85_SKIP_PREDICATE_CHARS)
        # a bucket mixes at most ... every row shares the bucket's dims
        assert r["n_langs"] >= 1
    assert sum(r["n_docs"] for r in got) == 40


def test_l86_bigram_scores_hand_computed_and_split_invariant(
    spark, tmp_path, monkeypatch
):
    """Bigram conditional log-probs must match a hand-computed LM on a
    tiny corpus; 1-token docs emit nothing; the hot/cold split must
    not change results for ANY hot-K."""
    import math

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = [
        (0, "a b a b", "en", "web", 0),   # bigrams: ab, ba, ab
        (1, "a b c", "en", "web", 0),     # ab, bc
        (2, "solo", "en", "web", 0),      # no bigrams
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    results = {}
    for k in (0, 2, 100):
        monkeypatch.setattr(lp, "L86_HOT_K", k)
        got = sorted(
            map(tuple, lp.l86_bigram_logprob(spark, str(tmp_path)).collect())
        )
        results[k] = got
    assert results[0] == results[2] == results[100]

    got = {r[0]: r for r in results[100]}
    assert 2 not in got  # no transitions
    # corpus bigrams: a->b x3, b->a x1, b->c x1 ; contexts: a:3, b:2
    p_ab, p_ba, p_bc = 1.0, 1 / 2, 1 / 2
    exp0 = round((2 * math.log2(p_ab) + math.log2(p_ba)) / 3, 4)
    exp1 = round((math.log2(p_ab) + math.log2(p_bc)) / 2, 4)
    assert got[0][1:] == (3, exp0)
    assert got[1][1:] == (2, exp1)


def test_l87_pmi_hand_computed_collocation_and_floor(spark, tmp_path, monkeypatch):
    """PMI must match a hand computation on a planted corpus: a true
    collocation ('new york' — the pair always co-occurs) must flag
    collocated; an anti-associated frequent pair must not; pairs under
    the min-count floor must not appear at all."""
    import math

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    monkeypatch.setattr(lp, "L87_MIN_COUNT", 2)
    # 4 docs of "new york", so 'new' only ever precedes 'york';
    # c and d are frequent but adjacent only 2/17 bigrams — near
    # their chance rate (8/26)², so (c,d) is NOT collocated;
    # "p q" appears once -> under the floor.
    rows = [
        (0, "new york", "en", "web", 0),
        (1, "new york", "en", "web", 0),
        (2, "new york", "en", "web", 0),
        (3, "new york", "en", "web", 0),
        (4, "c c c c c c", "en", "web", 0),
        (5, "d d d d d d", "en", "web", 0),
        (6, "c d", "en", "web", 0),
        (7, "c d", "en", "web", 0),
        (8, "p q", "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r["w1"], r["w2"]): r
        for r in lp.l87_pmi_collocations(spark, str(tmp_path)).collect()
    }
    assert ("p", "q") not in got  # c_bg = 1 < floor

    # corpus: n_tok = 8 + 6 + 6 + 4 + 2 = 26; n_bg = 4 + 5 + 5 + 2 + 1 = 17
    n_tok, n_bg = 26, 17
    ny = got[("new", "york")]
    assert (ny["c_bg"], ny["c_w1"], ny["c_w2"]) == (4, 4, 4)
    exp = math.log2((4 / n_bg) / ((4 / n_tok) * (4 / n_tok)))
    assert ny["pmi_bits"] == round(exp, 4)
    assert ny["collocated"]  # ~3.3 bits

    cd = got[("c", "d")]
    assert (cd["c_bg"], cd["c_w1"], cd["c_w2"]) == (2, 8, 8)
    exp_cd = math.log2((2 / n_bg) / ((8 / n_tok) * (8 / n_tok)))
    assert cd["pmi_bits"] == round(exp_cd, 4)
    assert not cd["collocated"]  # ~0.31 bits < 1-bit threshold

    # the exact-integer flag agrees with the float PMI on every pair
    for r in got.values():
        assert r["collocated"] == (
            r["c_bg"] * n_tok * n_tok >= 2 * n_bg * r["c_w1"] * r["c_w2"]
        )


def test_l88_kneser_ney_hand_computed_and_split_invariant(
    spark, tmp_path, monkeypatch
):
    """KN-smoothed scores must match a hand computation (discount,
    backoff mass and continuation counts all exercised); 1-token docs
    emit nothing; results must be invariant to the hot-K split."""
    import math

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = [
        (0, "a b a b", "en", "web", 0),   # bigrams: ab, ba, ab
        (1, "a b c", "en", "web", 0),     # ab, bc
        (2, "solo", "en", "web", 0),      # none
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    results = {}
    for k in (0, 1, 100):
        monkeypatch.setattr(lp, "L88_HOT_K", k)
        results[k] = sorted(
            map(tuple, lp.l88_kneser_ney_bigram(spark, str(tmp_path)).collect())
        )
    assert results[0] == results[1] == results[100]

    # bigram types: (a,b) c=3, (b,a) c=1, (b,c) c=1
    # contexts: a: c_ctx=3 n1p=1 ; b: c_ctx=2 n1p=2
    # continuation: a<-{b}=1, b<-{a}=1, c<-{b}=1 ; total types = 3
    D = 0.75
    p_ab = ((3 - D) / 3) + ((D * 1) / 3) * (1 / 3)
    p_ba = ((1 - D) / 2) + ((D * 2) / 2) * (1 / 3)
    p_bc = ((1 - D) / 2) + ((D * 2) / 2) * (1 / 3)
    got = {r[0]: r for r in results[100]}
    assert 2 not in got
    exp0 = round((2 * math.log2(p_ab) + math.log2(p_ba)) / 3, 4)
    exp1 = round((math.log2(p_ab) + math.log2(p_bc)) / 2, 4)
    assert got[0][1:] == (3, exp0)
    assert got[1][1:] == (2, exp1)
    # smoothing must actually differ from MLE (p_ab < 1 despite a->b
    # being a's only continuation in 3/3 bigrams... c(a,b)/c(a) = 1)
    assert p_ab < 1.0


def test_l89_temperature_mix_sqrt_weights(spark, tmp_path):
    """alpha=1/2 weights on a 100/400-token corpus: shares 1/3 vs 2/3,
    low-resource language boosted above its proportional share."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = [
        (0, " ".join(["w"] * 100), "mi", "web", 0),
        (1, " ".join(["w"] * 400), "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["lang"]: r for r in
           lp.l89_temperature_mix(spark, str(tmp_path)).collect()}
    mi, en = got["mi"], got["en"]
    assert (mi["n_tokens"], en["n_tokens"]) == (100, 400)
    assert mi["prop_share"] == 0.2 and en["prop_share"] == 0.8
    # sqrt: 10 vs 20 -> temp shares 1/3, 2/3
    assert mi["temp_share"] == round(1 / 3, 4)
    assert en["temp_share"] == round(2 / 3, 4)
    # epochs: (1/3)*500/100 = 5/3 ; (2/3)*500/400 = 5/6
    assert mi["epochs"] == round(5 / 3, 4)
    assert en["epochs"] == round(5 / 6, 4)
    assert mi["boosted"] and not en["boosted"]


def test_l89_boosted_flag_deterministic_on_exact_tie(spark, tmp_path):
    """ADVICE r14: on an all-languages-equal corpus, temp share equals
    prop share EXACTLY (both 1/L with the fixed-point s_total), so the
    strict `boosted` comparison must be False for every language —
    deterministically, not by summation-order luck."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = [
        (i, " ".join(["w"] * 36), lang, "web", 0)
        for i, lang in enumerate(["en", "mi", "fr", "de"])
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = lp.l89_temperature_mix(spark, str(tmp_path)).collect()
    assert len(got) == 4
    for r in got:
        assert r["prop_share"] == r["temp_share"] == 0.25
        assert r["boosted"] is False


def test_decimal_cmp_guard_raises_on_overflow(spark):
    """ADVICE r14: under ANSI (Spark 4's default) a decimal(38,0)
    overflow already errors loudly — the gap is ANSI-OFF sessions,
    where the overflow yields NULL silently while DuckDB's HUGEINT
    twin errors. l87's comparison guard must convert that NULL into a
    loud error so both engines fail the same way, and the
    non-overflow path must keep returning plain booleans."""
    import pytest
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        _decimal_cmp_guarded,
    )

    big = F.lit("9" * 38).cast("decimal(38,0)")
    ok = spark.range(1).select(
        _decimal_cmp_guarded(big, F.lit(1).cast("decimal(38,0)"), "boom")
        .alias("flag")
    )
    assert ok.collect()[0]["flag"] is True

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        overflowed = big * F.lit(10).cast("decimal(38,0)")  # silent NULL
        bad = spark.range(1).select(
            _decimal_cmp_guarded(overflowed, big, "l87 overflow")
            .alias("flag")
        )
        with pytest.raises(Exception, match="l87 overflow"):
            bad.collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_l90_takedown_propagates_to_exact_copies_only(spark, tmp_path):
    """A takedown seed must remove itself AND every doc sharing its
    bag fingerprint (different doc_id, shuffled words), flagged as
    collateral; unrelated duplicate groups must be untouched."""
    import hashlib

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    def is_seed(doc_id: int) -> bool:
        h = int(
            hashlib.md5(f"takedown|{doc_id}".encode()).hexdigest()[:15], 16
        )
        return h % lp.L90_TAKEDOWN_MOD == 0

    seed_id = next(i for i in range(10_000) if is_seed(i))
    clean = [i for i in range(10_000) if not is_seed(i)][:3]

    rows = [
        (seed_id, "alpha beta gamma", "en", "web", 0),
        # same word BAG, different order/multiplicity -> same fingerprint
        (clean[0], "gamma beta alpha alpha", "en", "mirror", 0),
        # unrelated dup group, no seed -> survives
        (clean[1], "delta epsilon", "en", "web", 0),
        (clean[2], "delta epsilon", "en", "mirror", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["doc_id"]: r for r in
           lp.l90_takedown_propagation(spark, str(tmp_path)).collect()}
    assert set(got) == {seed_id, clean[0]}
    assert got[seed_id]["is_seed"] and not got[clean[0]]["is_seed"]
    assert got[seed_id]["n_group"] == got[clean[0]]["n_group"] == 2
    assert got[seed_id]["fp"] == got[clean[0]]["fp"]


def test_l91_calibration_exact_pair_and_estimator_bounds(spark, tmp_path):
    """An exact duplicate pair must land in the n_agree=8 bucket with
    true jaccard 1.0 and zero error; every bucket must satisfy the
    estimator identities (est = k/8, min <= mean <= max)."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = [
        # exact dup pair (identical shingle sets -> all 8 slots agree)
        (0, "alpha beta gamma delta epsilon zeta", "en", "web", 0),
        (1, "alpha beta gamma delta epsilon zeta", "en", "mirror", 0),
        # near pair: shares most 3-shingles with the pair above
        (2, "alpha beta gamma delta epsilon eta", "en", "web", 0),
        # unrelated
        (3, "one two three four five six seven", "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = lp.l91_minhash_calibration(spark, str(tmp_path)).collect()
    assert got, "exact dup must be an LSH candidate"
    by_k = {r["n_agree"]: r for r in got}
    full = by_k[lp.N_MINHASH]
    assert full["mean_jaccard"] == 1.0
    assert full["mean_abs_err"] == 0.0
    assert full["n_pairs"] >= 1
    for r in got:
        assert r["est_jaccard"] == r["n_agree"] / lp.N_MINHASH
        assert r["min_jaccard"] <= r["mean_jaccard"] <= r["max_jaccard"]
        assert 0.0 <= r["mean_abs_err"] <= 1.0
        # LSH candidacy => at least one full band (2 rows) agrees
        assert r["n_agree"] >= lp.N_MINHASH // lp.N_BANDS


def test_l92_countmin_matches_pure_python_sketch(spark, tmp_path):
    """The Spark CMS must equal a from-scratch Python replica on a
    planted corpus — same buckets, same cells, same min-row estimates —
    and the one-sided guarantee (est >= true) must hold everywhere."""
    import hashlib
    from collections import Counter

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    words = [f"tok{i}" for i in range(30)]
    # tok_i appears i+1 times -> distinct true counts
    corpus = " ".join(w for i, w in enumerate(words) for _ in range(i + 1))
    spark.createDataFrame(
        [(0, corpus, "en", "web", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def bkt(r: int, w: str) -> int:
        h = int(hashlib.md5(f"cms{r}|{w}".encode()).hexdigest()[:15], 16)
        return h % lp.CMS_W

    true = Counter()
    for i, w in enumerate(words):
        true[w] = i + 1
    cells = Counter()
    for w, c in true.items():
        for r in range(lp.CMS_D):
            cells[(r, bkt(r, w))] += c

    def est(w: str) -> int:
        return min(cells[(r, bkt(r, w))] for r in range(lp.CMS_D))

    top = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[: lp.L92_TOP_K]
    expected = {
        w: (c, est(w), est(w) - c) for w, c in top
    }

    got = {
        r["w"]: (r["true_count"], r["est_count"], r["overcount"])
        for r in lp.l92_countmin_heavyhitters(spark, str(tmp_path)).collect()
    }
    assert got == expected
    for c, e, over in got.values():
        assert e >= c and over == e - c >= 0


def test_l93_bpe_hand_computed_with_equal_pair_runs(spark, tmp_path):
    """BPE training must match a hand-computed trajectory on a corpus
    whose best pair has a == b (runs!): left-to-right non-overlapping
    means 'aaaa' -> [aa, aa] and 'aaa' -> [aa, a]. The SQL oracle must
    agree on the SAME corpus — the positional parity logic is only
    exercised by equal-symbol runs, which the driver corpus never
    produces."""
    import duckdb as _duck

    from __spark_entry__ import oracle_sql
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    # vocab: aaaa x2, aaa x1, bb x1
    spark.createDataFrame(
        [(0, "aaaa aaaa aaa bb", "en", "web", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    # round 1: (a,a) count 3*2+2 = 8; aaaa->[aa,aa], aaa->[aa,a]
    #   after = 2*2 + 2 + 2 = 8
    # round 2: (aa,aa) count 2; aaaa->[aaaa]; after = 2 + 2 + 2 = 6
    # round 3: (aa,a) 1 vs (b,b) 1 — 'aa' < 'b' wins the tie;
    #   aaa->[aaa]; after = 2 + 1 + 2 = 5
    expected = [
        (1, "a", "a", 8, 8),
        (2, "aa", "aa", 2, 6),
        (3, "aa", "a", 1, 5),
    ]

    got = sorted(map(tuple, lp.l93_bpe_train(spark, str(tmp_path)).collect()))
    assert got == expected

    con = _duck.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = sorted(
        map(tuple, con.execute(oracle_sql()["l93_bpe_train"]).fetchall())
    )
    assert oracle == expected


def test_l94_normalize_nfc_controls_whitespace(spark, tmp_path):
    """Normalization must NFC-compose decomposed accents, strip
    control chars, collapse whitespace and trim — pinned against
    hand-computed fingerprints, with the DuckDB oracle twin asserted
    on the SAME planted corpus (the driver corpus is ASCII-clean, so
    only this test exercises the interesting paths)."""
    import hashlib

    import duckdb as _duck

    from __spark_entry__ import oracle_sql
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = [
        (0, "café  \tmenu", "fr", "web", 0),   # e+◌́ -> é; ws run
        (1, "ok\x01ok", "en", "web", 0),              # control char
        (2, " padded ", "en", "web", 0),              # trim only
        (3, "clean text", "en", "web", 0),            # unchanged
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def fp(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    expected = {
        0: (fp("café menu"), 9, True),
        1: (fp("okok"), 4, True),
        2: (fp("padded"), 6, True),
        3: (fp("clean text"), 10, False),
    }

    got = {
        r["doc_id"]: (r["norm_fp"], r["n_chars_norm"], r["changed"])
        for r in lp.l94_text_normalize(spark, str(tmp_path)).collect()
    }
    assert got == expected

    con = _duck.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = {
        d: (f, int(n), c)
        for d, f, n, c in con.execute(
            oracle_sql()["l94_text_normalize"]
        ).fetchall()
    }
    assert oracle == expected


def test_l28_null_text_is_not_shared(spark, tmp_path):
    """A NULL text has a NULL bag-of-words fingerprint, which matches
    nothing: two sources that each hold one NULL-text doc and one
    shared real doc overlap by exactly the real doc, on Spark and on
    the DuckDB oracle over the same files."""
    import duckdb as _duck

    from __spark_entry__ import oracle_sql
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    rows = [
        (0, None, "en", "web", 0),
        (1, "the same words", "en", "web", 14),
        (2, None, "en", "wiki", 0),
        (3, "words the same", "en", "wiki", 14),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = sorted(
        tuple(r)
        for r in lp.l28_cross_source_overlap(spark, str(tmp_path)).collect()
    )
    con = _duck.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = sorted(
        con.execute(oracle_sql()["l28_cross_source_overlap"]).fetchall()
    )
    assert got == oracle
    assert len(got) == 1 and got[0][:3] == ("web", "wiki", 1)


def _hll_py(keys, p=8, q=52, s=54):
    """Pure-Python mirror of l95's sketch — registers, harmonic sum,
    and both estimator branches — for hand-checked parity."""
    import hashlib
    import math

    m = 1 << p
    regs = {}
    for k in keys:
        h = int(hashlib.md5(f"hll|{k}".encode()).hexdigest()[:15], 16)
        j, w = h % m, h >> p
        rank = (q + 1) if w == 0 else (q + 1) - w.bit_length()
        regs[j] = max(regs.get(j, 0), rank)
    z = sum(1 << (s - r) for r in regs.values()) + (m - len(regs)) * (1 << s)
    alpha_const = (0.7213 / (1 + 1.079 / m)) * m * m * float(1 << s)
    est = alpha_const / float(z)
    if est <= 2.5 * m and len(regs) < m:
        return "linear", float(m) * math.log(float(m) / (m - len(regs)))
    return "raw", est


def test_l95_hll_matches_pure_python_mirror(spark, tmp_path):
    """The engine's HLL must equal a from-scratch Python computation of
    the same sketch (registers, fixed-point harmonic sum, branch
    selection) on a planted corpus — pinning md5 derivation, bitlength
    rank, register max, and the linear-counting arm end to end."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    users = {
        "click": list(range(40)),          # linear-counting regime
        "view": list(range(1000, 1015)),   # linear-counting regime
        "bulk": list(range(5000, 7000)),   # raw-HLL regime (E > 2.5m)
    }
    rows = []
    eid = 0
    for et, us in users.items():
        for u in us:
            for _ in (0, 1):  # duplicates must not move the sketch
                rows.append((eid, 1_700_000_000_000_000 + eid, u, et, 1.0, ""))
                eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts_us bigint, user_id bigint, "
        "event_type string, value double, props string",
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        r["event_type"]: r
        for r in lp.l95_hll_cardinality(spark, str(tmp_path)).collect()
    }
    for et, us in users.items():
        mode, est = _hll_py(us)
        assert got[et]["n_exact"] == len(us)
        assert got[et]["mode"] == mode
        assert got[et]["hll_est"] == round(est, 4)
        assert got[et]["rel_err"] == round((est - len(us)) / len(us), 4)
    # both estimator arms actually exercised
    assert got["click"]["mode"] == "linear"
    assert got["bulk"]["mode"] == "raw"


def test_l96_bloom_one_sided_error_and_planted_false_positive(
    spark, tmp_path
):
    """Bloom's contract: NO false negatives (every exact member is
    flagged), and a non-member whose k probe positions all collide
    with set bits — found deterministically in pure Python against the
    same md5 pipeline — must be flagged AND counted as a false
    positive."""
    import hashlib

    from etl_wlg_metlink_spark.operators import llm_pipeline as lp

    def fp_of(text: str) -> str:
        ws = sorted(set(text.split(" ")))
        return hashlib.md5(" ".join(ws).encode()).hexdigest()

    # reference docs at ids divisible by the mod; enough of them to
    # set a dense bit pattern, so a colliding non-member exists
    ref_ids = [lp.L96_REF_MOD * i for i in range(1, 61)]
    # manifest-adaptive filter size, the engine's exact formula
    mbits = 1 << (lp.BLOOM_BITS_PER_KEY * len(ref_ids) - 1).bit_length()

    def positions(fp: str) -> set:
        return {
            int(hashlib.md5(f"bloom{i}|{fp}".encode()).hexdigest()[:15], 16)
            % mbits
            for i in range(lp.BLOOM_K)
        }
    set_bits: set = set()
    rows = []
    for rid in ref_ids:
        text = f"ref doc number {rid}"
        set_bits |= positions(fp_of(text))
        rows.append((rid, text, "en", "refsrc", 0))

    # deterministic search for one colliding and one clean non-member
    fp_text = clean_text = None
    i = 0
    while fp_text is None or clean_text is None:
        i += 1
        cand = f"probe candidate {i}"
        if positions(fp_of(cand)) <= set_bits:
            fp_text = fp_text or cand
        else:
            clean_text = clean_text or cand
    rows.append((1, fp_text, "en", "probesrc", 0))      # planted FP
    rows.append((2, clean_text, "en", "probesrc", 0))   # guaranteed miss
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, "
        "n_chars int",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["source"]: r
        for r in lp.l96_bloom_contamination(spark, str(tmp_path)).collect()
    }
    ref = got["refsrc"]
    # one-sided error: every member flagged, no member missed
    assert ref["n_member"] == ref["n_flagged"] == len(ref_ids)
    assert ref["n_false_pos"] == 0
    probe = got["probesrc"]
    assert probe["n_docs"] == 2 and probe["n_member"] == 0
    assert probe["n_flagged"] == 1 and probe["n_false_pos"] == 1
    assert probe["fp_rate"] == 0.5
