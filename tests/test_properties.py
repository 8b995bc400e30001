"""Property-based spot checks (SURVEY.md §5): hypothesis generates
random inputs; the Spark expressions must match a plain-Python
reference implementation of the JS semantics, and the composed
pipeline must match the mini-oracle on RANDOM fixtures, not just the
hand-picked one.

Spark jobs are expensive per-example, so each example carries a batch
of values and example counts are small.
"""

from __future__ import annotations

import json
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_wlg_metlink_spark.config import MetlinkConfig
from etl_wlg_metlink_spark.pipelines import metlink
from etl_wlg_metlink_spark.pipelines.gtfs_fixture import (
    _entity,
    oracle_features,
)
from etl_wlg_metlink_spark.functions.scalar import (
    js_falsy_to_nan,
    nullish_default_str,
    occupancy_label,
    split_head,
)
from etl_wlg_metlink_spark.sinks import geojson
from etl_wlg_metlink_spark.sources import gtfs

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite_or_special = st.one_of(
    st.none(),
    st.just(0.0),
    st.just(float("nan")),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
)


@given(st.lists(finite_or_special, min_size=1, max_size=40))
@settings(**SETTINGS)
def test_js_falsy_to_nan_matches_python(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = [r[0] for r in df.select(js_falsy_to_nan("v")).collect()]
    for g, v in zip(got, values):
        falsy = v is None or v == 0 or (isinstance(v, float) and math.isnan(v))
        if falsy:
            assert math.isnan(g)
        else:
            assert g == v


@given(st.lists(st.one_of(st.none(), st.integers(-5, 5)), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_nullish_default_matches_python(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v long")
    got = [r[0] for r in df.select(nullish_default_str("v")).collect()]
    assert got == ["Unknown" if v is None else str(v) for v in values]


@given(
    st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
            max_size=12,
        ),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from(["__", ".", "|", "a", "-"]),
)
@settings(**SETTINGS)
def test_split_head_matches_python_split(spark, strings, sep):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r[0] for r in df.select(split_head("s", sep)).collect()]
    assert got == [s.split(sep)[0] for s in strings]


@given(st.lists(st.one_of(st.none(), st.integers(-2, 9)), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_occupancy_label_matches_python(spark, codes):
    labels = [
        "Empty", "Many seats available", "Few seats available",
        "Standing room only", "Crushed standing room only", "Full",
        "Not accepting passengers",
    ]
    df = spark.createDataFrame([(c,) for c in codes], "c long")
    got = [r[0] for r in df.select(occupancy_label("c")).collect()]
    assert got == [
        labels[c] if c is not None and 0 <= c < 7 else "Unknown" for c in codes
    ]


# -- random pipeline fixtures vs the mini-oracle ---------------------------

trip_ids = st.one_of(
    st.none(),
    st.just(""),
    st.sampled_from(
        ["QDF__F1", "MIF__X", "HVL__T", "KPL__9", "MEL__2", "220__B",
         "AX__B", "NOSEP", "7__77"]
    ),
)

entity_params = st.fixed_dictionaries(
    {
        "trip_id": trip_ids,
        "lat": st.sampled_from([-41.3, 0.0, -41.29, None]),
        "lon": st.sampled_from([174.8, 0.0, None]),
        "bearing": st.sampled_from([0.0, 90.0, 359.0]),
        "speed": st.sampled_from([None, 0.0, 3.5, 27.25]),
        "direction": st.sampled_from([0, 1, None]),
        "occupancy": st.sampled_from([None, 0, 3, 6, 7]),
        "vehicle_id": st.sampled_from(["A", "B", "C", "D", "E", "F"]),
        "include_vehicle": st.booleans(),
        "include_position": st.booleans(),
    }
)


@given(st.lists(entity_params, min_size=0, max_size=12))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pipeline_matches_oracle_on_random_fixtures(spark, params):
    entities = [_entity(i, **p) for i, p in enumerate(params)]
    raw = json.dumps({"header": {}, "entity": entities})
    fc = geojson.submit(
        metlink.run(gtfs.entities_from_json(spark, raw), MetlinkConfig()),
        lambda _: None,
    )
    expected = oracle_features(entities)
    assert fc["features"] == expected


# ---------------------------------------------------------------------------
# l27 PII redaction: Spark's Java regex and Python's re must agree on
# the shared pattern subset, and redaction must remove every planted
# PII span regardless of the surrounding filler.
# ---------------------------------------------------------------------------

_FILLER = st.text(
    alphabet=st.sampled_from("abc XYZ,;\n\t"), min_size=0, max_size=30
)


@given(
    st.lists(
        st.tuples(
            _FILLER,
            st.sampled_from(
                [
                    "bob.smith+tag@mail-host.example.com",
                    "x@y.nz",
                    "10.255.0.7",
                    "192.168.1.254",
                    "04-555-0199",
                    "09 123 4567",
                ]
            ),
        ),
        min_size=1,
        max_size=6,
    ),
    _FILLER,
)
@settings(**SETTINGS)
def test_pii_redaction_scrubs_planted_spans(spark, parts, tail):
    import re

    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    # ' ' separators keep planted spans from fusing with the filler
    # into a different (longer) match
    text = " ".join(f"{filler} {pii}" for filler, pii in parts) + " " + tail
    df = spark.createDataFrame([(text,)], "t string")
    redacted, n_email, n_ip, n_phone = df.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"),
                PII_IPV4_RE, "<IP>",
            ),
            PII_PHONE_RE, "<PHONE>",
        ),
        F.size(F.regexp_extract_all("t", F.lit(PII_EMAIL_RE), 0)),
        F.size(F.regexp_extract_all("t", F.lit(PII_IPV4_RE), 0)),
        F.size(F.regexp_extract_all("t", F.lit(PII_PHONE_RE), 0)),
    ).first()

    # parity with Python's re on the identical patterns
    py = re.sub(PII_PHONE_RE, "<PHONE>",
                re.sub(PII_IPV4_RE, "<IP>",
                       re.sub(PII_EMAIL_RE, "<EMAIL>", text)))
    assert redacted == py
    assert n_email == len(re.findall(PII_EMAIL_RE, text))
    assert n_ip == len(re.findall(PII_IPV4_RE, text))
    assert n_phone == len(re.findall(PII_PHONE_RE, text))
    # every planted span is gone from the redacted text
    for _, pii in parts:
        assert pii not in redacted


@given(
    st.lists(st.integers(min_value=1, max_value=90), min_size=1, max_size=8),
    st.integers(min_value=0, max_value=10**6),
)
@settings(**SETTINGS)
def test_chunk_windows_tile_random_docs(spark, tmp_path_factory, n_words, seed):
    """l37 on random documents: chunk starts step by the stride from 0,
    every token index lands in >= 1 chunk, no chunk overruns the doc,
    and chunk token counts follow min(W, n - start) exactly."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L37_CHUNK_TOKENS,
        L37_STRIDE,
        l37_chunk_windows,
    )

    tmp = tmp_path_factory.mktemp(f"l37_{seed}")
    rows = [
        (i, " ".join(f"w{seed}_{i}_{j}" for j in range(n)), "xx", "srcp", n)
        for i, n in enumerate(n_words)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp / "documents.parquet"))

    chunks = l37_chunk_windows(spark, str(tmp)).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(len(n_words)))
    for doc_id, n in enumerate(n_words):
        cs = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        covered = set()
        for i, c in enumerate(cs):
            assert c["chunk_start"] == i * L37_STRIDE
            assert c["chunk_start"] < n  # no chunk starts past the doc
            assert c["n_chunk_tokens"] == min(
                L37_CHUNK_TOKENS, n - c["chunk_start"]
            )
            covered.update(
                range(c["chunk_start"], c["chunk_start"] + c["n_chunk_tokens"])
            )
        assert covered == set(range(n))


@given(
    st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=6),
    st.integers(min_value=0, max_value=10**6),
)
@settings(**SETTINGS)
def test_segment_dedup_counts_on_random_docs(spark, tmp_path_factory, n_words, seed):
    """l32 on random all-unique documents: segment counts are exactly
    ceil(n/W) per doc, and with globally unique words no segment can be
    a duplicate."""
    import math as m

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        L32_SEG_WORDS,
        l32_segment_dedup,
    )

    tmp = tmp_path_factory.mktemp(f"l32_{seed}")
    rows = [
        (i, " ".join(f"u{seed}_{i}_{j}" for j in range(n)), "xx", "srcp", n)
        for i, n in enumerate(n_words)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp / "documents.parquet"))

    got = {r["doc_id"]: r for r in l32_segment_dedup(spark, str(tmp)).collect()}
    assert set(got) == set(range(len(n_words)))
    for doc_id, n in enumerate(n_words):
        r = got[doc_id]
        assert r["n_segs"] == m.ceil(n / L32_SEG_WORDS)
        assert r["n_dup_segs"] == 0 and r["dup_seg_frac"] == 0.0
