"""CLI runner (python -m etl_wlg_metlink_spark) — the reference's
local-dev invocation path (task.ts:346) end-to-end: fixture file in,
FeatureCollection on stdout / JSON-lines at --out."""

from __future__ import annotations

import json

from etl_wlg_metlink_spark.__main__ import main
from etl_wlg_metlink_spark.pipelines.gtfs_fixture import (
    FIXTURE_ENTITIES,
    oracle_features,
)


def _fixture_file(tmp_path):
    p = tmp_path / "response.json"
    p.write_text(json.dumps({"header": {"timestamp": 1}, "entity": FIXTURE_ENTITIES}))
    return str(p)


def test_cli_fixture_to_stdout_matches_oracle(spark, tmp_path, capsys):
    rc = main(["--fixture", _fixture_file(tmp_path)])
    assert rc == 0
    out = capsys.readouterr()
    fc = json.loads(out.out.strip().splitlines()[-1])
    assert fc["type"] == "FeatureCollection"
    expected = oracle_features(FIXTURE_ENTITIES)
    assert [f["id"] for f in fc["features"]] == [f["id"] for f in expected]
    assert "submitted" in out.err


def test_cli_fixture_to_jsonl(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "features")
    rc = main(["--fixture", _fixture_file(tmp_path), "--out", out_dir])
    assert rc == 0
    rows = [
        json.loads(r["value"])
        for r in spark.read.text(out_dir).collect()
    ]
    expected_ids = {f["id"] for f in oracle_features(FIXTURE_ENTITIES)}
    assert {r["id"] for r in rows} == expected_ids


def test_cli_bad_fixture_submits_empty_collection(spark, tmp_path, capsys):
    """S3 error→empty fallback through the CLI: unparseable body still
    submits an empty FeatureCollection and exits 0 (task.ts:180-188)."""
    p = tmp_path / "broken.json"
    p.write_text("{not json")
    rc = main(["--fixture", str(p)])
    assert rc == 0
    fc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert fc == {"type": "FeatureCollection", "features": []}


def _documents_dir(tmp_path) -> str:
    """A tables dir holding only ``documents``: 160 seeded bag-of-words
    docs in three languages, every eighth a near-duplicate (one word
    appended) of an earlier one."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    texts = []
    for i in range(160):
        if i >= 16 and i % 8 == 0:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(vocab, k=rng.randint(20, 60))))
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "fr")[i % 3] for i in range(len(texts))],
        "source": [f"src{i % 5}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    tables = tmp_path / "tables"
    tables.mkdir()
    pq.write_table(table, str(tables / "documents.parquet"))
    return str(tables)


def test_cli_corpus_build_roundtrip(spark, tmp_path, capsys, monkeypatch):
    """VERDICT r5 stretch 7: the one-command corpus build. The CLI
    writes the l42 kept corpus as a fp-bucketed parquet table and
    prints a read-back audit; that audit must equal l42's own rollup
    row for row, and the written files must contain exactly the kept
    doc_ids (sum_kept_ids is the checksum)."""
    from etl_wlg_metlink_spark import artifacts
    from etl_wlg_metlink_spark.__main__ import main
    from etl_wlg_metlink_spark.operators.llm_pipeline import l42_corpus_build

    # the table is new each run, so its mined artifacts stay with it
    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    sf_dir = _documents_dir(tmp_path)
    out_dir = str(tmp_path / "corpus")
    rc = main(["--corpus-build", out_dir, "--sf-dir", sf_dir])
    assert rc == 0
    captured = capsys.readouterr()
    printed = [
        json.loads(line) for line in captured.out.strip().splitlines()
    ]
    expected = sorted(
        (r.asDict() for r in l42_corpus_build(spark, sf_dir).collect()),
        key=lambda d: d["lang"],
    )
    assert printed == expected
    assert "corpus build: received" in captured.err
    assert 0 < sum(d["n_kept"] for d in expected) < 160

    # the files themselves carry the kept rows (not just the audit):
    written = spark.read.parquet(out_dir)
    n_kept = sum(d["n_kept"] for d in expected)
    assert written.count() == n_kept
    from pyspark.sql import functions as F

    sum_ids = written.agg(F.sum("doc_id").alias("s")).first()["s"]
    assert sum_ids == sum(d["sum_kept_ids"] for d in expected)
    assert "fp" in written.columns  # the bucket key rides the schema


def test_cli_schedule_mode_availablenow(spark, tmp_path, capsys):
    """VERDICT r14 item 7: the one-command scheduled-job unit. Two
    envelope files land; one --schedule invocation must submit one
    FeatureCollection per file and exit 0; a re-invocation with the
    SAME checkpoint must submit nothing (exactly-once across scheduled
    re-runs); config from --config must apply (Show_Buses off)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.json").write_text(
        json.dumps({"header": {"timestamp": 1}, "entity": FIXTURE_ENTITIES})
    )
    (landing / "b.json").write_text(
        json.dumps({"header": {"timestamp": 2}, "entity": FIXTURE_ENTITIES[:1]})
    )
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({"Show_Buses": False}))
    ckpt = str(tmp_path / "ckpt")

    rc = main(
        ["--schedule", str(landing), "--config", str(cfg),
         "--checkpoint", ckpt]
    )
    assert rc == 0
    out = capsys.readouterr()
    fcs = [json.loads(line) for line in out.out.strip().splitlines()]
    assert len(fcs) == 2  # one FeatureCollection per landed file
    assert all(fc["type"] == "FeatureCollection" for fc in fcs)
    # Show_Buses=False from the config file: no bus features anywhere
    all_ids = [f["id"] for fc in fcs for f in fc["features"]]
    assert all_ids and not any("Bus" in i for i in all_ids)
    assert "2 batches" in out.err

    # same checkpoint, second scheduled invocation: nothing new to do
    rc = main(
        ["--schedule", str(landing), "--config", str(cfg),
         "--checkpoint", ckpt]
    )
    assert rc == 0
    out2 = capsys.readouterr()
    assert out2.out.strip() == ""
    assert "0 batches, 0 features" in out2.err


def test_cli_config_file_unknown_key_is_loud(tmp_path):
    """A typo'd key in a deploy config must fail the invocation, not
    silently resolve to a default."""
    import pytest

    from etl_wlg_metlink_spark.config import MetlinkConfig

    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({"Show_Busses": False}))
    with pytest.raises(ValueError, match="Show_Busses"):
        MetlinkConfig.from_file_env(str(cfg))


def test_cli_config_file_wrong_value_type_is_loud(tmp_path):
    """ADVICE r15: {"Show_Buses": "false"} is a truthy STRING — a
    natural mistake when porting env-var configs — and must fail the
    invocation instead of silently enabling the toggle."""
    import pytest

    from etl_wlg_metlink_spark.config import MetlinkConfig

    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({"Show_Buses": "false"}))
    with pytest.raises(ValueError, match="Show_Buses"):
        MetlinkConfig.from_file_env(str(cfg))

    cfg.write_text(json.dumps({"METLINK_API_KEY": 42}))
    with pytest.raises(ValueError, match="METLINK_API_KEY"):
        MetlinkConfig.from_file_env(str(cfg))

    # correct types still resolve
    cfg.write_text(
        json.dumps({"Show_Buses": False, "METLINK_API_KEY": "k"})
    )
    got = MetlinkConfig.from_file_env(str(cfg))
    assert got.show_buses is False and got.metlink_api_key == "k"


def test_cli_schedule_default_checkpoint_is_surfaced(tmp_path, capsys):
    """ADVICE r15: a defaulted (mkdtemp) checkpoint must be echoed to
    stderr so a failed run can be resumed, plus a loud not-exactly-once
    warning."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.json").write_text(
        json.dumps({"header": {"timestamp": 1}, "entity": FIXTURE_ENTITIES[:1]})
    )
    rc = main(["--schedule", str(landing)])
    assert rc == 0
    err = capsys.readouterr().err
    assert "checkpoint: " in err
    assert "NOT be exactly-once" in err
    ckpt = [
        line.split("checkpoint: ", 1)[1]
        for line in err.splitlines()
        if line.startswith("checkpoint: ")
    ][0]
    import os
    import shutil

    assert os.path.isdir(ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_schema_dispatch_rejects_unknown_literals():
    """ADVICE r15: schema() validates its literals — a caller typo
    ('Input', 'in') raises instead of silently returning the GTFS-RT
    output schema."""
    import pytest

    from etl_wlg_metlink_spark import schemas

    with pytest.raises(ValueError, match="schema_type"):
        schemas.schema("Input", "incoming")
    with pytest.raises(ValueError, match="flow"):
        schemas.schema("input", "in")
    # the three legitimate dispatch arms still work
    assert schemas.schema("input", "incoming")["type"] == "object"
    assert schemas.schema("output", "incoming").fieldNames() == [
        "header",
        "entity",
    ]
    assert len(schemas.schema("input", "outgoing").fields) == 0
