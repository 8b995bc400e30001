"""The landing contract: a directory of GTFS-RT envelope files, read by
Spark's file source and parsed by `gtfs.parse_envelopes`. `*.json`
files are consumed in modification-time order, one per micro-batch,
and a late file is ingested whatever its name. The one-shot
(`metlink_envelope_stream`), resident (`metlink_resident_stream`) and
backfill (`gtfs.snapshot_entities`) readers all honour it.
Self-contained: each test lands the fixture envelope in `tmp_path`, so
no table data is needed."""

from __future__ import annotations

import json
import os
import time

from etl_wlg_metlink_spark.pipelines.gtfs_fixture import RAW_JSON, oracle_features
from etl_wlg_metlink_spark.sources import gtfs
from etl_wlg_metlink_spark.streaming import runners

#: any fixed epoch; only the order of the landed mtimes matters
BASE_TS = 1_700_000_000

FIXTURE = json.loads(RAW_JSON)


def _envelope(entities):
    return json.dumps({"header": FIXTURE["header"], "entity": entities})


def _land(inbox, name: str, body: str, k: int) -> None:
    """Land one file with mtime BASE_TS + k: strictly increasing k is
    the landing order the file source replays."""
    path = inbox / name
    path.write_text(body)
    os.utime(path, (BASE_TS + k, BASE_TS + k))


def _ids(fc):
    return [f["id"] for f in fc["features"]]


def _oracle_ids(entities=None):
    return [f["id"] for f in oracle_features(entities)]


def _inbox(tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    return inbox


def _resident(spark, inbox, captured, ckpt):
    return runners.metlink_resident_stream(
        spark, str(inbox), captured.append, str(ckpt), interval="0 seconds"
    )


def _settle(q, captured, n: int, timeout_s: float = 120) -> None:
    """Wait, bounded, for ``n`` submissions in all, then until the
    query has nothing left to process (so any extra submission would
    have arrived)."""
    deadline = time.monotonic() + timeout_s
    while len(captured) < n and time.monotonic() < deadline:
        if q.exception() is not None:
            raise q.exception()
        time.sleep(0.1)
    assert len(captured) >= n, f"{len(captured)} of {n} submissions"
    q.processAllAvailable()


def test_metlink_envelope_stream(spark, tmp_path):
    """One availableNow run submits one FeatureCollection per landed
    envelope; a re-run on the same checkpoint submits only what
    landed since."""
    inbox = _inbox(tmp_path)
    _land(inbox, "poll1.json", RAW_JSON, 1)
    captured = []
    q = runners.metlink_envelope_stream(
        spark, str(inbox), captured.append, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    assert len(captured) == 1
    assert _ids(captured[0]) == _oracle_ids()

    # a second poll arriving later is its own micro-batch/submission
    second = FIXTURE["entity"][:3]
    _land(inbox, "poll2.json", _envelope(second), 2)
    q2 = runners.metlink_envelope_stream(
        spark, str(inbox), captured.append, str(tmp_path / "ckpt")
    )
    q2.awaitTermination()
    assert len(captured) == 2
    assert _ids(captured[1]) == _oracle_ids(second)


def test_metlink_resident_stream_two_polls(spark, tmp_path):
    """S5 resident mode end-to-end: two landed envelopes and one
    malformed file on a processingTime trigger — one FeatureCollection
    submission per file, the malformed one submits an EMPTY
    collection (task.ts:180-188's error→empty fallback) and the query
    stays alive."""
    inbox = _inbox(tmp_path)
    second = FIXTURE["entity"][:3]
    _land(inbox, "s0.json", RAW_JSON, 0)
    _land(inbox, "s1.json", _envelope(second), 1)
    _land(inbox, "s2.json", "{not json", 2)

    captured = []
    q = _resident(spark, inbox, captured, tmp_path / "ckpt")
    try:
        _settle(q, captured, 3)
        assert q.isActive  # a bad file must not kill a resident query
    finally:
        q.stop()

    assert len(captured) == 3
    assert _ids(captured[0]) == _oracle_ids()
    assert _ids(captured[1]) == _oracle_ids(second)
    assert captured[2] == {"type": "FeatureCollection", "features": []}


def test_resident_run_resumes_available_now_checkpoint(spark, tmp_path):
    """--schedule and --schedule --resident share one checkpoint: a
    resident run after an availableNow run on the same landing dir
    submits only the envelope landed in between."""
    inbox = _inbox(tmp_path)
    ckpt = tmp_path / "ckpt"
    _land(inbox, "e1.json", RAW_JSON, 1)
    _land(inbox, "e2.json", _envelope(FIXTURE["entity"][:3]), 2)
    once = []
    runners.metlink_envelope_stream(
        spark, str(inbox), once.append, str(ckpt)
    ).awaitTermination()
    assert len(once) == 2

    third = FIXTURE["entity"][2:]
    _land(inbox, "e3.json", _envelope(third), 3)
    resident = []
    q = _resident(spark, inbox, resident, ckpt)
    try:
        _settle(q, resident, 1)
    finally:
        q.stop()
    assert [_ids(fc) for fc in resident] == [_oracle_ids(third)]


def test_late_file_sorting_first_is_submitted(spark, tmp_path):
    """A file that lands after others were consumed is submitted even
    when its name sorts before theirs: landing order is mtime, not
    name."""
    inbox = _inbox(tmp_path)
    first = FIXTURE["entity"][:3]
    late = FIXTURE["entity"][3:]
    _land(inbox, "b.json", _envelope(first), 1)
    captured = []
    q = _resident(spark, inbox, captured, tmp_path / "ckpt")
    try:
        _settle(q, captured, 1)
        _land(inbox, "a.json", _envelope(late), 2)
        _settle(q, captured, 2)
    finally:
        q.stop()
    assert [_ids(fc) for fc in captured] == [_oracle_ids(first), _oracle_ids(late)]


def test_snapshot_entities_parity(spark, tmp_path):
    """The backfill reads every landed envelope at once: per file, the
    same entities the batch parse gives, and a malformed file as one
    entity-null row instead of a failed job."""
    snap1 = RAW_JSON
    snap2 = _envelope(FIXTURE["entity"][2:])
    _land(tmp_path, "s1.json", snap1, 1)
    _land(tmp_path, "s2.json", snap2, 2)
    _land(tmp_path, "s3.json", "{broken", 3)
    _land(tmp_path, "notes.txt", RAW_JSON, 4)  # not an envelope: ignored

    rows = gtfs.snapshot_entities(spark, str(tmp_path)).collect()
    by_snap = {}
    for r in rows:
        by_snap.setdefault(r["snapshot"], []).append(r)
    assert set(by_snap) == {"s1.json", "s2.json", "s3.json"}
    for name, raw in (("s1.json", snap1), ("s2.json", snap2)):
        batch = gtfs.entities_from_json(spark, raw).collect()
        assert sorted((r["idx"], r["entity"]) for r in by_snap[name]) == sorted(
            (r["idx"], r["entity"]) for r in batch
        )
        assert len(batch) == len(json.loads(raw)["entity"])
    assert [r["entity"] for r in by_snap["s3.json"]] == [None]
