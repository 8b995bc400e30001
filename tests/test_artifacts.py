"""Unit tests for the derived-artifact store (artifacts.py): layout,
atomic publish and guarded reads. They build their inputs with
createDataFrame and read no table data, so CI's smoke step runs this
file."""

from __future__ import annotations

from etl_wlg_metlink_spark import artifacts


def test_artifact_write_is_atomic_publish(spark, tmp_path, monkeypatch):
    """artifacts._write publishes via write-temp-then-rename: a
    completed artifact at the final path is NEVER clobbered by a
    racing second writer (loser discards — deterministic pipelines
    make the bytes interchangeable), crashed-writer debris at the
    final path (dir without _SUCCESS) is cleared and replaced, and no
    temp dirs survive any outcome."""
    import os

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    path = artifacts._path("race_demo", "k1")

    first = spark.createDataFrame([(1, "winner")], "id long, tag string")
    artifacts._write(first, path)
    assert artifacts._exists(path)

    # racing second writer loses: the completed artifact stands
    second = spark.createDataFrame([(2, "loser")], "id long, tag string")
    artifacts._write(second, path)
    assert [tuple(r) for r in artifacts._read(spark, path).collect()] == [
        (1, "winner")
    ]

    # crashed-writer debris (dir present, no _SUCCESS) is replaced
    debris = artifacts._path("race_demo", "k2")
    os.makedirs(debris)
    with open(os.path.join(debris, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    assert not artifacts._exists(debris)
    artifacts._write(second, debris)
    assert artifacts._exists(debris)
    assert [tuple(r) for r in artifacts._read(spark, debris).collect()] == [
        (2, "loser")
    ]

    # no temp or debris dirs survive in the store
    kind_dir = os.path.dirname(path)
    assert not [
        d for d in os.listdir(kind_dir) if ".tmp-" in d or ".debris-" in d
    ]


def test_artifact_debris_race_never_destroys_complete_copy(
    spark, tmp_path, monkeypatch
):
    """The crashed-debris fallback must move the final path ASIDE,
    never rmtree it — if a racing writer publishes a COMPLETE artifact
    between the exists check and the cleanup, and
    the cleaning writer then crashes before its own rename, the
    complete copy must still exist somewhere recoverable. Simulated by
    a stale exists check (returns False though a complete artifact
    stands) plus renames to the final path that always fail (the crash
    window); with the old rmtree fallback the complete artifact's
    bytes would be gone entirely."""
    import os

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    path = artifacts._path("race_demo", "k3")
    complete = spark.createDataFrame([(7, "keep")], "id long, tag string")
    artifacts._write(complete, path)
    assert artifacts._exists(path)

    real_exists = artifacts._exists
    state = {"stale": True}

    def stale_exists(p):
        if state["stale"] and p == path:
            state["stale"] = False  # one stale read, then truth
            return False
        return real_exists(p)

    real_rename = os.rename

    def crashing_rename(src, dst):
        if dst == path:
            raise OSError("simulated crash window")
        return real_rename(src, dst)

    monkeypatch.setattr(artifacts, "_exists", stale_exists)
    monkeypatch.setattr(artifacts.os, "rename", crashing_rename)
    second = spark.createDataFrame([(7, "keep")], "id long, tag string")
    artifacts._write(second, path)  # must not raise, must not destroy
    monkeypatch.undo()
    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))

    # the complete artifact's bytes survive — at the final path or at
    # a moved-aside debris sibling (recoverable), never deleted
    kind_dir = os.path.dirname(path)
    survivors = [
        os.path.join(kind_dir, d)
        for d in os.listdir(kind_dir)
        if artifacts._exists(os.path.join(kind_dir, d))
    ]
    assert survivors, "complete artifact was destroyed by the fallback"
    rows = [
        tuple(r) for r in artifacts._read(spark, survivors[0]).collect()
    ]
    assert rows == [(7, "keep")]


def test_artifact_key_includes_format_version(spark, tmp_path, monkeypatch):
    """The storage digest folds in a per-kind format version, so a
    build that changes an artifact's schema/semantics
    (version bump) can never be served an old-build artifact under the
    same data fingerprint — the old path simply stops resolving and
    the consumer re-mines."""
    import os

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    p_v1 = artifacts._path("ivf_index", ("fp", 40))
    monkeypatch.setitem(artifacts.FORMAT_VERSIONS, "ivf_index", 2)
    p_v2 = artifacts._path("ivf_index", ("fp", 40))
    assert p_v1 != p_v2  # version is part of the identity
    assert os.path.dirname(p_v1) == os.path.dirname(p_v2)  # same kind dir

    # kinds are part of the digest too: same key, different kind,
    # never the same leaf digest (defense against cross-kind aliasing)
    q = artifacts._path("cc_labels", ("fp", 40))
    assert os.path.basename(q) != os.path.basename(artifacts._path("ivf_index", ("fp", 40)))

    # end-to-end: an artifact published under v1 is invisible after a
    # bump — the old copy stays as unreachable garbage, nothing serves
    monkeypatch.setitem(artifacts.FORMAT_VERSIONS, "ivf_index", 1)
    art = spark.createDataFrame([(0, 1, [0.0], 1.0)],
                                "pos int, seed_id long, cent array<double>, cnorm double")
    artifacts._write(art, artifacts._path("ivf_index", ("fp", 40)))
    assert artifacts._exists(artifacts._path("ivf_index", ("fp", 40)))
    monkeypatch.setitem(artifacts.FORMAT_VERSIONS, "ivf_index", 2)
    assert not artifacts._exists(artifacts._path("ivf_index", ("fp", 40)))


def test_artifact_store_concurrent_writer_reader_storm(
    spark, tmp_path, monkeypatch
):
    """Probabilistic companion to the deterministic race pins above:
    several writers republish the same key while readers hammer the
    exists->read path. The atomic-publish contract is that a reader
    either gets the complete artifact's exact rows or an exception it
    falls through on — NEVER silently wrong/partial bytes — and a
    complete artifact stands at the end."""
    import threading

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path / "store"))
    path = artifacts._path("storm", "k1")
    rows_in = [(i, f"t{i}") for i in range(20)]
    df = spark.createDataFrame(rows_in, "id long, tag string")
    expected = sorted(rows_in)
    wrong: list = []
    done = threading.Event()

    def writer():
        for _ in range(4):
            artifacts._write(df, path)

    def reader():
        while not done.is_set():
            if not artifacts._exists(path):
                continue
            try:
                got = sorted(
                    tuple(r) for r in artifacts._read(spark, path).collect()
                )
            except Exception:
                continue  # guarded consumers fall through to recompute
            if got != expected:
                wrong.append(got)
                return

    writers = [threading.Thread(target=writer) for _ in range(3)]
    readers = [threading.Thread(target=reader) for _ in range(3)]
    for t in readers + writers:
        t.start()
    for t in writers:
        t.join()
    done.set()
    for t in readers:
        t.join()

    assert not wrong, f"reader observed wrong bytes: {wrong[:1]}"
    assert artifacts._exists(path)
    final = sorted(tuple(r) for r in artifacts._read(spark, path).collect())
    assert final == expected


def test_fingerprint_fails_closed_on_unlistable_subdir(tmp_path, monkeypatch):
    """A subdirectory that cannot be listed must not silently drop out
    of the key: a truncated key would be cacheable and could alias two
    data states."""
    import os

    table = tmp_path / "t"
    for k in (1, 2):
        (table / f"k={k}").mkdir(parents=True)
        (table / f"k={k}" / "part-0.parquet").write_bytes(b"x")
    assert artifacts._path("ivf_index", artifacts.fingerprint(str(table)))

    unlistable = os.path.realpath(table / "k=2")
    real_scandir = os.scandir

    def scandir(path="."):
        if os.fspath(path) == unlistable:
            raise PermissionError(13, "Permission denied", path)
        return real_scandir(path)

    monkeypatch.setattr(os, "scandir", scandir)
    assert artifacts._path("ivf_index", artifacts.fingerprint(str(table))) is None
