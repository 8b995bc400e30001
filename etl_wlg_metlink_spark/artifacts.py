"""Derived-artifact store: the one place a derived relation is found,
read, mined and published.

The engine derives five relations from its tables and reuses them
across lanes, sessions and processes: ``minhash_hashed`` (the shingle
hash arrays), ``ivf_index`` (the trained coarse quantizer),
``verified_pairs`` (LSH-verified near-dup pairs), ``cc_labels``
(their connected-component labels) and ``bm25_ranked`` (l56's ranked
run). Each is mined once, published to parquet, and served to every
later consumer from storage, which is how a production pipeline keeps
its manifests (S3/HDFS there, a local dir here): the store survives
restarts, is shared across sessions, and its rows never transit the
driver. Every miner is deterministic, so a served artifact is
byte-identical to mining it again.

The one entry point is ``get_or_mine``. Its rules hold for every kind:

- **Layout.** ``<ROOT>/<kind>/<md5((kind, format_version, key))>``,
  one parquet dir per artifact plus a ``_schema.json`` sidecar. The
  key is the source data's ``fingerprint``, so any byte-level change
  to the data re-mines instead of serving a stale artifact. The format
  version makes an artifact written by an older build unreachable
  after a schema or semantics change.
- **Fail closed.** A fingerprint that cannot be taken yields a key
  that is never stored, never memoized and never served.
- **Atomic publish.** An artifact is written to a temp sibling and
  renamed into place once complete, so a reader never sees a partial
  artifact, and a crashed writer's debris is moved aside, never
  deleted in place.
- **Exact, guarded reads.** The sidecar makes a read type-exact, and a
  read raises on any inconsistency. A failed read writes one JSON line
  to stderr and the relation is mined again: the fallback degrades,
  never silently.
- **Uniform serving.** A freshly mined artifact is served from the
  store like a warm one; ``serve`` gives each kind its shape.
- **Memo and counters.** What was served is memoized per
  (Spark application, kind, path), and ``COUNTS`` tallies hits,
  misses and read failures per kind.

Reads are lazy: clearing the store while a query over a served
artifact runs fails that query. ``bench.py`` clears only before it
builds any plan.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import uuid
from collections import Counter
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_wlg_metlink_spark.session import scratch_root

#: Store root: $SPARK_GRAFT_ARTIFACT_DIR, else under the fastest local
#: scratch (tmpfs locally, NVMe on a cluster node).
ROOT = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR") or os.path.join(
    scratch_root() or tempfile.gettempdir(), "spark_graft_artifacts"
)

#: Per-kind format version, folded into the digest; a kind not listed
#: is version 1. Bump a kind's version on any change to its schema or
#: meaning.
FORMAT_VERSIONS: dict[str, int] = {}

#: ``"<kind>.hit"`` (served without mining), ``"<kind>.miss"`` (mined)
#: and ``"<kind>.read_failed"`` counts for this process.
COUNTS: Counter = Counter()

_MEMO: dict = {}


def fingerprint(path: str, n: int = 0) -> tuple:
    """Source-data key ``(realpath, files, n)``: ``files`` is the
    sorted (relpath, size, mtime_ns) of every data file under
    ``path``, so a rewrite in place or another spelling of the same
    path cannot alias two data states. On any OSError the middle
    element is a fresh ``object()``: the key equals no other key and
    is never stored."""
    rp = os.path.realpath(path)
    stats = []
    try:
        if os.path.isdir(rp):
            for root, dirs, files in os.walk(rp):
                dirs[:] = sorted(d for d in dirs if not d.startswith("."))
                for f in sorted(files):
                    if f.startswith((".", "_")):
                        continue
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    stats.append(
                        (os.path.relpath(p, rp), st.st_size, st.st_mtime_ns)
                    )
        else:
            st = os.stat(rp)
            stats.append((os.path.basename(rp), st.st_size, st.st_mtime_ns))
    except OSError:
        return (rp, object(), n)
    return (rp, tuple(stats), n)


def _path(kind: str, key) -> str | None:
    """Store path of ``kind`` under ``key``, or None when the key holds
    anything but str/int/float/bool values and tuples of them (no key,
    or a fail-closed fingerprint)."""

    def cacheable(k) -> bool:
        if isinstance(k, tuple):
            return all(cacheable(x) for x in k)
        return isinstance(k, (str, int, float, bool))

    if not cacheable(key):
        return None
    versioned = (kind, FORMAT_VERSIONS.get(kind, 1), key)
    digest = hashlib.md5(repr(versioned).encode("utf-8")).hexdigest()
    return os.path.join(ROOT, kind, digest)


def _exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(
        os.path.join(path, "_schema.json")
    )


def _write(df: DataFrame, path: str) -> None:
    """Publish ``df`` at ``path`` with its schema sidecar; a failure
    leaves nothing published and never fails the query.

    The parquet and sidecar land in a temp sibling that is renamed to
    ``path`` only once complete. If two miners race, the rename loser
    discards its copy: the bytes are interchangeable. Debris of a
    crashed writer at ``path`` (a dir that is not a complete artifact)
    is renamed aside and the publish retried; it is never deleted in
    place, because a racing writer may have completed it after the
    check, and it is dropped only once a complete artifact stands. On
    an object store without atomic rename the same publish-last rule
    becomes a manifest written after the data keys."""
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex}"
    try:
        df.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_schema.json"), "w") as f:
            f.write(df.schema.json())
        try:
            os.rename(tmp, path)
        except OSError:
            if _exists(path):  # a concurrent writer won
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                debris = f"{path}.debris-{os.getpid()}-{uuid.uuid4().hex}"
                try:
                    os.rename(path, debris)
                except OSError:
                    debris = None  # a sibling writer moved it first
                try:
                    os.rename(tmp, path)
                except OSError:
                    # a complete artifact was published in the gap
                    shutil.rmtree(tmp, ignore_errors=True)
                if debris and _exists(path):
                    shutil.rmtree(debris, ignore_errors=True)
    except Exception:  # storage unavailable: nothing published
        shutil.rmtree(tmp, ignore_errors=True)


def _read(spark: SparkSession, path: str) -> DataFrame:
    """Read a published artifact with its sidecar schema (nullability
    widens to nullable, as every parquet scan reads). Raises on a
    missing or corrupt sidecar, a vanished path, or a dir without a
    parquet part file: Spark would scan that last case as a silently
    empty DataFrame, and a complete artifact always has one, even
    with zero rows."""
    from pyspark.sql.types import StructType

    with open(os.path.join(path, "_schema.json")) as f:
        schema = StructType.fromJson(json.load(f))
    if not any(
        name.endswith(".parquet") and not name.startswith((".", "_"))
        for name in os.listdir(path)
    ):
        raise FileNotFoundError(f"artifact at {path} has no data files")
    return spark.read.schema(schema).parquet(path)


def get_or_mine(
    spark: SparkSession, kind: str, key, mine: Callable[[], DataFrame],
    serve: Callable[[DataFrame, str | None], Any] = lambda df, path: df,
) -> Any:
    """The ``kind`` artifact for ``key``: the memoized result, else the
    stored artifact, else ``mine()`` published and read back.

    ``serve(df, path)`` turns what was read from ``path`` into what the
    consumers get. It receives the mined DataFrame itself, with
    ``path`` None, when the artifact could not be stored or read back.
    """
    path = _path(kind, key)
    if path is None:
        COUNTS[f"{kind}.miss"] += 1
        return serve(mine(), None)
    memo = (spark.sparkContext.applicationId, kind, path)
    mined = None
    if memo not in _MEMO:
        if not _exists(path):
            _write(mined := mine(), path)
        try:
            _MEMO[memo] = serve(_read(spark, path), path)
        except Exception as exc:
            COUNTS[f"{kind}.read_failed"] += 1
            print(json.dumps({"event": "artifact_read_failed", "kind": kind,
                              "path": path, "error": type(exc).__name__}),
                  file=sys.stderr)
            if mined is None:
                mined = mine()
            _MEMO[memo] = serve(mined, None)
    COUNTS[f"{kind}.{'hit' if mined is None else 'miss'}"] += 1
    return _MEMO[memo]


def clear(remove_persisted: bool = False) -> None:
    """Drop every memoized artifact; with ``remove_persisted`` delete
    the on-disk store too, so the next consumer mines cold (bench.py
    does so before each cold pass, making its numbers independent of
    lane order and of what an earlier process left)."""
    _MEMO.clear()
    if remove_persisted:
        shutil.rmtree(ROOT, ignore_errors=True)
