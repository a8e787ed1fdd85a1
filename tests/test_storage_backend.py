"""Storage-backend conformance contract.

Every backend behind the Collection seam (syzgydb_spark/storage.py)
must pass THIS suite — it pins the format-independent semantics the
mutation loops rely on: atomic visibility, the version CAS over the
whole read-merge-write span, staged-file invisibility on conflict,
vacuum's grace contract, and history/time-travel. The suite is
parameterized over every backend importable in the environment:
ManifestBackend always; DeltaBackend automatically joins wherever
``import delta`` succeeds (docs/DELTA.md maps each operation).

These tests talk to the backend INTERFACE directly (not through
Collection) — Collection-level behavior is covered by test_storage /
test_collection / test_concurrency, which all run through the seam.
"""

import os
import time

import pytest
from pyspark.sql import functions as F

from syzgydb_spark.storage import (
    FaultInjectingBackend,
    ManifestBackend,
    ManifestConflictError,
    SqliteCatalogBackend,
)

# "delta-sim" is the Delta-semantics simulator (losers leave orphans,
# VACUUM RETAIN keyed on mtime alone, partition-level conflicts, the
# ConcurrentModificationException mapping) — the executable stand-in
# for the env-gated DeltaBackend; see tests/test_delta_sim.py for the
# Delta-specific fault scenarios beyond this shared contract.
BACKENDS = ["manifest", "sqlite", "delta-sim"]
try:  # pragma: no cover - env-dependent
    import delta  # noqa: F401

    BACKENDS.append("delta")
except ImportError:
    pass


def _make(kind, path, spark, **kw):
    if kind == "manifest":
        return ManifestBackend(path, **kw)
    if kind == "sqlite":
        return SqliteCatalogBackend(path, **kw)
    if kind == "delta-sim":
        return FaultInjectingBackend(path, **kw)
    from syzgydb_spark.storage import DeltaBackend  # pragma: no cover

    return DeltaBackend(spark, path, **kw)  # pragma: no cover


@pytest.fixture(params=BACKENDS)
def backend(request, tmp_path, spark):
    b = _make(request.param, str(tmp_path / "tbl"), spark)
    os.makedirs(b.path, exist_ok=True)
    b.initialize()
    return b


def _df(spark, rows):
    """Minimal committed layout: id + bucket + one payload column."""
    return spark.createDataFrame(
        [(i, b, f"p{i}") for i, b in rows], "id LONG, bucket INT, payload STRING"
    )


def _read_ids(spark, backend, manifest=None, buckets=None):
    paths = backend.data_paths(manifest or backend.read_manifest(), buckets)
    if not paths:
        return []
    df = spark.read.option("basePath", backend.data_dir()).parquet(*paths)
    return sorted(r["id"] for r in df.select("id").collect())


def test_initialize_is_empty_v1(backend):
    man = backend.read_manifest()
    assert man["version"] == 1
    assert man["buckets"] == {}
    assert backend.data_paths(man) == []
    assert backend.history() == [1]


def test_commit_is_atomic_and_bucket_scoped(backend, spark):
    man = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0), (2, 1)]), [0, 1], man)
    man2 = backend.read_manifest()
    assert man2["version"] == man["version"] + 1
    assert _read_ids(spark, backend) == [1, 2]
    # bucket-scoped listing: a point mutation must not open other
    # buckets' footers
    assert _read_ids(spark, backend, buckets=[0]) == [1]
    # replace only bucket 0; bucket 1's file list must be unchanged
    before_b1 = man2["buckets"]["1"]
    backend.commit_buckets(_df(spark, [(7, 0)]), [0], man2)
    man3 = backend.read_manifest()
    assert man3["buckets"]["1"] == before_b1
    assert _read_ids(spark, backend) == [2, 7]


def test_cas_guards_the_read_merge_write_span(backend, spark):
    """A commit built against a stale snapshot must fail, and its
    staged files must never become visible."""
    base = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0)]), [0], base)  # advances
    with pytest.raises(ManifestConflictError):
        backend.commit_buckets(_df(spark, [(9, 0)]), [0], base)  # stale
    # the loser's rows are invisible and the winner's intact
    assert _read_ids(spark, backend) == [1]
    # the loser's staged files do not survive as permanent garbage
    backend.vacuum(grace_seconds=0)
    assert _read_ids(spark, backend) == [1]


def test_empty_bucket_drops_from_manifest(backend, spark):
    man = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0), (2, 1)]), [0, 1], man)
    man2 = backend.read_manifest()
    # delete-all in bucket 0: commit an empty relation for it
    empty = _df(spark, []).where(F.lit(False))
    backend.commit_buckets(empty, [0], man2)
    man3 = backend.read_manifest()
    assert "0" not in man3["buckets"]
    assert _read_ids(spark, backend) == [2]


def test_vacuum_grace_protects_inflight_commits(backend, spark, tmp_path):
    """The format-independent clause: a file that could be another
    process's staged-not-yet-committed work must NEVER be reclaimed
    inside the grace window, and every unreferenced file must be
    reclaimable once aged past it. The bespoke backends additionally
    reclaim behind-version crash debris immediately (the ``v{N}-``
    version-ahead heuristic); the Delta simulator keys retention on
    mtime ALONE (``VACUUM RETAIN`` — docs/DELTA.md: the version
    heuristic "simply disappears"), so fresh debris survives until it
    ages. Both policies satisfy the safety clause."""
    man = backend.read_manifest()
    backend.commit_buckets(_df(spark, [(1, 0)]), [0], man)
    bdir = os.path.join(backend.data_dir(), "bucket=0")
    live = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
    src = os.path.join(bdir, live[0])
    future = os.path.join(bdir, "v999-inflight.parquet")
    stale = os.path.join(bdir, "v1-crashdebris.parquet")
    import shutil

    shutil.copy(src, future)
    shutil.copy(src, stale)
    mtime_only = isinstance(backend, FaultInjectingBackend)
    # safety: the possibly-in-flight file survives a vacuum inside grace
    assert backend.vacuum(grace_seconds=3600) == (0 if mtime_only else 1)
    assert os.path.exists(future)
    assert os.path.exists(stale) == mtime_only  # version heuristic reclaims it
    # age everything past the window -> all unreferenced files reclaimable
    old = time.time() - 7200
    os.utime(future, (old, old))
    if os.path.exists(stale):
        os.utime(stale, (old, old))
    assert backend.vacuum(grace_seconds=3600) == (2 if mtime_only else 1)
    assert not os.path.exists(future) and not os.path.exists(stale)
    assert _read_ids(spark, backend) == [1]


@pytest.mark.parametrize("kind", [k for k in BACKENDS if k != "delta"])
def test_history_and_time_travel(tmp_path, spark, kind):
    b = _make(kind, str(tmp_path / "hist"), spark, retain_history=True)
    os.makedirs(b.path, exist_ok=True)
    b.initialize()
    m1 = b.read_manifest()
    b.commit_buckets(_df(spark, [(1, 0)]), [0], m1)
    m2 = b.read_manifest()
    b.commit_buckets(_df(spark, [(2, 0)]), [0], m2)
    assert b.history() == [1, 2, 3]
    # every retained version stays readable
    assert _read_ids(spark, b, manifest=b.manifest_at(2)) == [1]
    assert _read_ids(spark, b, manifest=b.manifest_at(3)) == [2]
    with pytest.raises(KeyError):
        b.manifest_at(99)
    # retained files are vacuum-protected until history is dropped
    assert b.vacuum(grace_seconds=0) == 0
    b.drop_history_except({3})
    assert b.history() == [3]
    assert b.vacuum(grace_seconds=0) == 1  # v2's replaced file
    assert _read_ids(spark, b) == [2]


def test_collection_runs_on_sqlite_backend(tmp_path, spark):
    """Collection end-to-end through the sqlite catalog: create →
    upsert → search → point update → reopen → vacuum. The seam means
    NO Collection code changes — only options.storage_backend."""
    import json

    from syzgydb_spark.collection import Collection, CollectionOptions

    path = str(tmp_path / "sq")
    c = Collection.create(
        spark, path,
        CollectionOptions(
            name="sq", dimension_count=2, n_buckets=4, storage_backend="sqlite"
        ),
    )
    c.add_documents(
        [(i, [float(i), 0.0], json.dumps({"s": i})) for i in range(30)]
    )
    got = c.search([3.0, 0.0], k=3).collect()
    assert [r["id"] for r in got] == [3, 2, 4]
    c.add_documents([(3, [100.0, 0.0], json.dumps({"s": -1}))])  # upsert
    assert [r["id"] for r in c.search([3.0, 0.0], k=3).collect()] == [2, 4, 1]
    c2 = Collection.open(spark, path)                            # reopen
    assert c2.options.storage_backend == "sqlite"
    assert c2.count() == 30
    assert os.path.exists(os.path.join(path, "catalog.db"))
    assert not os.path.exists(os.path.join(path, "manifest.json"))
    assert c2.storage.vacuum(grace_seconds=0) == 0               # nothing leaks


def test_flip_fn_interception_guards_real_commit_path(backend, spark):
    """The publish step must route through the caller-supplied flip_fn
    (Collection passes its own _flip_manifest so tests can intercept
    the real commit path); a flip_fn that loses the CAS must leave no
    visible rows."""
    calls = []
    man = backend.read_manifest()

    def flip(manifest, *, expected_version=None):
        calls.append(manifest["version"])
        backend.flip_manifest(manifest, expected_version=expected_version)

    backend.commit_buckets(_df(spark, [(5, 0)]), [0], man, flip_fn=flip)
    assert calls == [man["version"] + 1]
    assert _read_ids(spark, backend) == [5]


def _land_file(backend, bucket, name):
    """Put a committed-looking data file in place (vacuum only looks
    at names, references and mtimes, never at file contents)."""
    d = os.path.join(backend.data_dir(), f"bucket={bucket}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "wb") as f:
        f.write(b"x")
    return os.path.join(d, name)


def test_vacuum_reads_live_set_and_version_from_one_snapshot(tmp_path, monkeypatch):
    """Deterministic replay of the vacuum-vs-commit race: vacuum's
    manifest reads see v1, then v2 (a commit landed in between). Taking
    the referenced set from v1 and the live version from v2 left v2's
    new file neither referenced nor ahead of the live version, so it
    was deleted while the live manifest named it."""
    b = ManifestBackend(str(tmp_path / "tbl"))
    os.makedirs(b.path)
    b.initialize()
    _land_file(b, 0, "v1-part-a.parquet")
    committed = _land_file(b, 0, "v2-part-b.parquet")
    v1 = {"version": 1, "buckets": {"0": ["v1-part-a.parquet"]}}
    v2 = {"version": 2, "buckets": {"0": ["v2-part-b.parquet"]}}
    reads = iter([v1])
    monkeypatch.setattr(b, "read_manifest", lambda: next(reads, v2))
    b.vacuum(grace_seconds=60)
    assert os.path.exists(committed), "vacuum deleted a committed file"


def test_vacuum_spares_commit_landing_mid_vacuum(backend):
    """Every backend: a commit that lands while vacuum runs (right
    after vacuum has read which files are referenced) keeps every file
    its manifest names."""
    _land_file(backend, 0, "v2-part-a.parquet")
    backend.flip_manifest(
        {"version": 2, "buckets": {"0": ["v2-part-a.parquet"]}}, expected_version=1
    )
    orig = backend.referenced_files
    landed = []

    def referenced_then_commit(*args):
        refs = orig(*args)
        if not landed:
            landed.append(_land_file(backend, 0, "v3-part-b.parquet"))
            backend.flip_manifest(
                {"version": 3, "buckets": {"0": ["v3-part-b.parquet"]}},
                expected_version=2,
            )
        return refs

    backend.referenced_files = referenced_then_commit
    backend.vacuum(grace_seconds=60)
    assert landed
    live = backend.read_manifest()
    assert live["version"] == 3
    for fname in live["buckets"]["0"]:
        assert os.path.exists(os.path.join(backend.data_dir(), "bucket=0", fname))
