"""Small-file compaction + snapshot time travel.

The reference reclaims replaced spans eagerly (spanfile free-span
reuse, /root/reference/spanfile.go:282-357) and keeps no versions;
these are Spark-native storage-maturity extensions in the same
Delta-like idiom the manifest protocol already follows: compaction
merges the several files per bucket that older versions of the
library left (every commit now writes one file per touched bucket, so
the fixture publishes the extra files itself), and ``retain_history``
keeps every version's manifest + files readable via
``snapshot(version)`` until ``expire_history`` prunes them.
"""

import json
import os

import pytest

from syzgydb_spark.collection import Collection, CollectionOptions


def _files_per_bucket(coll):
    return {b: len(fs) for b, fs in coll._manifest()["buckets"].items()}


def _content(df):
    return sorted(
        (r["id"], tuple(round(x, 9) for x in r["vector"]), r["metadata"])
        for r in df.collect()
    )


def _publish_extra_files(c, rows, staging):
    """Add ``rows`` (new ids) as one more file in each bucket they hash
    to, beside the bucket's live files, and publish them through the
    backend's manifest CAS: the several-files-per-bucket layout that
    commits of older library versions left behind."""
    enc = c._encode(c.spark.createDataFrame(rows, c.SCHEMA_BASE))
    enc.coalesce(1).sortWithinPartitions("bucket", "id").write.partitionBy(
        "bucket"
    ).parquet(staging)
    man = c._manifest()
    version = man["version"] + 1
    buckets = {b: list(files) for b, files in man["buckets"].items()}
    for entry in os.listdir(staging):
        if not entry.startswith("bucket="):
            continue
        b = entry.split("=", 1)[1]
        dst_dir = os.path.join(c._data_dir(), entry)
        os.makedirs(dst_dir, exist_ok=True)
        for fname in os.listdir(os.path.join(staging, entry)):
            if fname.endswith(".parquet"):
                name = f"v{version}-{fname}"
                os.replace(
                    os.path.join(staging, entry, fname), os.path.join(dst_dir, name)
                )
                buckets.setdefault(b, []).append(name)
    c.storage.flip_manifest(
        {"version": version, "buckets": buckets}, expected_version=man["version"]
    )


@pytest.fixture()
def coll(spark, tmp_path):
    opts = CollectionOptions(name="c", dimension_count=3, n_buckets=4)
    c = Collection.create(spark, str(tmp_path / "c"), opts)
    # one commit, then two extra files per bucket → several files per bucket
    for lo in range(0, 60, 20):
        rows = [
            (i, [float(i), 0.0, 0.0], json.dumps({"i": i})) for i in range(lo, lo + 20)
        ]
        if lo == 0:
            c.add_documents(rows)
        else:
            _publish_extra_files(c, rows, str(tmp_path / f"staging{lo}"))
    return c


def test_compact_merges_files_and_preserves_content(coll):
    before_files = _files_per_bucket(coll)
    assert any(n > 1 for n in before_files.values()), "fixture should fragment"
    before = _content(coll.df())

    stats = coll.compact()

    after_files = _files_per_bucket(coll)
    assert all(n == 1 for n in after_files.values())
    assert stats["buckets_compacted"] == sum(1 for n in before_files.values() if n > 1)
    assert stats["files_before"] > stats["files_after"]
    assert _content(coll.df()) == before
    # eager-reclaim default: replaced files actually gone from disk
    data = coll._data_dir()
    on_disk = sum(
        len([f for f in os.listdir(os.path.join(data, e)) if f.endswith(".parquet")])
        for e in os.listdir(data)
        if e.startswith("bucket=")
    )
    assert on_disk == sum(after_files.values())


def test_compact_subset_and_noop(coll):
    coll.compact()
    # second run: nothing above one file
    assert coll.compact() == {
        "buckets_compacted": 0,
        "files_before": 0,
        "files_after": 0,
    }


def test_compacted_collection_still_mutates(coll):
    coll.compact()
    coll.remove([0, 1, 2])
    coll.update_metadata(10, json.dumps({"i": -1}))
    assert coll.count() == 57
    assert json.loads(coll.get(10)["metadata"])["i"] == -1


@pytest.fixture()
def hist_coll(spark, tmp_path):
    opts = CollectionOptions(
        name="h", dimension_count=3, n_buckets=4, retain_history=True
    )
    c = Collection.create(spark, str(tmp_path / "h"), opts)
    c.add_documents([(i, [float(i), 0.0, 0.0], None) for i in range(10)])  # v2
    c.add_documents([(i, [9.0, 9.0, 9.0], None) for i in range(5)])        # v3
    c.remove([7, 8, 9])                                                     # v4
    return c


def test_snapshot_reads_each_version(hist_coll):
    c = hist_coll
    assert c.history() == [1, 2, 3, 4]
    assert c.snapshot(1).count() == 0
    v2 = {r["id"]: r["vector"] for r in c.snapshot(2).collect()}
    assert set(v2) == set(range(10)) and v2[3] == [3.0, 0.0, 0.0]
    v3 = {r["id"]: r["vector"] for r in c.snapshot(3).collect()}
    assert v3[3] == [9.0, 9.0, 9.0] and v3[7] == [7.0, 0.0, 0.0]
    v4 = {r["id"] for r in c.snapshot(4).collect()}
    assert v4 == set(range(7))
    # live view == latest snapshot
    assert sorted(r["id"] for r in c.df().collect()) == sorted(v4)


def test_snapshot_unknown_version_raises(hist_coll):
    with pytest.raises(KeyError, match="not readable"):
        hist_coll.snapshot(99)


def test_expire_history_prunes_manifests_and_files(hist_coll):
    c = hist_coll
    removed = c.expire_history(keep_last=2)
    assert removed > 0, "older versions' replaced files should be deleted"
    assert c.history() == [3, 4]
    # surviving snapshots still read
    assert c.snapshot(3).count() == 10
    assert c.snapshot(4).count() == 7
    with pytest.raises(KeyError):
        c.snapshot(2)
    # live content untouched
    assert c.count() == 7


def test_vacuum_keeps_history_but_drops_orphans(hist_coll, tmp_path):
    c = hist_coll
    # plant a crash orphan: a renamed-in file no manifest references
    bdir = os.path.join(c._data_dir(), "bucket=0")
    os.makedirs(bdir, exist_ok=True)
    orphan = os.path.join(bdir, "v99-part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not a real parquet")
    # a FRESH future-version file could be another process's in-flight
    # commit: the default grace window protects it
    assert c.vacuum() == 0
    assert os.path.exists(orphan)
    # aged past the window it is crash debris and gets reclaimed
    os.utime(orphan, (0, 0))
    assert c.vacuum() == 1
    assert not os.path.exists(orphan)
    # every retained snapshot still reads after vacuum
    for v in c.history():
        c.snapshot(v).count()


def test_history_off_keeps_single_version(coll):
    # default collections: no _history dir, snapshot only of live
    assert coll.history() == [coll._manifest()["version"]]
    assert not os.path.isdir(coll._history_dir())
    live = coll._manifest()["version"]
    assert coll.snapshot(live).count() == 60
    with pytest.raises(KeyError):
        coll.snapshot(live - 1)


def test_changes_between_versions(hist_coll):
    """CDC over time travel: v2 (ids 0-9 original) → v4 (0-4 updated,
    7-9 deleted) yields exactly those changes with the right images."""
    c = hist_coll
    ch = {r["id"]: r for r in c.changes_between(2, 4).collect()}
    assert {i for i, r in ch.items() if r["change"] == "update"} == set(range(5))
    assert {i for i, r in ch.items() if r["change"] == "delete"} == {7, 8, 9}
    assert len(ch) == 8  # ids 5, 6 unchanged → absent
    assert ch[3]["vector"] == [9.0, 9.0, 9.0]      # after image
    assert ch[8]["vector"] == [8.0, 0.0, 0.0]      # before image (delete)
    # inserts: v1 (empty) → v2
    ins = c.changes_between(1, 2).collect()
    assert all(r["change"] == "insert" for r in ins) and len(ins) == 10
    # self-diff is empty; reversed diff flips insert/delete
    assert c.changes_between(4, 4).count() == 0
    rev = {r["id"]: r["change"] for r in c.changes_between(4, 2).collect()}
    assert {i for i, ch_ in rev.items() if ch_ == "insert"} == {7, 8, 9}


def test_model_based_random_history(spark, tmp_path):
    """Model-based check of the full storage stack: a random CRUD +
    compact sequence runs against both the Collection and a plain
    Python dict model snapshotted per version; every retained
    snapshot, the live view, and every adjacent-version CDC diff must
    match the model exactly."""
    import random

    rng = random.Random(17)
    opts = CollectionOptions(
        name="m", dimension_count=2, n_buckets=4, retain_history=True
    )
    c = Collection.create(spark, str(tmp_path / "m"), opts)
    model: dict[int, tuple] = {}
    history = {1: {}}

    def snap():
        history[c._manifest()["version"]] = dict(model)

    # an offline 5-seed x 25-step x both-retain-modes sweep of this
    # model (plus reopen-from-disk) ran clean with the same op mix
    for step in range(12):
        op = rng.choice(
            ["upsert", "upsert", "remove", "update", "compact", "vacuum", "expire"]
        )
        if op == "upsert":
            rows = [
                (i, [float(i), float(step)], json.dumps({"s": step}))
                for i in rng.sample(range(30), rng.randint(1, 6))
            ]
            c.add_documents(rows)
            for i, v, m in rows:
                model[i] = (tuple(v), m)
            snap()
        elif op == "remove" and model:
            ids = rng.sample(sorted(model), min(len(model), rng.randint(1, 3)))
            c.remove(ids)
            for i in ids:
                model.pop(i)
            snap()
        elif op == "update" and model:
            i = rng.choice(sorted(model))
            m = json.dumps({"u": step})
            c.update_metadata(i, m)
            model[i] = (model[i][0], m)
            snap()
        elif op == "compact":
            c.compact()  # content-neutral; may or may not bump version
            snap()
        elif op == "vacuum":
            c.vacuum()  # content-neutral, version-neutral
        elif op == "expire":
            c.expire_history(keep_last=rng.randint(2, 4))

    def as_dict(df):
        return {
            r["id"]: (tuple(round(x, 9) for x in r["vector"]), r["metadata"])
            for r in df.collect()
        }

    # live view matches the model
    assert as_dict(c.df()) == model
    # every retained snapshot matches its recorded model state
    for v in c.history():
        if v in history:
            assert as_dict(c.snapshot(v)) == history[v], f"version {v}"
    # CDC between consecutive recorded versions matches the model diff
    versions = sorted(vv for vv in history if vv in set(c.history()))
    for va, vb in zip(versions, versions[1:]):
        a, b = history[va], history[vb]
        expect = {}
        for i in set(a) | set(b):
            if i not in a:
                expect[i] = "insert"
            elif i not in b:
                expect[i] = "delete"
            elif a[i] != b[i]:
                expect[i] = "update"
        got = {
            r["id"]: r["change"] for r in c.changes_between(va, vb).collect()
        }
        assert got == expect, f"diff {va}->{vb}"


def test_concurrent_compact_and_upsert(spark, tmp_path):
    """compact() racing add_documents: both commits must survive (the
    lock + per-attempt snapshot CAS serialize them), and the final
    content is exactly base ∪ upsert."""
    import threading

    opts = CollectionOptions(name="cc", dimension_count=2, n_buckets=4)
    c = Collection.create(spark, str(tmp_path / "cc"), opts)
    for lo in range(0, 40, 10):
        c.add_documents([(i, [float(i), 0.0], None) for i in range(lo, lo + 10)])

    barrier = threading.Barrier(2)
    errors = []

    def do_compact():
        try:
            barrier.wait(timeout=30)
            c.compact()
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def do_upsert():
        try:
            barrier.wait(timeout=30)
            c.add_documents([(i, [9.9, 9.9], None) for i in range(100, 110)])
        except Exception as e:  # pragma: no cover
            errors.append(e)

    t1 = threading.Thread(target=do_compact)
    t2 = threading.Thread(target=do_upsert)
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors
    ids = set(c.get_all_ids())
    assert ids == set(range(40)) | set(range(100, 110))


# ---- zone-map clustering (row-group stats the scans prune on) ----


def _rowgroup_stats(path, col):
    """(min, max) per row group for ``col`` from parquet footers."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.row_group(0).column(i).path_in_schema: i
           for i in range(md.row_group(0).num_columns)}[col]
    out = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        out.append((st.min, st.max))
    return out


def test_bucket_files_are_id_sorted(coll):
    """Every live file's row groups are internally id-ordered (the
    task-local sort), so id point lookups prune on footer stats."""
    man = coll._manifest()
    for b, files in man["buckets"].items():
        for fname in files:
            p = os.path.join(coll._data_dir(), f"bucket={b}", fname)
            stats = _rowgroup_stats(p, "id")
            for (lo, hi) in stats:
                assert lo <= hi
            # consecutive row groups don't interleave
            for (_, hi), (lo2, _) in zip(stats, stats[1:]):
                assert hi <= lo2


def test_ivf_reindex_clusters_files_by_cell(spark, tmp_path):
    """After enable_ivf + compact, each bucket file is sorted by
    ivf_cell: with one row group per cell-run, a probe of n cells
    skips the rest of the file on min/max stats alone."""
    import numpy as np

    rng = np.random.default_rng(5)
    opts = CollectionOptions(name="c", dimension_count=4, n_buckets=2)
    c = Collection.create(spark, str(tmp_path / "zc"), opts)
    c.add_documents(
        [(i, rng.normal(size=4).tolist(), json.dumps({})) for i in range(400)]
    )
    c.enable_ivf(n_clusters=8, seed=1)
    c.compact()
    man = c._manifest()
    checked = 0
    for b, files in man["buckets"].items():
        assert len(files) == 1  # compacted
        p = os.path.join(c._data_dir(), f"bucket={b}", files[0])
        stats = _rowgroup_stats(p, "ivf_cell")
        for (_, hi), (lo2, _) in zip(stats, stats[1:]):
            assert hi <= lo2  # cell runs never interleave across groups
        # and the physical row order inside the file IS (cell, id) —
        # the property row-group stats derive from once groups split
        import pyarrow.parquet as pq

        tbl = pq.read_table(p, columns=["ivf_cell", "id"])
        pairs = list(zip(tbl["ivf_cell"].to_pylist(), tbl["id"].to_pylist()))
        assert pairs == sorted(pairs)
        checked += 1
    assert checked == 2
    # and the data is still correct end to end
    assert c.df().count() == 400


def test_id_bloom_filter_written_and_optional(spark, tmp_path):
    """Default-on parquet bloom filter on id: same data written with
    the option on vs off differs only by the bloom bytes (strictly
    larger files), point lookups stay correct, and the flag
    round-trips through the persisted config."""
    docs = [
        (i, [float(i), 0.0, 0.0], json.dumps({"i": i})) for i in range(500)
    ]

    def data_bytes(c):
        data = c._data_dir()
        return sum(
            os.path.getsize(os.path.join(data, e, f))
            for e in os.listdir(data)
            if e.startswith("bucket=")
            for f in os.listdir(os.path.join(data, e))
            if f.endswith(".parquet")
        )

    on = Collection.create(
        spark,
        str(tmp_path / "bloom_on"),
        CollectionOptions(name="on", dimension_count=3, n_buckets=2),
    )
    on.add_documents(docs)
    off = Collection.create(
        spark,
        str(tmp_path / "bloom_off"),
        CollectionOptions(
            name="off", dimension_count=3, n_buckets=2, id_bloom_filter=False
        ),
    )
    off.add_documents(docs)

    assert data_bytes(on) > data_bytes(off)
    # the bloom'd files read back correctly, incl. a point lookup
    row = on.get(123)
    assert row is not None and row["id"] == 123
    assert on.df().count() == 500
    # flag persists through reopen
    reopened = Collection.open(spark, str(tmp_path / "bloom_off"))
    assert reopened.options.id_bloom_filter is False
    reopened2 = Collection.open(spark, str(tmp_path / "bloom_on"))
    assert reopened2.options.id_bloom_filter is True
