"""Live-scan reuse per manifest snapshot.

``Collection.df()`` on the live path reads the manifest on every call
but builds the parquet scan (file listing + schema footer read, two
Spark jobs) only when the snapshot's bucket → file lists change. These
tests pin the three promises that makes: an unchanged collection
searches with its action's job alone, every commit (from this
instance or another one on the same path) is visible to the next
read, and concurrent readers get the same answers as sequential ones.
"""

import json
import sys
import threading

import pytest

from syzgydb_spark.collection import Collection, CollectionOptions


def _vec(i):
    return [float(i % 7), float(i % 5), float(i % 3), 1.0]


@pytest.fixture()
def coll(spark, tmp_path):
    c = Collection.create(
        spark,
        str(tmp_path / "reuse"),
        CollectionOptions(
            name="reuse", dimension_count=4, n_buckets=4, lsh={"num_tables": 2}
        ),
    )
    c.add_documents([(i, _vec(i), json.dumps({"i": i})) for i in range(120)])
    return c


def _jobs(spark, group, fn):
    """(result of fn(), Spark job ids fn ran) — jobs tagged via a job
    group, read after the listener bus has drained."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _ids(res):
    return [(r["id"], r["metadata"]) for r in res.collect()]


def test_second_search_runs_only_its_action(spark, coll):
    q = [3.0, 1.0, 0.0, 1.0]
    first, built = _jobs(
        spark, "reuse-build", lambda: coll.search(q, k=5, precision="exact")
    )
    # building the scan reads a parquet footer: the check below would
    # pass vacuously if construction never ran a job
    assert built, "scan construction ran no Spark job"
    for precision in ("exact", "medium"):
        res, planned = _jobs(
            spark,
            f"reuse-plan-{precision}",
            lambda: coll.search(q, k=5, precision=precision),
        )
        assert planned == [], f"{precision}: jobs before the action: {planned}"
        rows, ran = _jobs(spark, f"reuse-run-{precision}", lambda: _ids(res))
        assert len(ran) == 1, f"{precision}: {len(ran)} jobs for one search"
    assert _ids(first) == _ids(coll.search(q, k=5, precision="exact"))
    # count / get_all_ids / search_many read the same view
    assert coll.df() is coll.df()
    assert coll.count() == 120


def _check_writes_visible(reader, writer):
    q = [9.0, 9.0, 9.0, 1.0]  # no stored vector equals it
    reader.search(q, k=3, precision="exact").collect()  # fill the view
    assert reader.count() == 120

    writer.add_documents([(500, q, json.dumps({"new": True}))])
    top = reader.search(q, k=1, precision="exact").collect()
    assert [(r["id"], r["metadata"]) for r in top] == [(500, '{"new": true}')]
    assert reader.count() == 121
    assert 500 in reader.get_all_ids()

    writer.update_metadata(500, json.dumps({"new": False}))
    top = reader.search(q, k=1, precision="medium").collect()
    assert [(r["id"], r["metadata"]) for r in top] == [(500, '{"new": false}')]

    writer.remove([500, 0])
    ids = [r["id"] for r in reader.search(q, k=3, precision="exact").collect()]
    assert 500 not in ids
    assert reader.count() == 119
    assert 0 not in reader.get_all_ids()


def test_writes_through_same_instance_are_visible(coll):
    _check_writes_visible(coll, coll)


def test_writes_through_second_instance_are_visible(spark, coll):
    _check_writes_visible(coll, Collection.open(spark, coll.path))


def test_concurrent_searches_match_sequential(spark, coll):
    """More reader threads than cores, with a short switch interval,
    on an instance whose first view they all race to build: every
    thread gets exactly the sequential answers."""
    queries = [_vec(i) for i in range(0, 40, 10)]

    def answers(c):
        return [
            [
                (r["id"], round(r["distance"], 9))
                for r in c.search(q, k=4, precision=p).collect()
            ]
            for q in queries
            for p in ("exact", "medium")
        ]

    expected = answers(coll)
    shared = Collection.open(spark, coll.path)
    n_threads = 6
    barrier = threading.Barrier(n_threads)
    got, errors = {}, []

    def worker(name):
        try:
            barrier.wait(timeout=30)
            got[name] = answers(shared)
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(n,)) for n in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert got == {n: expected for n in range(n_threads)}
