"""One live file per bucket after every commit.

``commit_buckets`` hash-partitions the rows it writes by bucket, so
each touched bucket is written by exactly one task and lands as one
file, whatever the partitioning of the input and whatever mutation
produced it. A live scan therefore opens ``n_buckets`` files, and a
search runs one task per bucket.
"""

import json

import pytest
from pyspark.sql import functions as F

from syzgydb_spark.collection import Collection, CollectionOptions

N_BUCKETS = 8


def _vec(i):
    return [float(i % 7), float(i % 5), float(i % 3), 1.0]


def _files_per_bucket(coll):
    return {b: len(fs) for b, fs in coll._manifest()["buckets"].items()}


def _assert_one_file_per_bucket(coll, n_live):
    files = _files_per_bucket(coll)
    assert len(files) == n_live
    assert all(n == 1 for n in files.values()), files


@pytest.fixture()
def coll(spark, tmp_path):
    """A collection filled by one bulk add from a 4-partition
    DataFrame: before bucket partitioning, each of the 4 write tasks
    left its own file in every bucket."""
    c = Collection.create(
        spark,
        str(tmp_path / "layout"),
        CollectionOptions(name="layout", dimension_count=4, n_buckets=N_BUCKETS),
    )
    docs = (
        spark.range(0, 400, numPartitions=4)
        .select(
            F.col("id"),
            F.array(
                (F.col("id") % 7).cast("double"),
                (F.col("id") % 5).cast("double"),
                (F.col("id") % 3).cast("double"),
                F.lit(1.0),
            ).alias("vector"),
            F.to_json(F.struct(F.col("id").alias("i"))).alias("metadata"),
        )
    )
    assert docs.rdd.getNumPartitions() == 4
    c.add_documents(docs)
    return c


def test_every_mutation_keeps_one_file_per_bucket(coll):
    _assert_one_file_per_bucket(coll, N_BUCKETS)  # the bulk add
    assert coll.count() == 400

    coll.add_documents(
        [(i, _vec(i), json.dumps({"i": -i})) for i in list(range(10)) + [1000, 1001]]
    )
    _assert_one_file_per_bucket(coll, N_BUCKETS)

    coll.update_metadata(5, json.dumps({"updated": True}))
    _assert_one_file_per_bucket(coll, N_BUCKETS)
    assert json.loads(coll.get(5)["metadata"]) == {"updated": True}

    coll.remove([0, 1, 2, 1000])
    _assert_one_file_per_bucket(coll, N_BUCKETS)
    assert coll.count() == 398

    coll.enable_ivf(n_clusters=4, seed=1)
    _assert_one_file_per_bucket(coll, N_BUCKETS)
    assert coll.count() == 398
    # nothing left for compaction to merge
    assert coll.compact()["buckets_compacted"] == 0


def test_live_search_runs_one_task_per_bucket(spark, coll):
    sc = spark.sparkContext
    coll.search([3.0, 1.0, 0.0, 1.0], k=5, precision="exact").collect()  # build scan
    group = "layout-search"
    sc.setJobGroup(group, group)
    try:
        rows = coll.search([3.0, 1.0, 0.0, 1.0], k=5, precision="exact").collect()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    assert len(jobs) == 1, jobs
    tasks = sum(
        tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(jobs[0]).stageIds
    )
    assert tasks == N_BUCKETS
    assert len(rows) == 5
