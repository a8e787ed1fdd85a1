"""``pipeline``: the batch path, one op after another on the driver.

One pass runs eleven steps: nine registry entries from
``__spark_entry__.queries()``, the Catalyst-only control
``revenue_by_nation``, all on tables generated from the seed, and then
the batch ANN join ``LshIndex.knn_join`` (the operator
``Collection.search_many`` runs for ``precision="medium"``) of 1,000
fresh queries against 2,000 vectors, both read from parquet, with the
index settings a collection defaults to. Each step collects its result
and releases the caches its operator attached. The first pass is the
warm-up (part of set-up); then exactly one pass is timed, whatever the
run's seconds, so the figures are always those of one whole pass.

Checks: every entry's warm-up output must equal its ``oracle_sql()``
result in DuckDB on the same files (once per run, after the Spark
session has stopped, so the checker shares no time or memory figure
with the engine). Every ANN join answer must be, per query, the
brute-force top 10 among its LSH candidates (ids exactly, distances within 1e-9; a
query with fewer candidates gets fewer rows); its overlap with the
brute-force top 10 over all vectors gives ``ann_recall_at_10``.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import nullcontext

import numpy as np

import datagen
from harness import RunResult, engine_rss_mb, log, median, start_session, stop_session
from metrics import PIPELINE_ENTRIES, PIPELINE_STEPS, end_to_end, fill_layers, spark_layers
from spans import Tracer, parse_event_log

# table sizes (about sf0.01-0.02 of the registry's star schema)
TABLES = dict(n_doc=500, n_emb=2_000, n_orders=15_000, n_lineitem=60_000, n_customer=1_500)
N_VECTORS = 2_000  # the registry's embeddings count at sf0.1
N_QUERIES = 1_000
K = 10
TIMED_PASSES = 1  # a warm pass takes 11-18 s on 4 cores
TOL = 1e-9


# ---- checks --------------------------------------------------------------

def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows) -> list[tuple]:
    """Order-insensitive canonical form: columns by name, cells as
    strings (floats to 9 significant digits), rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


class Oracles:
    """The registry entries' ``oracle_sql()`` results in DuckDB on the
    generated files."""

    def __init__(self, data_dir: str, names):
        import duckdb

        import __spark_entry__ as entry

        self.results: dict[str, tuple] = {}
        self.error: str | None = None
        try:
            sql = entry.oracle_sql()
            con = duckdb.connect()
            try:
                for f in sorted(os.listdir(data_dir)):
                    if f.endswith(".parquet"):
                        path = os.path.join(data_dir, f)
                        con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
                for name in names:
                    res = con.sql(sql[name])
                    self.results[name] = ([d[0] for d in res.description], res.fetchall())
            finally:
                con.close()
        except Exception as e:  # reported as a failed check, not a crash
            self.error = f"{type(e).__name__}: {e}"

    def check(self, outputs: dict) -> list[str]:
        """Problems, one per entry whose Spark output differs."""
        if self.error:
            return [f"oracle: {self.error}"]
        problems = []
        for name, (cols, rows) in outputs.items():
            dcols, drows = self.results[name]
            if sorted(cols) != sorted(dcols):
                problems.append(f"{name}: columns {sorted(cols)} vs oracle {sorted(dcols)}")
            elif len(rows) != len(drows):
                problems.append(f"{name}: {len(rows)} rows vs oracle {len(drows)}")
            elif norm_rows(cols, rows) != norm_rows(dcols, drows):
                problems.append(f"{name}: values differ from oracle")
        return problems


class Truth:
    """Brute-force neighbours of every query: over all vectors (for
    recall) and over the query's LSH candidates, the rows sharing its
    bucket in at least one table (what the ANN join must return
    exactly)."""

    def __init__(self, X: np.ndarray, Q: np.ndarray, index):
        self.X, self.Q = X, Q
        self.sig_x = np.array([index.query_signatures(x) for x in X])
        self.sig_q = np.array([index.query_signatures(q) for q in Q])
        self.top = [datagen.top_k(datagen.angular_distances(X, q), K) for q in Q]

    def check(self, rows) -> tuple[list[str], list[float]]:
        """Problems and per-query recall@10 for one ANN join answer."""
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), []).append((int(r["id"]), float(r["distance"])))
        problems, recalls = [], []
        for qi, q in enumerate(self.Q):
            res = sorted(got.get(qi, []), key=lambda r: (r[1], r[0]))
            d = datagen.angular_distances(self.X, q)
            ids = [i for i, _ in res]
            want = datagen.top_k(d, K, (self.sig_x == self.sig_q[qi]).any(axis=1))
            if len(set(ids)) != len(ids) or any(abs(gd - d[i]) > TOL for i, gd in res):
                problems.append(f"query {qi}: duplicate id or a distance that is not the true one")
            elif len(ids) != len(want) or any(
                i != t and abs(d[i] - d[t]) > TOL for i, t in zip(ids, want)  # ties may swap
            ):
                problems.append(f"query {qi}: not the top {K} of its LSH candidates")
            else:
                recalls.append(len(set(ids) & set(self.top[qi].tolist())) / K)
        return problems, recalls


# ---- run -------------------------------------------------------------------

def run(seed: int, seconds: float, trace: bool, work: str) -> RunResult:
    import pandas as pd

    res = RunResult()
    t_setup = time.time()
    spark = start_session(work, event_log=trace)
    t_session = time.time() - t_setup
    tracer = Tracer() if trace else None
    sc = spark.sparkContext
    try:
        from pyspark.sql import Observation

        import __spark_entry__ as entry
        from syzgydb_spark.cache import release_cached
        from syzgydb_spark.operators.lsh import LshIndex

        log("generating data")
        data_dir = os.path.join(work, "data")
        datagen.write_pipeline_tables(data_dir, seed, **TABLES)
        mixture = datagen.Mixture(np.random.default_rng([seed, 3]))
        X, Q = mixture.sample(N_VECTORS), mixture.sample(N_QUERIES)
        index = LshIndex(datagen.DIM, num_tables=5, num_planes=8, seed=42, method="cosine")
        pd.DataFrame({"id": np.arange(N_VECTORS, dtype=np.int64), "vector": list(X)}) \
            .to_parquet(os.path.join(work, "ann_vectors.parquet"))
        pd.DataFrame({"query_id": np.arange(N_QUERIES, dtype=np.int64), "query_vector": list(Q)}) \
            .to_parquet(os.path.join(work, "ann_queries.parquet"))

        registry = entry.queries()
        observations = []

        def lsh_knn_join():
            obs = None
            if trace:
                obs = Observation()  # one per call: an Observation runs once
                observations.append(obs)
            return index.knn_join(
                spark.read.parquet(os.path.join(work, "ann_vectors.parquet")),
                spark.read.parquet(os.path.join(work, "ann_queries.parquet")),
                K, observation=obs,
            )

        steps = {name: (lambda f=registry[name]: f(spark, data_dir)) for name, _ in PIPELINE_ENTRIES}
        steps["lsh_knn_join"] = lsh_knn_join
        cache_growth = {}  # step -> persisted RDDs after a timed step minus before it

        def persisted():
            return sc._jsc.getPersistentRDDs().size()

        def run_step(name, rid):
            if tracer is not None:
                sc.setJobGroup(rid, name, interruptOnCancel=False)
                before = persisted()
            with tracer.span(f"pipeline.{name}", rid=rid) if tracer else nullcontext():
                t0 = time.time()
                df = steps[name]()
                rows = df.collect()
                release_cached(df)
                t1 = time.time()
            if tracer is not None and not rid.startswith("p0-"):
                grown = persisted() - before
                cache_growth[name] = max(cache_growth.get(name, grown), grown)
            return df.columns, rows, t0, t1

        def run_pass(p):
            return {name: run_step(name, f"p{p}-{name}") for name in PIPELINE_STEPS}

        log("warm-up pass")
        t_warm = time.time()
        warm = run_pass(0)
        warmup_s = time.time() - t_warm
        setup_s = time.time() - t_setup
        observations.clear()

        log(f"measuring {TIMED_PASSES} pass")
        passes = []
        pass_s = []
        for p in range(1, TIMED_PASSES + 1):
            t0 = time.time()
            passes.append(run_pass(p))
            pass_s.append(time.time() - t0)
        rss = engine_rss_mb(spark)
        lsh_counts = [o.get["candidate_pairs"] for o in observations]
    finally:
        stop_session(spark)

    log("checking answers")
    outputs = {n: warm[n][:2] for n, _ in PIPELINE_ENTRIES}
    all_passes = [warm] + passes
    res.attempted = sum(len(p) for p in all_passes)
    for problem in Oracles(data_dir, list(outputs)).check(outputs):
        res.fail(problem)
    truth = Truth(X, Q, index)
    recalls = []
    for p in all_passes:
        problems, rec = truth.check(p["lsh_knn_join"][1])
        if problems:
            res.fail(f"lsh_knn_join: {len(problems)} queries wrong, first: {problems[0]}")
        recalls.extend(rec)

    per_step = {n: median([p[n][3] - p[n][2] for p in passes]) for n in PIPELINE_STEPS}
    res.end_to_end = end_to_end(
        setup_s, median(pass_s) * 1000.0, max(pass_s) * 1000.0,
        len(pass_s) / sum(pass_s), recalls, rss,
    )
    res.notes.update({
        "op": "one pipeline pass (eleven steps)",
        "passes": len(passes),
        "step_s": {n: round(v, 3) for n, v in per_step.items()},
        "warmup_step_s": {n: round(s[3] - s[2], 3) for n, s in warm.items()},
        "recall_samples": len(recalls),
    })
    layers = {"session.start_s": t_session, "session.warmup_s": warmup_s}
    layers.update({f"{module}.{n}_s": per_step[n] for n, module in PIPELINE_ENTRIES})
    layers["lsh.knn_join_s"] = per_step["lsh_knn_join"]
    if tracer is not None:
        ops = [(n, f"p{i}-{n}", s[2], s[3]) for i, p in enumerate(passes, 1) for n, s in p.items()]
        layers.update(spark_layers(ops, parse_event_log(os.path.join(work, "events"))))
        layers["cache.persisted_after_op"] = max(cache_growth.values())
        res.notes["cache_growth_steps"] = {n: g for n, g in cache_growth.items() if g}
        if lsh_counts:
            cand = median(lsh_counts)
            lsh_rows = median([len(p["lsh_knn_join"][1]) for p in passes])
            layers["lsh.percent_searched"] = 100.0 * cand / (N_QUERIES * N_VECTORS)
            layers["lsh.candidates_per_result"] = cand / max(1, lsh_rows)
    res.per_layer = fill_layers(layers)
    return res

