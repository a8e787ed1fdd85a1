"""Metric names and the pieces both workloads assemble them from.

Every run prints the same names (BENCHMARK.json declares them with
unit and direction): a workload that does not exercise a layer reports
that layer's work as 0. ``tests/test_helpers.py`` checks that the names
built here equal the declared ones.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from harness import ROOT, median
from spans import GroupStats, driver_ms

# serve request kinds, in the order of the request mix table
SERVE_KINDS = ["ann", "exact", "ann_filter", "exact_filter", "radius"]

# pipeline registry entries with the operator module that does the work
# ("catalyst" marks the Catalyst-only control)
PIPELINE_ENTRIES = [
    ("minhash_near_dups", "dedup"),
    ("dedup_keep_best", "dedup"),
    ("leakage_split", "sharding"),
    ("tfidf_top_terms", "quality"),
    ("lm_perplexity", "quality"),
    ("semdedup", "semantic"),
    ("quality_score", "classifier"),
    ("bm25_search", "bm25"),
    ("repetition_stats", "quality"),
    ("revenue_by_nation", "catalyst"),
]
# the batch ANN step (LshIndex.knn_join) runs last in a pass
PIPELINE_STEPS = [name for name, _ in PIPELINE_ENTRIES] + ["lsh_knn_join"]
OP_KINDS = SERVE_KINDS + PIPELINE_STEPS

E2E_NAMES = [
    "setup_s", "op_p50_ms", "op_tail_ms", "ops_per_s",
    "ann_recall_at_10", "peak_rss_mb",
]

SPARK_PER_KIND = ["driver_ms", "executor_run_ms", "executor_cpu_ms", "shuffle_bytes"]


def layer_names() -> list[str]:
    names = [
        "session.start_s", "session.warmup_s",
        "server.handler_ms", "server.http_overhead_ms",
    ]
    names += [f"collection.plan_ms.{k}" for k in SERVE_KINDS]
    names += [f"collection.exec_ms.{k}" for k in SERVE_KINDS]
    names += ["collection.jobs_per_op", "collection.stages_per_op", "collection.tasks_per_op"]
    names += ["storage.read_manifest_ms", "storage.read_manifest_calls_per_op"]
    names += ["query.parse_ms", "query.compile_ms"]
    names += ["lsh.percent_searched", "lsh.candidates_per_result"]
    names += ["lsh.knn_join_s"]
    names += [f"{module}.{entry}_s" for entry, module in PIPELINE_ENTRIES]
    names += ["cache.persisted_after_op"]
    names += [f"spark.{m}.{k}" for k in OP_KINDS for m in SPARK_PER_KIND]
    names += ["spark.cpu_per_run", "spark.shuffle_read_bytes",
              "spark.shuffle_write_bytes", "spark.spill_bytes"]
    return names


def end_to_end(setup_s: float, p50_ms: float, tail_ms: float, ops_per_s: float,
               recalls, rss_mb: float) -> dict[str, float]:
    """The end-to-end metrics, in declared order, from a run's figures:
    set-up time, median and tail op latency (ms), ops completed per
    second, per-query ANN recall@10 and peak memory."""
    return {
        "setup_s": setup_s,
        "op_p50_ms": p50_ms,
        "op_tail_ms": tail_ms,
        "ops_per_s": ops_per_s,
        "ann_recall_at_10": sum(recalls) / len(recalls) if recalls else 0.0,
        "peak_rss_mb": rss_mb,
    }


def declared() -> dict:
    """BENCHMARK.json from the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spark_layers(ops, groups) -> dict[str, float]:
    """Per-kind and per-op Spark figures.

    ``ops`` is a list of ``(kind, rid, start, end)`` (epoch seconds): one
    entry per op, whose jobs ran under job group ``rid``. ``groups`` maps
    a job group to its ``spans.GroupStats``. Per-kind values are medians
    over that kind's ops; the per-op values are means over all ops."""
    out: dict[str, float] = {}
    by_kind = defaultdict(list)
    for kind, rid, start, end in ops:
        by_kind[kind].append((rid, start, end))
    for kind, rows in by_kind.items():
        d, run, cpu, sh = [], [], [], []
        for rid, start, end in rows:
            g = groups.get(rid) or GroupStats()
            d.append(driver_ms(start, end, g.job_intervals))
            run.append(g.run_ms)
            cpu.append(g.cpu_ms)
            sh.append(g.shuffle_read_bytes + g.shuffle_write_bytes)
        out[f"spark.driver_ms.{kind}"] = median(d)
        out[f"spark.executor_run_ms.{kind}"] = median(run)
        out[f"spark.executor_cpu_ms.{kind}"] = median(cpu)
        out[f"spark.shuffle_bytes.{kind}"] = median(sh)
    stats = [groups[rid] for _, rid, _, _ in ops if rid in groups]
    total_run = sum(g.run_ms for g in stats)
    n = max(1, len(ops))
    out["spark.cpu_per_run"] = sum(g.cpu_ms for g in stats) / total_run if total_run else 0.0
    out["spark.shuffle_read_bytes"] = sum(g.shuffle_read_bytes for g in stats) / n
    out["spark.shuffle_write_bytes"] = sum(g.shuffle_write_bytes for g in stats) / n
    out["spark.spill_bytes"] = sum(g.spill_bytes for g in stats) / n
    out["collection.jobs_per_op"] = sum(g.jobs for g in stats) / n
    out["collection.stages_per_op"] = sum(g.stages for g in stats) / n
    out["collection.tasks_per_op"] = sum(g.tasks for g in stats) / n
    return out


def fill_layers(values: dict[str, float]) -> dict[str, float]:
    """All declared per-layer names, 0 where this workload did no work."""
    names = layer_names()
    unknown = set(values) - set(names)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {n: float(values.get(n, 0.0)) for n in names}

