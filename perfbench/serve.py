"""``serve``: the REST read path under a closed loop.

An in-process ``EngineServer`` on 127.0.0.1 serves one pre-built
collection (20,000 x 64-dim vectors from a clustered Gaussian mixture,
cosine, default LSH). Two client threads each send their next search
only after the previous one answered. Every query vector is fresh; the
filters come from four fixed templates with random literals.

Every answer is checked after the loop against NumPy brute force on the
generated data, with filters evaluated in Python: exact and radius
answers must match ids exactly and distances within 1e-9; ANN answers
must be real rows with true distances and pass their filter, and their
overlap with the true top 10 gives ``ann_recall_at_10``.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import datagen
from harness import (
    MIN_BEYOND, RunResult, engine_rss_mb, log, median, start_session, stop_session,
    tail_percentile,
)
from metrics import SERVE_KINDS, end_to_end, fill_layers, spark_layers
from spans import Tracer, parse_event_log, self_times

N_DOCS = 20_000
K = 10
CLIENTS = 2
# The request mix as one block of ten (4 ANN, 2 exact, 2 ANN + filter,
# 1 exact + filter, 1 radius); each block is sent in a seeded order, so
# every run sees the mix in the same proportions.
BLOCK = [0] * 4 + [1] * 2 + [2] * 2 + [3] + [4]
RADIUS_RANK = 20  # radius requests return about this many rows
# A run times a fixed number of requests, set by the run's seconds at
# this reference rate (2 clients on 4 cores answer about one search a
# second). The count, and with it the tail percentile, does not depend
# on how fast the engine is; a faster engine ends the run sooner.
REF_REQUESTS_PER_S = 1.0
POOL = 500  # requests generated up front; far more than a run sends
TOL = 1e-9


# ---- inputs ------------------------------------------------------------

@dataclass
class Request:
    idx: int
    kind: str
    vector: np.ndarray
    filter: str | None = None
    mask: np.ndarray | None = None  # rows the filter keeps (None: all)
    radius: float = 0.0

    def body(self) -> dict:
        b = {"vector": [float(x) for x in self.vector]}
        if self.kind == "radius":
            b.update(radius=self.radius, precision="exact")
        else:
            b.update(k=K, precision="medium" if self.kind.startswith("ann") else "exact")
        if self.filter:
            b["filter"] = self.filter
        return b


class Data:
    """The collection's rows and the columns the filters read."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 1])
        self.mixture = datagen.Mixture(rng)
        self.X = self.mixture.sample(N_DOCS)
        self.meta = datagen.metadata(rng, N_DOCS)
        self.cat = np.array([datagen.CATS.index(m["cat"]) for m in self.meta])
        self.score = np.array([m["score"] for m in self.meta])
        self.year = np.array([m["year"] for m in self.meta])
        self.rng = rng

    def random_filter(self) -> tuple[str, np.ndarray]:
        """One of four fixed templates with random literals, and the
        mask of rows it keeps (evaluated here, in Python)."""
        rng = self.rng
        t = int(rng.integers(0, 4))
        if t == 0:
            x = round(float(rng.uniform(0.2, 0.8)), 3)
            return f"score > {x}", self.score > x
        if t == 1:
            c = int(rng.integers(0, len(datagen.CATS)))
            return f'cat == "{datagen.CATS[c]}"', self.cat == c
        if t == 2:
            y = int(rng.integers(2000, 2020))
            x = round(float(rng.uniform(0.3, 0.9)), 3)
            return f"year >= {y} AND score < {x}", (self.year >= y) & (self.score < x)
        a, b = (int(v) for v in rng.choice(len(datagen.CATS), 2, replace=False))
        return (
            f'cat IN ["{datagen.CATS[a]}", "{datagen.CATS[b]}"]',
            (self.cat == a) | (self.cat == b),
        )

    def requests(self, n: int) -> list[Request]:
        """The warm-up (one request of each kind) and then shuffled
        blocks of the mix."""
        rng = self.rng
        kinds = list(range(len(SERVE_KINDS)))
        while len(kinds) < n:
            kinds += rng.permutation(BLOCK).tolist()
        out = []
        for i, k in enumerate(kinds[:n]):
            kind = SERVE_KINDS[int(k)]
            q = self.mixture.sample(1)[0]
            r = Request(i, kind, q)
            if kind.endswith("_filter"):
                r.filter, r.mask = self.random_filter()
            if kind == "radius":
                d = np.sort(datagen.angular_distances(self.X, q))
                r.radius = float((d[RADIUS_RANK - 1] + d[RADIUS_RANK]) / 2)
            out.append(r)
        return out


# ---- checks --------------------------------------------------------------

def check_answer(data: Data, req: Request, results: list[dict]) -> tuple[str | None, float | None]:
    """Compare one answer with brute force. Returns (problem or None,
    recall@10 for ANN requests else None)."""
    d = datagen.angular_distances(data.X, req.vector)
    keep = req.mask if req.mask is not None else np.ones(len(d), bool)
    ids = [int(r["id"]) for r in results]
    got_d = [float(r["distance"]) for r in results]
    if len(set(ids)) != len(ids):
        return "duplicate ids", None
    if any(i < 0 or i >= len(d) for i in ids):
        return "unknown id", None
    for i, gd in zip(ids, got_d):
        if abs(gd - d[i]) > TOL:
            return f"id {i}: distance {gd!r} != {d[i]!r}", None
        if not keep[i]:
            return f"id {i} does not pass filter {req.filter!r}", None
    if req.kind == "radius":
        truth = set(np.flatnonzero(d <= req.radius).tolist())
        edge = set(np.flatnonzero(np.abs(d - req.radius) <= TOL).tolist())
        if (set(ids) ^ truth) - edge:
            return f"radius set differs from brute force ({len(ids)} vs {len(truth)})", None
        return None, None
    truth = datagen.top_k(d, K, keep)
    if req.kind.startswith("ann"):
        if len(truth) == 0:
            return None, None
        return None, len(set(ids) & set(truth.tolist())) / len(truth)
    if len(ids) != len(truth):
        return f"{len(ids)} results, brute force has {len(truth)}", None
    for pos, (i, t) in enumerate(zip(ids, truth)):
        if i != t and abs(d[i] - d[t]) > TOL:  # only exact ties may swap
            return f"rank {pos}: id {i}, brute force {t}", None
    return None, None


# ---- run -------------------------------------------------------------------

@dataclass
class Sample:
    req: Request
    start: float  # epoch seconds
    ms: float
    status: int
    payload: dict | None
    span: int | None = None
    timed: bool = False


@dataclass
class Loop:
    """Closed-loop client state shared by the client threads."""

    reqs: list[Request]
    next: int = 0
    samples: list[Sample] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)


def _post(port: int, path: str, body: dict) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("POST", path, body=json.dumps(body),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        raw = resp.read()
        return resp.status, (json.loads(raw) if raw else None)
    finally:
        conn.close()


def timed_requests(seconds: float) -> int:
    """Requests a run times: the run's seconds at the reference rate,
    rounded to whole blocks of the mix so every run sends the kinds in
    exact proportions, and never fewer than a tail percentile needs."""
    fewest = math.ceil((MIN_BEYOND + 1) / len(BLOCK))
    return len(BLOCK) * max(fewest, round(seconds * REF_REQUESTS_PER_S / len(BLOCK)))


def run_loop(port: int, loop: Loop, stop_at: int, timed: bool, tracer: Tracer | None) -> None:
    """Run ``CLIENTS`` closed-loop clients until requests up to index
    ``stop_at`` have been sent and answered."""
    path = "/api/v1/collections/bench/search"

    def client():
        while True:
            with loop.lock:
                i = loop.next
                if i >= stop_at:
                    return
                loop.next += 1
            sample = _send(port, path, loop.reqs[i], timed, tracer)
            with loop.lock:
                loop.samples.append(sample)

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _send(port: int, path: str, req: Request, timed: bool, tracer: Tracer | None) -> Sample:
    body = req.body()
    rid = f"r{req.idx}"
    if tracer is None:
        return _timed_post(port, path, req, body, timed)
    if req.filter:
        _time_query_layer(tracer, req.filter, rid)
    with tracer.span("client.request", rid=rid) as sp:
        body.update(trace_rid=rid, trace_parent=sp.id, trace_kind=req.kind)
        sample = _timed_post(port, path, req, body, timed)
    sample.span = sp.id
    return sample


def _timed_post(port: int, path: str, req: Request, body: dict, timed: bool) -> Sample:
    t0 = time.time()
    c0 = time.perf_counter()
    try:
        status, payload = _post(port, path, body)
    except (OSError, ValueError, http.client.HTTPException) as e:
        # no usable answer: counted as a failed request
        status, payload = 0, {"error": repr(e)}
    return Sample(req, t0, (time.perf_counter() - c0) * 1000.0, status, payload, None, timed)


def _time_query_layer(tracer: Tracer, text: str, rid: str) -> None:
    """Time the filter language's public parse and compile functions on
    the request's filter (client side, outside the request span)."""
    from syzgydb_spark.query.compiler import compile_filter
    from syzgydb_spark.query.parser import parse

    with tracer.span("query.parse", rid=rid):
        parse(text)
    with tracer.span("query.compile", rid=rid):
        compile_filter(text, "metadata")


def install_tracing(tracer: Tracer, engine, spark) -> None:
    """Span wrappers on the server's handler, its collection and that
    collection's storage backend; the handler also tags its Spark jobs
    with the request id as job group."""
    sc = spark.sparkContext
    search = engine.search

    def traced_search(name, body):
        rid = body.get("trace_rid")
        sc.setJobGroup(rid, body.get("trace_kind", ""), interruptOnCancel=False)
        with tracer.span("server.handler", rid=rid, parent=body.get("trace_parent")):
            return search(name, body)

    engine.search = traced_search
    coll = engine.collections["bench"]
    tracer.wrap(coll, "search", "collection.search")
    tracer.wrap(coll.storage, "read_manifest", "storage.read_manifest")


def run(seed: int, seconds: float, trace: bool, work: str) -> RunResult:
    from http.server import ThreadingHTTPServer

    import pandas as pd

    n_warm, n_timed = len(SERVE_KINDS), timed_requests(seconds)
    if n_warm + n_timed > POOL:
        raise ValueError(f"--seconds {seconds:g} asks for more than {POOL} requests")
    res = RunResult()
    t_setup = time.time()
    spark = start_session(work, event_log=trace)
    t_session = time.time() - t_setup
    httpd = thread = None
    try:
        from syzgydb_spark.collection import Collection, CollectionOptions
        from syzgydb_spark.server import EngineServer, make_handler

        log("generating data")
        data = Data(seed)
        reqs = data.requests(POOL)
        folder = os.path.join(work, "served")
        coll = Collection.create(
            spark, os.path.join(folder, "bench"),
            CollectionOptions(name="bench", dimension_count=datagen.DIM,
                              distance_method="cosine", lsh={}),
        )
        log(f"building collection ({N_DOCS} vectors)")
        pdf = pd.DataFrame({
            "id": np.arange(N_DOCS, dtype=np.int64),
            "vector": list(data.X),
            "metadata": [json.dumps(m) for m in data.meta],
        })
        coll.add_documents(spark.createDataFrame(pdf, Collection.SCHEMA_BASE))

        log("starting server")
        engine = EngineServer(spark, folder)
        httpd = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(engine))
        thread = threading.Thread(target=httpd.serve_forever, kwargs={"poll_interval": 0.05})
        thread.start()
        port = httpd.server_address[1]
        tracer = Tracer() if trace else None
        if tracer is not None:
            install_tracing(tracer, engine, spark)

        log("warm-up")
        loop = Loop(reqs)
        t_warm = time.time()
        run_loop(port, loop, n_warm, False, tracer)
        warmup_s = time.time() - t_warm
        setup_s = time.time() - t_setup

        log(f"measuring {n_timed} requests")
        t0 = time.time()
        run_loop(port, loop, n_warm + n_timed, True, tracer)
        t1 = max(s.start + s.ms / 1000.0 for s in loop.samples if s.timed)
        rss = engine_rss_mb(spark)
    finally:
        if httpd is not None:
            httpd.shutdown()
            httpd.server_close()
            thread.join()
        stop_session(spark)

    log("checking answers")
    recalls, lsh_pct, lsh_cand = [], [], []
    for s in loop.samples:
        res.attempted += 1
        if s.status != 200:
            res.fail(f"request {s.req.idx} ({s.req.kind}): HTTP {s.status} {s.payload}")
            continue
        problem, recall = check_answer(data, s.req, s.payload["results"])
        if problem:
            res.fail(f"request {s.req.idx} ({s.req.kind}): {problem}")
            continue
        if recall is not None:
            recalls.append(recall)
        if s.req.kind.startswith("ann"):
            pct = float(s.payload["percent_searched"])
            lsh_pct.append(pct)
            lsh_cand.append(pct / 100.0 * N_DOCS / max(1, len(s.payload["results"])))

    timed = [s.ms for s in loop.samples if s.timed]
    pct, tail = tail_percentile(timed)
    res.end_to_end = end_to_end(setup_s, median(timed), tail, len(timed) / (t1 - t0), recalls, rss)
    res.notes.update({
        "op": "one REST search request, client round trip",
        "samples": len(timed),
        "op_tail_percentile": pct,
        "recall_samples": len(recalls),
        "clients": CLIENTS,
        "collection_rows": N_DOCS,
    })
    layers = {
        "session.start_s": t_session,
        "session.warmup_s": warmup_s,
        "lsh.percent_searched": median(lsh_pct),
        "lsh.candidates_per_result": median(lsh_cand),
    }
    if tracer is not None:
        layers.update(traced_layers(tracer, loop, os.path.join(work, "events")))
    res.per_layer = fill_layers(layers)
    return res


def traced_layers(tracer: Tracer, loop: Loop, events_dir: str) -> dict[str, float]:
    """Per-layer figures over the timed requests, from the spans and the
    Spark event log."""
    timed = [s for s in loop.samples if s.timed and s.span is not None]
    rids = {f"r{s.req.idx}" for s in timed}
    spans = [sp for sp in tracer.spans if sp.rid in rids]
    own = self_times(spans)
    children: dict[int, list] = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)
    handler_of = {sp.parent: sp for sp in spans if sp.name == "server.handler"}
    client = {sp.id: sp for sp in spans if sp.name == "client.request"}

    def named(name):
        return [sp.ms for sp in spans if sp.name == name]

    ops, overhead, plan, execm = [], [], {}, {}
    for s in timed:
        h = handler_of.get(s.span)
        if h is None:
            continue
        ops.append((s.req.kind, h.rid, h.start, h.end))
        overhead.append(client[s.span].ms - h.ms)
        plan.setdefault(s.req.kind, []).extend(
            c.ms for c in children.get(h.id, []) if c.name == "collection.search"
        )
        execm.setdefault(s.req.kind, []).append(own[h.id] * 1000.0)
    out = {
        "server.handler_ms": median(named("server.handler")),
        "server.http_overhead_ms": median(overhead),
        "storage.read_manifest_ms": median(named("storage.read_manifest")),
        "storage.read_manifest_calls_per_op": len(named("storage.read_manifest")) / max(1, len(ops)),
        "query.parse_ms": median(named("query.parse")),
        "query.compile_ms": median(named("query.compile")),
    }
    for kind in SERVE_KINDS:
        out[f"collection.plan_ms.{kind}"] = median(plan.get(kind, []))
        out[f"collection.exec_ms.{kind}"] = median(execm.get(kind, []))
    out.update(spark_layers(ops, parse_event_log(events_dir)))
    return out
