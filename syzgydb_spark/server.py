"""Thin REST façade over the engine — endpoint parity with the
reference server (/root/reference/rest.go, main.go:36-50).

Stdlib-only (http.server; no extra deps in this environment). This is
a demo/ops surface, NOT the scale path: per BASELINE.json, single-query
online serving is out of scope for a Spark engine. Each search runs
one Spark job with one task per data file: the collection's live scan
is built once per manifest snapshot and reused until the next commit
(``Collection.df``), and every commit writes one file per bucket.
Measured with ``perfbench/run.py --workload serve`` (20,000 × 64
vectors in 16 files, one per bucket, ``local[4]`` on a 4-core machine,
2 clients): 1 job and 16 tasks per search, about 0.67 s per request
(median of 10 runs), of which 0.16–0.21 s is driver planning. The
batch APIs (Collection, knn_join, dedup) are the product.

Endpoint surface (reference rest.go):

    POST   /api/v1/collections                     create
    GET    /api/v1/collections                     list
    GET    /api/v1/collections/{name}              info/stats
    DELETE /api/v1/collections/{name}              drop
    POST   /api/v1/collections/{name}/records      insert/upsert batch
    PUT    /api/v1/collections/{name}/records/{id}/metadata
    DELETE /api/v1/collections/{name}/records/{id}
    GET    /api/v1/collections/{name}/ids          all ids
    POST   /api/v1/collections/{name}/search       search (vector |
                                                   text | filter, k /
                                                   radius / limit /
                                                   offset / precision)
    GET    /api/v1/collections/{name}/search       same via query params
                                                   (text/filter/k/radius/
                                                   limit/offset/precision;
                                                   no raw vector —
                                                   rest.go:401-409)

``percent_searched`` in search responses is collected with the query's
own pass via ``df.observe`` (reference collection.go:700-709).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from dataclasses import dataclass, fields

from pyspark.sql import SparkSession

from syzgydb_spark.collection import Collection, CollectionOptions


@dataclass
class ServerConfig:
    """Server settings with the reference's keys and defaults
    (cmd/config.go:32-46: viper.SetDefault + pflag definitions).
    ``html_root`` is accepted for config-file parity but unused — the
    reference's JS demo UI is out of scope (SURVEY.md §2)."""

    syzgy_host: str = "0.0.0.0:8080"
    ollama_server: str = "127.0.0.1:11434"
    text_model: str = "all-minilm"
    image_model: str = "minicpm-v"
    data_folder: str = "./data"
    html_root: str = "./html"


def load_config(
    flags: dict | None = None,
    *,
    config_file: str | None = None,
    env: dict | None = None,
    search_paths: tuple = (".", "/etc"),
) -> ServerConfig:
    """Resolve server settings with the reference's precedence —
    flags > environment > config file > defaults (cmd/config.go:32-90:
    viper BindPFlags / AutomaticEnv / ReadInConfig in that lookup
    order). Key normalization matches too: flag keys may use ``-`` or
    ``_``; env keys are the upper-cased setting names (OLLAMA_SERVER,
    DATA_FOLDER, SYZGY_HOST, ...).

    ``config_file`` defaults to the first ``syzgy.conf`` found in
    ``search_paths`` ('.' then '/etc', like viper's AddConfigPath
    chain); a missing file is not an error (the reference logs and
    continues with defaults). The file is the flat ``key: value``
    subset of YAML the reference's syzgy.conf uses — parsed without a
    YAML dependency; ``#`` comments and quoted values are handled."""
    env = os.environ if env is None else env
    cfg = ServerConfig()
    names = {f.name for f in fields(ServerConfig)}

    def norm(k: str) -> str:
        return k.strip().lower().replace("-", "_")

    # config file (lowest precedence above defaults)
    path = config_file
    if path is None:
        for d in search_paths:
            cand = os.path.join(d, "syzgy.conf")
            if os.path.isfile(cand):
                path = cand
                break
    if path is not None and os.path.isfile(path):
        with open(path) as f:
            for line in f:
                line = line.split("#", 1)[0].strip()
                if not line or ":" not in line:
                    continue
                k, v = line.split(":", 1)
                k, v = norm(k), v.strip().strip("'\"")
                if k in names:
                    setattr(cfg, k, v)
    # environment
    for name in names:
        if env.get(name.upper()):
            setattr(cfg, name, env[name.upper()])
    # flags (highest)
    for k, v in (flags or {}).items():
        k = norm(k)
        if k not in names:
            raise ValueError(f"unknown config key {k!r}; expected one of {sorted(names)}")
        if v is not None:
            setattr(cfg, k, str(v))
    return cfg


class EngineServer:
    def __init__(
        self,
        spark: SparkSession,
        data_folder: str,
        *,
        max_results: int = 10_000,
        model_fn=None,
    ):
        self.spark = spark
        self.data_folder = data_folder
        self.max_results = max_results
        # text→vector model for /search text queries and text-only
        # inserts; None keeps the deterministic stub (tests; no model
        # server in this environment). serve(config=...) wires the
        # configured Ollama endpoint here.
        self.model_fn = model_fn
        os.makedirs(data_folder, exist_ok=True)
        self.collections: dict[str, Collection] = {}
        # open existing collections on startup (reference main.go:16-34)
        for name in os.listdir(data_folder):
            path = os.path.join(data_folder, name)
            if os.path.isfile(os.path.join(path, "options.json")):
                self.collections[name] = Collection.open(spark, path)

    # ---- handlers (thin, JSON in/out) ----
    def create_collection(self, body: dict) -> dict:
        name = body["name"]
        if name in self.collections:
            raise KeyError(f"collection {name} exists")
        opts = CollectionOptions(
            name=name,
            dimension_count=body["vector_size"],
            distance_method=body.get("distance_function", "euclidean"),
            quantization=body.get("quantization", 64),
            lsh=body.get("lsh"),  # optional ANN index config
        )
        path = os.path.join(self.data_folder, name)
        self.collections[name] = Collection.create(self.spark, path, opts)
        return {"message": f"collection {name} created"}

    def list_collections(self) -> list[dict]:
        return [self.info(n) for n in sorted(self.collections)]

    def info(self, name: str) -> dict:
        c = self.collections[name]
        st = c.stats()
        return {
            "name": name,
            "vector_size": c.options.dimension_count,
            "distance_function": c.options.distance_method,
            "quantization": c.options.quantization,
            "document_count": st["document_count"],
            "storage_size": st["storage_size"],
        }

    def drop(self, name: str) -> dict:
        c = self.collections.pop(name)
        shutil.rmtree(c.path, ignore_errors=True)
        return {"message": f"collection {name} deleted"}

    def insert(self, name: str, body: list[dict]) -> dict:
        c = self.collections[name]
        vec_rows, text_rows = [], []
        for r in body:
            meta = json.dumps(r.get("metadata") or {})
            if "vector" in r and r["vector"] is not None:
                vec_rows.append((int(r["id"]), [float(x) for x in r["vector"]], meta))
            else:
                # text-only records are embedded in one batch
                # (reference rest.go:250-272)
                text_rows.append((int(r["id"]), r.get("text", ""), meta))
        if vec_rows:
            c.add_documents(vec_rows)
        if text_rows:
            c.add_texts(text_rows, model_fn=self.model_fn)
        return {"message": f"{len(vec_rows) + len(text_rows)} records inserted"}

    def update_metadata(self, name: str, doc_id: int, body: dict) -> dict:
        self.collections[name].update_metadata(
            doc_id, json.dumps(body.get("metadata") or {})
        )
        return {"message": "metadata updated"}

    def delete_record(self, name: str, doc_id: int) -> dict:
        self.collections[name].remove(doc_id)
        return {"message": "record deleted"}

    def ids(self, name: str) -> list[int]:
        return self.collections[name].get_all_ids()

    def search(self, name: str, body: dict) -> dict:
        """Search handler shared by POST (JSON body) and GET (query
        params) — the reference serves both (rest.go:400-427; GET
        supports text/filter but not a raw vector)."""
        from pyspark.sql import Observation

        c = self.collections[name]
        t0 = time.time()
        embed_ms = 0.0
        vector = body.get("vector")
        if vector is None and body.get("text"):
            from syzgydb_spark.embedding import stub_model

            te = time.time()
            model = self.model_fn or stub_model  # (texts, dim) -> ndarray
            vector = [
                float(x)
                for x in model([body["text"]], c.options.dimension_count)[0]
            ]
            embed_ms = (time.time() - te) * 1000
        precision = body.get("precision") or "medium"
        k = int(body.get("k", 0) or 0)
        # observe exactly when the chosen tier's index exists — every
        # ANN branch in Collection.search attaches the metrics, and a
        # created-but-unattached Observation raises on .get
        tier_index = {
            "medium": c.index,
            "pq": c.pq_index,
            "ivf": c.ivf_index,
            "ivfpq": c.pq_index if c.ivf_index is not None else None,
        }.get(precision)
        use_ann = tier_index is not None and vector is not None and k > 0
        obs = Observation() if use_ann else None
        res = c.search(
            vector,
            k=k,
            radius=float(body.get("radius", 0) or 0),
            filter=body.get("filter"),
            precision=precision,
            offset=int(body.get("offset", 0) or 0),
            limit=int(body.get("limit", 0) or 0),
            observation=obs,
            n_probes=int(body.get("n_probes", 0) or 0),
        )
        # cap the driver collect: an unbounded radius/listing query must
        # not ship the whole collection through the demo server (the
        # reference has no cap either — cheap insurance, VERDICT r2 #6);
        # truncation is reported so callers can paginate
        rows = res.limit(self.max_results + 1).collect()
        truncated = len(rows) > self.max_results
        rows = rows[: self.max_results]
        out = []
        for r in rows:
            m = r["metadata"]
            if isinstance(m, str) or m is None:
                meta = json.loads(m or "null")
            elif hasattr(m, "asDict"):  # typed collections store a struct
                meta = m.asDict(recursive=True)
            else:  # MAP<...> metadata arrives as a plain dict
                meta = m
            rec = {"id": r["id"], "metadata": meta}
            if "distance" in r.__fields__:
                rec["distance"] = r["distance"]
            out.append(rec)
        if obs is not None:
            # observed with the search's own pass (collection.go:700-709)
            m = obs.get
            pct = 100.0 * m["points_searched"] / max(m["points_total"], 1)
        else:
            pct = 100.0
        return {
            "results": out,
            "truncated": truncated,
            "percent_searched": pct,
            "search_time": round((time.time() - t0) * 1000 - embed_ms, 3),
            "embedding_time": round(embed_ms, 3),
        }


def _query_params_to_search_body(query: str) -> dict:
    """GET /search?text=..&filter=..&k=..&radius=..&limit=..&offset=..
    → the same dict shape the POST body uses. Unparsable numerics fall
    back to 0, mirroring Go's ignored strconv errors (rest.go:403-406)."""
    from urllib.parse import parse_qs

    qs = {k: v[0] for k, v in parse_qs(query or "").items()}

    def num(key, cast):
        try:
            return cast(qs.get(key, ""))
        except (TypeError, ValueError):
            return 0

    return {
        "text": qs.get("text") or None,
        "filter": qs.get("filter") or None,
        "precision": qs.get("precision") or None,
        "k": num("k", int),
        "radius": num("radius", float),
        "limit": num("limit", int),
        "offset": num("offset", int),
    }


def make_handler(engine: EngineServer):
    routes = [
        ("POST", r"^/api/v1/collections$", lambda m, b: engine.create_collection(b)),
        ("GET", r"^/api/v1/collections$", lambda m, b: engine.list_collections()),
        ("GET", r"^/api/v1/collections/([^/]+)$", lambda m, b: engine.info(m.group(1))),
        ("DELETE", r"^/api/v1/collections/([^/]+)$", lambda m, b: engine.drop(m.group(1))),
        ("POST", r"^/api/v1/collections/([^/]+)/records$", lambda m, b: engine.insert(m.group(1), b)),
        ("PUT", r"^/api/v1/collections/([^/]+)/records/(\d+)/metadata$",
         lambda m, b: engine.update_metadata(m.group(1), int(m.group(2)), b)),
        ("DELETE", r"^/api/v1/collections/([^/]+)/records/(\d+)$",
         lambda m, b: engine.delete_record(m.group(1), int(m.group(2)))),
        ("GET", r"^/api/v1/collections/([^/]+)/ids$", lambda m, b: engine.ids(m.group(1))),
        ("POST", r"^/api/v1/collections/([^/]+)/search$", lambda m, b: engine.search(m.group(1), b)),
        # GET search takes query params (text/filter/k/radius/limit/
        # offset/precision — no raw vector), reference rest.go:401-409;
        # the dispatcher passes the parsed query params as the body
        ("GET", r"^/api/v1/collections/([^/]+)/search$",
         lambda m, b: engine.search(m.group(1), _query_params_to_search_body(b))),
    ]

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def _dispatch(self, method: str):
            path, _, query = self.path.partition("?")
            body = None
            length = int(self.headers.get("Content-Length") or 0)
            if length:
                body = json.loads(self.rfile.read(length))
            elif query:
                body = query  # GET routes parse their own query string
            for meth, pat, fn in routes:
                if meth != method:
                    continue
                m = re.match(pat, path)
                if m:
                    try:
                        result = fn(m, body)
                        code = 200
                    except KeyError as e:
                        result, code = {"error": str(e)}, 404
                    except Exception as e:  # surface engine errors as 400
                        result, code = {"error": f"{type(e).__name__}: {e}"}, 400
                    payload = json.dumps(result).encode()
                    self.send_response(code)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(payload)))
                    self.end_headers()
                    self.wfile.write(payload)
                    return
            self.send_response(404)
            self.end_headers()

        def do_GET(self):
            self._dispatch("GET")

        def do_POST(self):
            self._dispatch("POST")

        def do_PUT(self):
            self._dispatch("PUT")

        def do_DELETE(self):
            self._dispatch("DELETE")

    return Handler


def serve(
    spark: SparkSession,
    data_folder: str | None = None,
    port: int | None = None,
    *,
    config: ServerConfig | None = None,
    model_fn=None,
) -> ThreadingHTTPServer:
    """Start the server (non-blocking; call .serve_forever() or use the
    returned instance's .shutdown()).

    Programmatic args win over ``config`` (which carries the
    file/env/flag-resolved settings from :func:`load_config`); with
    neither, the ``ServerConfig`` defaults apply. A config with an
    ``ollama_server`` builds the real HTTP embedding client unless a
    ``model_fn`` is passed (tests pass the stub explicitly)."""
    cfg = config or ServerConfig()
    folder = data_folder if data_folder is not None else cfg.data_folder
    if port is None:
        port = int(cfg.syzgy_host.rsplit(":", 1)[1]) if ":" in cfg.syzgy_host else 8080
    if model_fn is None and config is not None and cfg.ollama_server:
        from syzgydb_spark.embedding import make_http_model

        model_fn = make_http_model(cfg.ollama_server, cfg.text_model)
    engine = EngineServer(spark, folder, model_fn=model_fn)
    httpd = ThreadingHTTPServer(("127.0.0.1", port), make_handler(engine))
    return httpd


if __name__ == "__main__":
    import argparse

    from syzgydb_spark.session import get_spark

    # reference flag surface (cmd/config.go:15-22), precedence
    # flags > env > syzgy.conf > defaults
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", default=None)
    ap.add_argument("--data-folder", default=None)
    ap.add_argument("--syzgy-host", default=None)
    ap.add_argument("--ollama-server", default=None)
    ap.add_argument("--text-model", default=None)
    ap.add_argument("--image-model", default=None)
    ap.add_argument("--html-root", default=None)
    ns = ap.parse_args()
    flags = {k: v for k, v in vars(ns).items() if k != "config" and v is not None}
    cfg = load_config(flags, config_file=ns.config)
    httpd = serve(get_spark(app_name="syzgydb-server"), config=cfg)
    print(
        f"syzgydb-spark REST server on http://127.0.0.1:"
        f"{httpd.server_address[1]} (data: {cfg.data_folder})"
    )
    httpd.serve_forever()
