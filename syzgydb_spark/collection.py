"""The Collection: the reference's core abstraction as a Spark table.

Reference: one collection = one crash-safe append-style file with a
JSON options header, an id→offset index, and an in-memory LSH forest
rebuilt on open (/root/reference/collection.go:194-314, spanfile.go).

Here: one collection = a directory of hash-bucketed Parquet plus a tiny
per-bucket file manifest —

    <path>/options.json                  collection options (≙ the JSON
                                         header record, collection.go:241-272)
    <path>/manifest.json                 {"version": N, "buckets":
                                         {"<b>": ["v3-part-...parquet", ...]}}
                                         — the live-file list per bucket,
                                         atomically replaced (≙ spanfile's
                                         monotonic sequence numbers)
    <path>/data/bucket=<b>/v{N}-*.parquet data, hash-partitioned by
                                         pmod(xxhash64(id), n_buckets)

A mutation stages ONLY the touched buckets to a scratch directory,
renames the new files into ``data/bucket=<b>/`` (invisible to readers:
the manifest still lists the old files), atomically flips the manifest,
then deletes the replaced files. Untouched buckets are never read,
never written, and their files are byte-identical across the commit
(asserted by tests/test_collection.py::test_upsert_rewrites_only_touched_buckets).
This is a miniature Delta transaction log — on a production cluster
this layer is one ``DeltaTable.merge`` call; the semantics (last write
per id wins, readers never see partial writes) are the same ones
spanfile gets from shadow-writes + sequence numbers
(spanfile.go:282-357, 459-470). None of that machinery is rebuilt here.
A crash between staging and the manifest flip strands orphan files
that no reader ever sees; ``vacuum()`` removes them.

Schema: ``id BIGINT, vector ARRAY<...>, metadata STRING(JSON)`` with the
vector element type set by the quantization tier (SURVEY.md §1.2):
64→DOUBLE, 32→FLOAT, 16/8/4→INT codes in [0, 2^b-1] over a clamped
[-1,1] domain (quantization.go:5-36). ``df()`` always exposes the
dequantized ARRAY<DOUBLE> view.

LSH signature columns are materialized at write time when the
collection has an ANN index configured — no rebuild on open ever.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
from dataclasses import dataclass, field, asdict

logger = logging.getLogger(__name__)

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from syzgydb_spark.functions.vector import distance as dist_fn
from syzgydb_spark.operators import knn
from syzgydb_spark.operators.lsh import LshIndex
from syzgydb_spark.query.compiler import compile_filter
from syzgydb_spark.storage import (
    ManifestBackend,
    ManifestConflictError,
    is_stale_scan_error as _is_stale_scan_error,
)


# ---- write serialization (reference: per-collection RWMutex,
#      collection.go:199, 569-570 — all mutation is serialized) ----
#
# Two layers:
#   1. an in-process per-path re-entrant lock (one server process with a
#      ThreadingHTTPServer is the reference's deployment shape), and
#   2. an optimistic version CAS on the manifest flip, held under a
#      POSIX flock so a *different process* racing the same collection
#      loses cleanly (ManifestConflictError) and the caller re-merges
#      against the new manifest and retries.
# Layer 1 makes same-process writers wait instead of retry; layer 2 is
# the correctness backstop. On a production cluster this whole protocol
# is one Delta optimistic-commit; the semantics (no lost updates) match.

_LOCK_REGISTRY: dict[str, threading.RLock] = {}
_LOCK_REGISTRY_GUARD = threading.Lock()


def _mutation_lock(path: str) -> threading.RLock:
    key = os.path.abspath(path)
    with _LOCK_REGISTRY_GUARD:
        return _LOCK_REGISTRY.setdefault(key, threading.RLock())


# _is_stale_scan_error and ManifestConflictError live in
# syzgydb_spark.storage (the backend seam) and are re-exported above —
# existing imports `from syzgydb_spark.collection import
# ManifestConflictError` keep working.

#: Commit-race retry budget. 12, not a handful: an N-process writer
#: storm makes losing several consecutive CAS races NORMAL for the
#: unluckiest writer (observed: 3 writers × 4 commits each exhausted 5
#: retries on a loaded box), and each retry re-merges against the
#: fresh manifest so retrying is always correct — the budget exists
#: only to bound genuinely wedged states (e.g. a corrupt file
#: masquerading as a stale scan), not to ration contention.
_MAX_COMMIT_RETRIES = 12


def _conflict_backoff(attempt: int) -> None:
    """Jittered exponential backoff between commit-race retries.
    Without it, N writers that collided once re-collide in lockstep
    (each re-merge takes a similar wall time), burning the whole retry
    budget on the same race; the jitter de-synchronizes them. Bounded
    at 2 s so a wedged writer still fails fast-ish."""
    import random
    import time

    time.sleep(random.uniform(0.0, min(0.1 * (2 ** attempt), 2.0)))

# valid search tiers; validated up front so a typo ('ifv') errors
# instead of silently falling through to the exact full scan
_PRECISIONS = ("exact", "medium", "pq", "ivf", "ivfpq")


@dataclass
class CollectionOptions:
    """Mirrors the reference CollectionOptions (collection.go:31-48)."""

    name: str
    dimension_count: int
    distance_method: str = "euclidean"  # euclidean | cosine
    quantization: int = 64              # 4 | 8 | 16 | 32 | 64
    n_buckets: int = 16
    lsh: dict | None = None             # LshIndex.to_dict() or None
    pq: dict | None = None              # PqIndex.to_dict() or None (enable_pq)
    ivf: dict | None = None             # IvfIndex.to_dict() or None (enable_ivf)
    #: Optional declared metadata schema (DDL, e.g. "lang STRING,
    #: score DOUBLE", or "MAP<STRING, DOUBLE>"). When set, metadata is
    #: STORED as that struct/map type and ``search(filter=...)``
    #: compiles through the typed fast path (query/typed.py): the whole
    #: predicate joins whole-stage codegen and pushable conjuncts reach
    #: the parquet scan — no variant machinery. None (the default) is
    #: the reference's schemaless JSON contract.
    metadata_schema: str | None = None
    #: Promoted hot-path metadata columns (schemaless collections
    #: only): ``{"user.age": {"col": "_pv0", "type": "double"}}``.
    #: Managed by ``promote_paths()`` — each path is materialized as a
    #: plain typed column at commit time, and ``search(filter=...)``
    #: ANDs a conservative pushable shadow of the predicate over these
    #: columns next to the exact variant evaluation, so hot predicates
    #: get codegen + parquet row-group pruning without declaring a full
    #: ``metadata_schema``.
    promoted: dict | None = None
    #: Measured recall-vs-cost curves per ANN tier, written by
    #: ``calibrate_recall()``: ``{"lsh": [{"n_probes": 2, "recall":
    #: 0.84, "cand_frac": 0.06}, ...], "ivf": [...]}``. Consumed by
    #: ``search(target_recall=...)`` to pick the cheapest probe config
    #: meeting a recall target instead of hand-tuning n_probes.
    recall_curve: dict | None = None
    #: Keep replaced data files and per-version manifest copies so any
    #: prior version stays readable (``snapshot(version)``) until
    #: ``expire_history()`` prunes it — the Delta/Iceberg time-travel
    #: contract. Off by default: the reference reclaims replaced spans
    #: eagerly (spanfile free-span reuse), and so do we.
    retain_history: bool = False
    #: Write a parquet bloom filter on the ``id`` column of every data
    #: file (adaptive sizing — parquet-mr picks the bitset size from
    #: the observed NDV). Zone-map clustering sorts files by (bucket,
    #: ivf_cell, id), so once an IVF index exists ``id`` is NOT
    #: monotonic within a file and row-group min/max stats can no
    #: longer prune point lookups tightly; the bloom restores
    #: row-group-level skipping for ``id = ?`` scans at the cost of
    #: ~1-2 bytes/row. The reader side needs nothing: Spark pushes the
    #: Eq predicate and parquet-mr consults the bloom automatically.
    id_bloom_filter: bool = True
    #: Physical table format behind the Collection (the storage seam,
    #: syzgydb_spark/storage.py): "manifest" (bespoke bucketed-Parquet
    #: + JSON-manifest CAS — the single-box default every test runs)
    #: "sqlite" (same data layout, manifest in a SQLite catalog with a
    #: transactional CAS — the metastore-commit-protocol stand-in),
    #: "delta" (the Delta Lake adapter for a real cluster;
    #: import-gated on delta-spark, contract mapping in docs/DELTA.md),
    #: or "delta-sim" (the fault-injecting Delta-semantics simulator:
    #: partition-level conflicts, losers-leave-orphans, VACUUM RETAIN —
    #: runs everywhere, used to prove the adapter's behaviors).
    storage_backend: str = "manifest"

    def __post_init__(self):
        if self.storage_backend not in ("manifest", "sqlite", "delta", "delta-sim"):
            raise ValueError(f"unknown storage_backend {self.storage_backend!r}")
        if self.quantization not in (4, 8, 16, 32, 64):
            raise ValueError(f"invalid quantization {self.quantization}")
        if self.distance_method not in ("euclidean", "cosine"):
            raise ValueError(f"invalid distance method {self.distance_method}")
        if self.metadata_schema is not None:
            dt = _parse_metadata_schema(self.metadata_schema)
            if not isinstance(dt, (T.StructType, T.MapType)):
                raise ValueError(
                    f"metadata_schema must be a struct or map type, got "
                    f"{dt.simpleString()}"
                )


def _parse_metadata_schema(ddl: str):
    """DDL → DataType; bare field lists ("a STRING, b DOUBLE") parse as
    a struct, full type strings ("MAP<STRING, DOUBLE>") as themselves."""
    try:
        return T._parse_datatype_string(ddl)
    except Exception as e:
        raise ValueError(f"invalid metadata_schema {ddl!r}: {e}") from e


def _quantize_expr(col, bits: int):
    """Encode: clamp [-1,1] → [0, 2^bits - 1] int codes for 4/8/16;
    raw float32/float64 for 32/64 (quantization.go:5-36,
    collection.go:713-744)."""
    if bits == 64:
        return col.cast("array<double>")
    if bits == 32:
        return col.cast("array<float>")
    steps = float((1 << bits) - 1)
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.round((F.least(F.greatest(x, F.lit(-1.0)), F.lit(1.0)) + 1.0) / 2.0 * steps)
        .cast("int"),
    )


def _dequantize_expr(col, bits: int):
    if bits in (32, 64):
        return col.cast("array<double>")
    steps = float((1 << bits) - 1)
    return F.transform(col, lambda q: q.cast("double") / steps * 2.0 - 1.0)


class Collection:
    SCHEMA_BASE = "id BIGINT, vector ARRAY<DOUBLE>, metadata STRING"

    def __init__(self, spark: SparkSession, path: str, options: CollectionOptions):
        self.spark = spark
        self.path = path
        self.options = options
        self._lock = _mutation_lock(path)
        # (snapshot key, decoded view) of the last live read; see df()
        self._live = None
        # the storage seam: every manifest/commit/vacuum/history call
        # below goes through this object; swapping the table format
        # means swapping this one attribute (see syzgydb_spark/storage.py
        # and docs/DELTA.md)
        if options.storage_backend == "delta":
            from syzgydb_spark.storage import DeltaBackend

            self.storage = DeltaBackend(
                spark, path, retain_history=options.retain_history
            )
        elif options.storage_backend == "sqlite":
            from syzgydb_spark.storage import SqliteCatalogBackend

            self.storage = SqliteCatalogBackend(
                path, retain_history=options.retain_history
            )
        elif options.storage_backend == "delta-sim":
            from syzgydb_spark.storage import FaultInjectingBackend

            self.storage = FaultInjectingBackend(
                path, retain_history=options.retain_history
            )
        else:
            self.storage = ManifestBackend(
                path, retain_history=options.retain_history
            )
        self.metadata_type = (
            _parse_metadata_schema(options.metadata_schema)
            if options.metadata_schema
            else None
        )
        if options.lsh is not None:
            # the collection already knows dim/method — default them
            # (plus the tuning constants, reference collection.go:292:
            # numTrees=5; planes sized like its tree depth) so
            # ``lsh={}`` or ``lsh={"num_tables": 8}`` just works
            # instead of KeyError'ing on keys the caller shouldn't
            # have to repeat. Unknown keys error loudly (a typo like
            # 'num_table' would otherwise silently use the default).
            lsh_conf = dict(options.lsh)
            lsh_conf.setdefault("dim", options.dimension_count)
            lsh_conf.setdefault("method", options.distance_method)
            lsh_conf.setdefault("seed", 42)
            lsh_conf.setdefault("num_tables", 5)
            lsh_conf.setdefault("num_planes", 8)
            known = {"dim", "num_tables", "num_planes", "seed", "method", "bucket_width"}
            unknown = set(lsh_conf) - known
            if unknown:
                raise ValueError(
                    f"unknown lsh option(s) {sorted(unknown)}; expected {sorted(known)}"
                )
            self.index = LshIndex.from_dict(lsh_conf)
            # persist the RESOLVED config so reopen never re-defaults
            self.options.lsh = self.index.to_dict()
        else:
            self.index = None
        if options.pq:
            from syzgydb_spark.operators.pq import PqIndex

            self.pq_index = PqIndex.from_dict(options.pq)
        else:
            self.pq_index = None
        if options.ivf:
            from syzgydb_spark.operators.ivf import IvfIndex

            self.ivf_index = IvfIndex.from_dict(options.ivf)
        else:
            self.ivf_index = None

    # ---- lifecycle (reference NewCollection, collection.go:224-314) ----
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        options: CollectionOptions,
        *,
        overwrite: bool = False,
    ) -> "Collection":
        if os.path.exists(os.path.join(path, "options.json")):
            if not overwrite:
                raise FileExistsError(f"collection exists at {path}")
            shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "options.json"), "w") as f:
            json.dump(asdict(options), f, indent=2)
        coll = cls(spark, path, options)
        coll.storage.initialize()
        return coll

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "Collection":
        with open(os.path.join(path, "options.json")) as f:
            opts = CollectionOptions(**json.load(f))
        return cls(spark, path, opts)

    def _empty_df(self) -> DataFrame:
        df = self.spark.createDataFrame([], self.SCHEMA_BASE)
        return self._encode(df)

    # ---- storage (thin delegations through the backend seam; the
    #      names and contracts are the ones every mutation loop and
    #      test pins — see syzgydb_spark/storage.py for the contract
    #      table and docs/DELTA.md for the cluster mapping) ----
    def _manifest(self) -> dict:
        return self.storage.read_manifest()

    def _data_dir(self) -> str:
        return self.storage.data_dir()

    def _flip_manifest(self, manifest: dict, *, expected_version: int | None = None) -> None:
        """Atomically publish ``manifest``; with ``expected_version`` a
        cross-process CAS (ManifestConflictError on a lost race). Kept
        as a Collection method — not just backend-internal — because
        the commit path routes its publish step through it, so tests
        (and subclasses) can intercept the flip on an instance."""
        self.storage.flip_manifest(manifest, expected_version=expected_version)

    def _commit_buckets(
        self,
        encoded: DataFrame,
        touched: list[int],
        *,
        base_manifest: dict | None = None,
    ) -> None:
        """Replace the live files of exactly ``touched`` buckets with the
        rows of ``encoded`` (which must contain only those buckets).

        stage → rename-in (invisible: manifest still lists old files) →
        atomic CAS manifest flip → delete replaced files. Buckets not in
        ``touched`` are untouched on disk. At cluster scale the rename
        step is a metadata-only move and the manifest is the analog of a
        Delta log commit; file listing never requires a directory scan.
        On a CAS conflict the just-renamed files are removed (they were
        never visible) and ManifestConflictError propagates so the
        caller can re-merge against the winner's manifest and retry.

        ``base_manifest`` MUST be the same manifest snapshot the caller
        used to READ the rows it merged (every mutation loop passes it):
        the CAS then guards the full read-merge-write span. If this
        method re-read the manifest itself, a cross-process commit
        landing between the caller's read and this commit would pass
        the CAS and silently revert the other writer's rows — a lost
        update the eager-delete path only caught by accident (the stale
        scan hit deleted files) and ``retain_history`` would not catch
        at all.

        The mechanics live in the storage backend
        (ManifestBackend.commit_buckets); the publish step routes back
        through ``self._flip_manifest`` so instance-level interception
        (the crash/race tests) still guards the real commit path.
        """
        manifest = base_manifest if base_manifest is not None else self._manifest()
        self.storage.commit_buckets(
            encoded,
            touched,
            manifest,
            bloom_on_id=self.options.id_bloom_filter,
            flip_fn=self._flip_manifest,
        )

    def vacuum(self, *, grace_seconds: float = 300.0) -> int:
        """Delete data files not referenced by the live manifest — or,
        with history retained, by ANY retained version's manifest
        (orphans from a crash between staging and the manifest flip).
        Returns the number of files removed.

        Holds the mutation lock against in-process writers. A writer
        in ANOTHER process is invisible to the lock, and between its
        rename-in and its manifest flip its files look exactly like
        orphans — deleting them would make the winning flip reference
        missing data. Those in-flight files are distinguishable: an
        uncommitted file's ``v{N}-`` prefix is AHEAD of the live
        manifest version, so unreferenced future-version files younger
        than ``grace_seconds`` are skipped (Delta's VACUUM retention
        contract). Crash debris ages past the window or falls behind
        the version counter and is reclaimed on a later pass; pass
        ``grace_seconds=0`` when no other writer can be active to
        reclaim a known-dead commit immediately."""
        with self._lock:
            return self._vacuum_locked(grace_seconds=grace_seconds)

    def _vacuum_locked(self, grace_seconds: float = 300.0) -> int:
        return self.storage.vacuum(grace_seconds=grace_seconds)

    # ---- history / time travel (extension; the reference reclaims
    #      replaced spans eagerly and keeps no versions) ----
    def _history_dir(self) -> str:
        return self.storage.history_dir()

    def history(self) -> list[int]:
        """Readable versions, ascending. Without ``retain_history`` only
        the live version is readable."""
        return self.storage.history()

    def _manifest_at(self, version: int) -> dict:
        return self.storage.manifest_at(version)

    def _referenced_files(self) -> set[tuple[str, str]]:
        return self.storage.referenced_files()

    def snapshot(self, version: int) -> DataFrame:
        """Decoded view of the collection as of ``version`` (time
        travel). Columns added by later index enables (pq_code,
        ivf_cell, lsh signatures) are projected only if the snapshot's
        files actually carry them."""
        raw = self._raw(manifest=self._manifest_at(version))
        have = set(raw.columns)
        cols = []
        if self.index is not None:
            cols += [c for c in self.index.sig_cols() if c in have]
        if self.pq_index is not None and "pq_code" in have:
            cols.append("pq_code")
        if self.ivf_index is not None and "ivf_cell" in have:
            cols.append("ivf_cell")
        return self._decode(raw, cols)

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Row-level change feed between two readable versions (CDC —
        the lakehouse 'table_changes' contract): one row per id whose
        content differs, ``change`` ∈ insert | update | delete, with
        the v_to image for inserts/updates and the v_from image for
        deletes. Requires ``retain_history`` (or v_from == v_to == the
        live version). Plan: one full-outer equi-join of the two
        snapshots on id — both sides hash-partition on the id, nothing
        wider; unchanged rows are filtered by an eqNullSafe comparison
        inside the join's own stage."""
        a = self.snapshot(v_from).select(
            "id",
            F.col("vector").alias("_va"),
            F.col("metadata").alias("_ma"),
            F.lit(True).alias("_pa"),
        )
        b = self.snapshot(v_to).select(
            "id",
            F.col("vector").alias("_vb"),
            F.col("metadata").alias("_mb"),
            F.lit(True).alias("_pb"),
        )
        j = a.join(b, "id", "full_outer")
        in_a = F.col("_pa").isNotNull()
        in_b = F.col("_pb").isNotNull()
        change = (
            F.when(~in_a, F.lit("insert"))
            .when(~in_b, F.lit("delete"))
            .when(
                F.col("_va").eqNullSafe(F.col("_vb"))
                & F.col("_ma").eqNullSafe(F.col("_mb")),
                F.lit(None),
            )
            .otherwise(F.lit("update"))
        )
        return (
            j.withColumn("change", change)
            .where(F.col("change").isNotNull())
            .select(
                "id",
                "change",
                F.when(F.col("change") == "delete", F.col("_va"))
                .otherwise(F.col("_vb"))
                .alias("vector"),
                F.when(F.col("change") == "delete", F.col("_ma"))
                .otherwise(F.col("_mb"))
                .alias("metadata"),
            )
        )

    def expire_history(self, keep_last: int = 1) -> int:
        """Drop all but the ``keep_last`` most recent versions (the live
        version always survives), then delete data files no remaining
        manifest references. Returns the number of data files removed —
        the time-travel analog of Delta's VACUUM retention."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        with self._lock:
            versions = self.history()
            live_v = self._manifest()["version"]
            keep = set(versions[-keep_last:]) | {live_v}
            self.storage.drop_history_except(keep)
            return self.vacuum()

    def compact(self, buckets: list[int] | None = None) -> dict:
        """Rewrite buckets whose live file count exceeds one into a
        single file each (small-file compaction). Every commit writes
        exactly one file per touched bucket (``commit_buckets``), so
        only buckets last written by an older version of this library
        — which wrote one file per bucket per write task, and kept
        adding files with each commit — can hold more than one; on
        anything else this is a no-op that runs no Spark job. The
        rewrite is an ordinary commit of just those buckets.
        Runs under the same lock + CAS-retry protocol as any mutation —
        concurrent upserts either serialize before or retry after. At
        100 TB you'd bound output file size instead with
        ``spark.sql.files.maxRecordsPerFile``; bucket granularity here
        is n_buckets-tunable. Readers are never blocked (old files stay
        until the flip; with ``retain_history`` they stay readable via
        ``snapshot()``)."""
        with self._lock:
            for _attempt in range(_MAX_COMMIT_RETRIES):
                if _attempt:
                    _conflict_backoff(_attempt)
                # bucket selection, read, and commit all run against ONE
                # manifest snapshot taken under the lock — a concurrent
                # commit forces a retry that re-selects (so buckets
                # fragmented meanwhile are picked up, and the returned
                # stats describe what was actually compacted)
                man = self._manifest()
                todo = sorted(
                    int(b) for b, files in man["buckets"].items()
                    if len(files) > 1 and (buckets is None or int(b) in buckets)
                )
                if not todo:
                    return {
                        "buckets_compacted": 0,
                        "files_before": 0,
                        "files_after": 0,
                    }
                before = sum(len(man["buckets"][str(b)]) for b in todo)
                try:
                    enc = self._raw(buckets=todo, manifest=man)
                    self._commit_buckets(enc, todo, base_manifest=man)
                    break
                except ManifestConflictError:
                    continue
            else:
                raise ManifestConflictError(
                    f"compaction lost the commit race {_MAX_COMMIT_RETRIES} times"
                )
        after = sum(
            len(self._manifest()["buckets"].get(str(b), [])) for b in todo
        )
        return {
            "buckets_compacted": len(todo),
            "files_before": before,
            "files_after": after,
        }

    def _meta_expr(self, df: DataFrame):
        """The stored metadata expression: the raw JSON string
        (reference contract) or, on a schema'd collection, the declared
        struct/map type — JSON-string inputs are parsed at WRITE time so
        every later read is a plain typed column."""
        if self.metadata_type is None:
            return F.col("metadata").cast("string")
        if df.schema["metadata"].dataType == self.metadata_type:
            return F.col("metadata")
        return F.from_json(F.col("metadata").cast("string"), self.metadata_type)

    def _encode(self, df: DataFrame) -> DataFrame:
        """id/vector/metadata → stored layout (quantized vector, bucket,
        signature columns)."""
        out = df.select(
            F.col("id").cast("long"),
            _quantize_expr(F.col("vector"), self.options.quantization).alias("vector_enc"),
            self._meta_expr(df).alias("metadata"),
        ).withColumn("bucket", F.pmod(F.xxhash64("id"), F.lit(self.options.n_buckets)))
        if self.options.promoted and self.metadata_type is None:
            from syzgydb_spark.query.promoted import promoted_col

            for path, spec in self.options.promoted.items():
                out = out.withColumn(
                    spec["col"],
                    promoted_col(F.col("metadata"), path, spec["type"]),
                )
        if self.index is not None:
            dec = _dequantize_expr(F.col("vector_enc"), self.options.quantization)
            out = self.index.with_signatures(out.withColumn("_vec", dec), "_vec").drop("_vec")
        if self.pq_index is not None:
            dec = _dequantize_expr(F.col("vector_enc"), self.options.quantization)
            out = self.pq_index.encode(out.withColumn("_vec", dec), "_vec").drop("_vec")
        if self.ivf_index is not None:
            dec = _dequantize_expr(F.col("vector_enc"), self.options.quantization)
            out = self.ivf_index.with_cells(out.withColumn("_vec", dec), "_vec").drop("_vec")
        return out

    def _raw(
        self,
        buckets: list[int] | None = None,
        *,
        manifest: dict | None = None,
    ) -> DataFrame:
        """Live-file scan. With ``buckets``, list ONLY those buckets'
        files — at 100 TB a point mutation must not even open the other
        buckets' parquet footers (VERDICT r2 #2). With ``manifest``, scan
        that (historical) file list instead of the live one.

        The ``read.parquet`` CALL is itself a file access (schema
        inference reads a parquet footer eagerly), so a cross-process
        reclaim landing between the manifest snapshot and this line
        throws here, before any guarded action — the 3-process storm
        test caught exactly that escape under load. Construction-time
        stale scans therefore convert like action-time ones: with a
        caller-pinned ``manifest`` they raise ``ManifestConflictError``
        (the caller's CAS loop re-merges on a fresh snapshot); a live
        read simply re-snapshots and retries here, which for a reader
        is just "see the newest committed state"."""
        if manifest is None:
            return self._on_live_snapshot(lambda man: self._scan(man, buckets))
        try:
            return self._scan(manifest, buckets)
        except Exception as e:
            if not _is_stale_scan_error(e):
                raise
            raise ManifestConflictError(
                "data file reclaimed by a concurrent commit during "
                "scan construction; re-merge on a fresh manifest"
            ) from e

    def _scan(self, manifest: dict, buckets: list[int] | None = None) -> DataFrame:
        """A new parquet scan of ``manifest``'s files (of ``buckets``
        only, when given). Builds the relation eagerly: Spark lists the
        files (a parallel listing job above 32 paths) and reads a footer
        for the schema."""
        paths = self.storage.data_paths(manifest, buckets)
        if not paths:
            # an empty collection has no parquet footers to infer from
            return self._empty_df()
        # basePath keeps `bucket` as a partition column → partition
        # pruning on bucket-equality predicates is free
        return self.spark.read.option("basePath", self._data_dir()).parquet(*paths)

    def _on_live_snapshot(self, read):
        """``read(manifest)`` on the live manifest. A stale-scan error
        (a cross-process commit reclaimed one of the snapshot's files
        while the scan was being built) re-snapshots and retries."""
        for _attempt in range(_MAX_COMMIT_RETRIES):
            if _attempt:
                _conflict_backoff(_attempt)
            try:
                return read(self._manifest())
            except Exception as e:
                if not _is_stale_scan_error(e):
                    raise
        raise ManifestConflictError(
            f"live scan lost the reclaim race {_MAX_COMMIT_RETRIES} times"
        )

    def _buckets_for_ids(self, ids) -> list[int]:
        """``bucket = pmod(xxhash64(id), n_buckets)`` is a closed-form
        function of the id — evaluate the same expression ``_encode``
        uses on a literal local relation (no table access)."""
        df = self.spark.createDataFrame([(int(i),) for i in ids], "id BIGINT")
        rows = (
            df.select(
                F.pmod(F.xxhash64("id"), F.lit(self.options.n_buckets)).alias("b")
            )
            .distinct()
            .collect()
        )
        return sorted(r["b"] for r in rows)

    def _index_cols(self) -> list[str]:
        """Stored columns the decoded view carries after id, vector and
        metadata: LSH signatures, ``pq_code``, ``ivf_cell`` and the
        promoted hot-path columns, as configured on this instance."""
        cols = []
        if self.index is not None:
            cols += self.index.sig_cols()
        if self.pq_index is not None:
            cols.append("pq_code")
        if self.ivf_index is not None:
            cols.append("ivf_cell")
        if self.options.promoted and self.metadata_type is None:
            # promoted hot-path columns ride along so the pushdown
            # shadow of a filter can bind to them (result projections
            # drop them at the end of every search path)
            cols += [s["col"] for s in self.options.promoted.values()]
        return cols

    def _decode(self, raw: DataFrame, cols=()) -> DataFrame:
        """Stored layout → id, vector ARRAY<DOUBLE>, metadata, ``cols``."""
        return raw.select(
            F.col("id"),
            _dequantize_expr(F.col("vector_enc"), self.options.quantization).alias(
                "vector"
            ),
            F.col("metadata"),
            *cols,
        )

    def df(
        self,
        buckets: list[int] | None = None,
        *,
        manifest: dict | None = None,
    ) -> DataFrame:
        """Decoded view: id, vector ARRAY<DOUBLE>, metadata (+ lsh sigs,
        pq_code, ivf_cell, promoted columns).

        The live read (no ``buckets``, no pinned ``manifest``) is what
        ``search``, ``search_many``, ``count``, ``get_all_ids`` and
        ``stats`` share. It reads the manifest on every call, but the
        scan it returns is built once per snapshot: while the manifest
        names the same bucket → file lists and this instance projects
        the same columns, the view built for that snapshot is returned
        again. Building one costs a schema footer read job (~0.3 s for
        the 16 files of a 20,000 × 64 collection on a 4-core host),
        plus a parallel file-listing job when the snapshot names more
        than 32 files (more than 32 buckets, or buckets an older
        version left fragmented; every commit writes one file per
        bucket), so a search on an unchanged collection runs only its
        own job. This
        is safe because data files are immutable and versioned
        (``v{N}-…parquet``; a commit only ever adds new names) and a
        file the live manifest names is never deleted, so the file
        index captured for a snapshot stays valid as long as the
        manifest lists it. Any commit, from this instance, another
        instance or another process, changes the map and the next call
        builds a new scan. Only the latest snapshot is kept. Bucket-
        pruned and pinned-manifest reads (every mutation,
        ``snapshot()``) always build a new scan."""
        if buckets is not None or manifest is not None:
            return self._decode(
                self._raw(buckets, manifest=manifest), self._index_cols()
            )
        return self._on_live_snapshot(self._live_view)

    def _live_view(self, manifest: dict) -> DataFrame:
        cols = self._index_cols()
        key = (
            sorted((b, tuple(files)) for b, files in manifest["buckets"].items()),
            cols,
        )
        # one (key, view) pair swapped as a whole: concurrent readers
        # see either the old pair or the new one, and two that miss
        # together each build a correct view (the last one stays)
        cached = self._live
        if cached is not None and cached[0] == key:
            return cached[1]
        view = self._decode(self._scan(manifest), cols)
        self._live = (key, view)
        return view

    def _decoded_plain(self, manifest: dict) -> DataFrame:
        """(id, vector, metadata) decoded view of a manifest snapshot
        WITHOUT index-column projection — the reindex paths read the
        pre-index files through this while the new index is already
        installed on the instance (df() would project the not-yet-
        existing index columns)."""
        return self._decode(self._raw(manifest=manifest))

    # ---- mutation (AddDocument / UpdateDocument / removeDocument,
    #      collection.go:427-521) ----
    def add_documents(self, docs) -> None:
        """Upsert rows ``(id, vector, metadata)`` — last write per id
        wins, like the reference's overwrite-on-same-id
        (collection.go:427-457). Accepts a DataFrame or a list of
        (id, vector, metadata_json) tuples. Only buckets containing
        touched ids are rewritten."""
        if not isinstance(docs, DataFrame):
            # tolerate int-valued vectors ([1, 0, 0, 0]) — createDataFrame's
            # DoubleType verifier rejects Python ints with an opaque error —
            # and dict/list metadata in place of a JSON string
            rows = [
                (
                    seq,
                    i,
                    [float(x) for x in v] if v is not None else None,
                    m if isinstance(m, (str, type(None))) else json.dumps(m),
                )
                for seq, (i, v, m) in enumerate(docs)
            ]
            docs = self.spark.createDataFrame(
                rows, "_seq BIGINT, " + self.SCHEMA_BASE
            )
        # ONE pre-encode pass computes dimension validation AND the
        # touched-bucket set together (the bucket is closed-form on the
        # id, same expression as _encode/_buckets_for_ids) — previously
        # validation was its own count() action over the batch.
        # NULL-size (null vector) is not a mismatch, as before.
        # count vs count_distinct also detects batch-internal duplicate
        # ids, which must resolve LAST-write-wins (the reference applies
        # AddDocument sequentially, collection.go:427-457) — a plain
        # union would store BOTH rows for the id.
        bad_flag = F.coalesce(
            F.size("vector") != self.options.dimension_count, F.lit(False)
        )
        try:
            stats = (
                docs.groupBy(
                    F.pmod(F.xxhash64(F.col("id").cast("long")),
                           F.lit(self.options.n_buckets)).alias("bucket")
                )
                .agg(
                    F.max(bad_flag).alias("bad"),
                    F.count("*").alias("n"),
                    F.count_distinct("id").alias("nd"),
                )
                .collect()
            )
        except Exception as e:
            if _is_stale_scan_error(e):
                # the CALLER's input DataFrame read files a concurrent
                # commit reclaimed (e.g. a plan derived from this
                # collection's own snapshot). A retry here cannot help —
                # the stale file list is pinned inside the caller's
                # plan — so surface the documented conflict type instead
                # of a raw FAILED_READ_FILE for the caller to rebuild on.
                raise ManifestConflictError(
                    "input relation scanned reclaimed data files; rebuild "
                    "the input DataFrame from a fresh snapshot and retry"
                ) from e
            raise
        if any(r["bad"] for r in stats):
            raise ValueError(
                f"vector dimension mismatch: expected {self.options.dimension_count}"
            )  # collection.go:432-434
        if any(r["n"] != r["nd"] for r in stats):
            # duplicate ids within the batch: list inputs keep the LAST
            # occurrence (exact reference parity — sequential
            # overwrite); DataFrame inputs have no order, so the winner
            # is the same arbitrary-but-deterministic tie-break the
            # streaming sink uses (metadata, then vector hash)
            order = (
                [F.col("_seq").desc()]
                if "_seq" in docs.columns
                else [
                    F.col("metadata").cast("string").desc_nulls_last(),
                    F.xxhash64("vector").desc_nulls_last(),
                ]
            )
            w = Window.partitionBy("id").orderBy(*order)
            docs = (
                docs.withColumn("_dup_rn", F.row_number().over(w))
                .where(F.col("_dup_rn") == 1)
                .drop("_dup_rn")
            )
        if "_seq" in docs.columns:
            docs = docs.drop("_seq")
        new_enc = self._encode(docs)
        self._merge(new_enc, touched=sorted(r["bucket"] for r in stats))

    def _merge(self, new_enc: DataFrame, touched: list[int] | None = None) -> None:
        """Bucket-pruned upsert: read ONLY the buckets containing new
        ids, drop their overwritten rows, and commit those buckets —
        everything else stays on disk untouched. Serialized against
        concurrent writers (in-process lock + CAS retry)."""
        new_enc = new_enc.cache()
        try:
            if touched is None:
                touched = [
                    r["bucket"] for r in new_enc.select("bucket").distinct().collect()
                ]
            with self._lock:
                for _attempt in range(_MAX_COMMIT_RETRIES):
                    if _attempt:
                        _conflict_backoff(_attempt)
                    # ONE manifest snapshot spans read AND commit: the
                    # CAS guards the whole read-merge-write, so a
                    # cross-process commit landing in between forces a
                    # retry instead of being silently reverted
                    man = self._manifest()
                    try:
                        cur = self._raw(buckets=touched, manifest=man)
                        kept = cur.join(
                            new_enc.select("id"), on="id", how="left_anti"
                        )
                        merged = kept.unionByName(new_enc.select(kept.columns))
                        self._commit_buckets(merged, touched, base_manifest=man)
                        return
                    except ManifestConflictError:
                        continue
                raise ManifestConflictError(
                    f"upsert lost the commit race {_MAX_COMMIT_RETRIES} times"
                )
        finally:
            new_enc.unpersist()

    def update_metadata(self, doc_id: int, metadata: str) -> None:
        """Metadata-only update keeping the stored (quantized) vector
        (collection.go:490-509). The document's bucket is computed
        closed-form from the id — only that bucket's files are ever
        opened or rewritten."""
        [b] = self._buckets_for_ids([doc_id])
        with self._lock:
            for _attempt in range(_MAX_COMMIT_RETRIES):
                if _attempt:
                    _conflict_backoff(_attempt)
                man = self._manifest()
                try:
                    cur = self._raw(buckets=[b], manifest=man)
                    exists = cur.where(F.col("id") == doc_id).limit(1).count()
                except ManifestConflictError:
                    continue  # reclaimed at scan construction
                except Exception as e:
                    if _is_stale_scan_error(e):
                        continue  # cross-process reclaim; fresh manifest
                    raise
                if not exists:
                    raise KeyError(f"document {doc_id} not found")
                new_meta = (
                    F.from_json(F.lit(metadata), self.metadata_type)
                    if self.metadata_type is not None
                    else F.lit(metadata)
                )
                updated = cur.withColumn(
                    "metadata",
                    F.when(F.col("id") == doc_id, new_meta).otherwise(
                        F.col("metadata")
                    ),
                )
                if self.options.promoted and self.metadata_type is None:
                    # promoted columns derive from metadata — recompute
                    # for the rewritten bucket or the hint goes stale
                    # (a stale value would wrongly exclude the updated
                    # row from promoted-conjunct searches)
                    from syzgydb_spark.query.promoted import promoted_col

                    for path, spec in self.options.promoted.items():
                        updated = updated.withColumn(
                            spec["col"],
                            promoted_col(F.col("metadata"), path, spec["type"]),
                        )
                try:
                    self._commit_buckets(updated, [b], base_manifest=man)
                    return
                except ManifestConflictError:
                    continue
            raise ManifestConflictError(
                f"update lost the commit race {_MAX_COMMIT_RETRIES} times"
            )

    def remove(self, ids) -> None:
        """Delete by id, rewriting only the buckets that contain the ids
        (collection.go:511-521). Candidate buckets come closed-form from
        the ids — never a full-table scan."""
        if isinstance(ids, int):
            ids = [ids]
        ids = list(ids)
        if not ids:
            return
        candidates = self._buckets_for_ids(ids)
        with self._lock:
            for _attempt in range(_MAX_COMMIT_RETRIES):
                if _attempt:
                    _conflict_backoff(_attempt)
                man = self._manifest()
                live = set(man["buckets"])
                probe = [b for b in candidates if str(b) in live]
                if not probe:
                    return
                try:
                    cur = self._raw(buckets=probe, manifest=man)
                    touched = [
                        r["bucket"]
                        for r in cur.where(F.col("id").isin(ids))
                        .select("bucket")
                        .distinct()
                        .collect()
                    ]
                except ManifestConflictError:
                    continue  # reclaimed at scan construction
                except Exception as e:
                    if _is_stale_scan_error(e):
                        # a cross-process commit reclaimed one of this
                        # snapshot's files mid-probe — same conflict the
                        # commit path converts; retry on fresh manifest
                        continue
                    raise
                if not touched:
                    return
                kept = cur.where(F.col("bucket").isin(touched)).where(
                    # NULL-safe: ~isin is NULL (not true) for a NULL
                    # id, which would silently delete null-id rows
                    # that were never named
                    F.coalesce(~F.col("id").isin(ids), F.lit(True))
                )
                try:
                    self._commit_buckets(kept, touched, base_manifest=man)
                    return
                except ManifestConflictError:
                    continue
            raise ManifestConflictError(
                f"delete lost the commit race {_MAX_COMMIT_RETRIES} times"
            )

    # ---- reads ----
    def get(self, doc_id: int) -> Row | None:
        """Point lookup — opens only the id's bucket (closed-form)."""
        [b] = self._buckets_for_ids([doc_id])
        rows = self.df(buckets=[b]).where(F.col("id") == doc_id).collect()
        return rows[0] if rows else None

    def get_all_ids(self) -> list[int]:
        """Numerically sorted ids (reference GetAllIDs,
        collection.go:326-342; note the reference's *listing* path
        sorts ids lexicographically as strings, spanfile.go:540-560 — a
        quirk we deliberately do not reproduce)."""
        return [r["id"] for r in self.df().select("id").orderBy("id").collect()]

    def count(self) -> int:
        return self.df().count()

    def stats(self, samples: int = 100, seed: int = 42) -> dict:
        """CollectionStats incl. sampled average pairwise distance
        (collection.go:67-96, 348-400: ``samples`` random pairs)."""
        n = self.count()
        avg_dist = None
        if n >= 2:
            frac = min(1.0, (4 * samples) / n)
            s = self.df().select("id", "vector").sample(frac, seed=seed).limit(2 * samples)
            a = s.withColumnRenamed("vector", "va").withColumnRenamed("id", "ia")
            b = s.withColumnRenamed("vector", "vb").withColumnRenamed("id", "ib")
            pairs = (
                a.crossJoin(b)
                .where(F.col("ia") < F.col("ib"))
                .limit(samples)
                .select(dist_fn("va", "vb", self.options.distance_method).alias("d"))
            )
            row = pairs.agg(F.avg("d").alias("avg")).collect()[0]
            avg_dist = row["avg"]
        size = 0
        for root, _, files in os.walk(self._data_dir()):
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return {
            "document_count": n,
            "dimension_count": self.options.dimension_count,
            "quantization": self.options.quantization,
            "distance_method": self.options.distance_method,
            "storage_size": size,
            "average_distance": avg_dist,
        }

    # ---- text ingestion / search (reference embedding flow:
    #      rest.go:250-292 batches text→vector before AddDocument;
    #      rest.go:439-448 embeds the query text) ----
    def add_texts(self, rows, *, model_fn=None) -> None:
        """Upsert ``(id, text, metadata_json)`` rows, embedding the text
        batch-wise (one model call per Arrow batch — the reference's
        one piece of batched execution, rest.go:250-272)."""
        from syzgydb_spark.embedding import embed_text

        df = rows if isinstance(rows, DataFrame) else self.spark.createDataFrame(
            rows, "id BIGINT, text STRING, metadata STRING"
        )
        embedded = embed_text(
            self.spark, df, text_col="text",
            dim=self.options.dimension_count, model_fn=model_fn,
        ).select("id", F.col("embedding").alias("vector"), "metadata")
        self.add_documents(embedded)

    def enable_pq(
        self,
        *,
        m: int = 8,
        k: int = 256,
        seed: int = 42,
        max_sample: int = 100_000,
    ) -> None:
        """Fit a product-quantization codebook on the current data and
        reindex: every bucket is rewritten once with an ``pq_code``
        column (M bytes/row), codebooks persist in options.json, and
        subsequent writes encode incrementally in ``_encode`` — open()
        never refits (the reference rebuilds its whole ANN index on
        every open, collection.go:297-311; here the index is columns).

        One-time full rewrite by design — the same cost profile as
        building any secondary index. ``search(precision='pq')`` then
        scans codes instead of float vectors."""
        from syzgydb_spark.operators.pq import PqIndex

        if self.options.dimension_count % m != 0:
            raise ValueError(
                f"dimension_count {self.options.dimension_count} not divisible by m={m}"
            )
        idx = PqIndex.fit(
            self.df(),
            "vector",
            m=m,
            k=k,
            method=self.options.distance_method,
            max_sample=max_sample,
            seed=seed,
        )
        with self._lock:  # serialize vs concurrent writers (same CAS backstop)
            prev_opt, prev_idx = self.options.pq, self.pq_index
            self.options.pq = idx.to_dict()
            self.pq_index = idx
            try:
                # reindex: rewrite every live bucket with the code
                # column; CAS-retry like every other mutation, with the
                # decoded view rebuilt INDEX-FREE per attempt (the old
                # files don't carry pq_code yet, so df()'s projection
                # can't be used while the index is installed)
                for _attempt in range(_MAX_COMMIT_RETRIES):
                    if _attempt:
                        _conflict_backoff(_attempt)
                    man = self._manifest()
                    decoded = self._decoded_plain(man)
                    touched = [int(b) for b in man["buckets"]]
                    if not touched:
                        break
                    try:
                        self._commit_buckets(
                            self._encode(decoded), touched, base_manifest=man
                        )
                        break
                    except ManifestConflictError:
                        continue
                else:
                    raise ManifestConflictError(
                        f"reindex lost the commit race {_MAX_COMMIT_RETRIES} times"
                    )
            except BaseException:
                # memory state must not claim an index the files and
                # options.json don't have
                self.options.pq, self.pq_index = prev_opt, prev_idx
                raise
            with open(os.path.join(self.path, "options.json"), "w") as f:
                json.dump(asdict(self.options), f, indent=2)

    def enable_ivf(
        self,
        *,
        n_clusters: int = 64,
        seed: int = 42,
        max_sample: int = 100_000,
    ) -> None:
        """Fit the IVF coarse quantizer (MLlib KMeans on a bounded
        sample) on the current data and reindex: every bucket is
        rewritten once with an ``ivf_cell`` INT column, centers persist
        in options.json, and subsequent writes assign cells
        incrementally in ``_encode`` — open() never refits. At cluster
        scale the low-cardinality cell column is exactly what parquet
        row-group statistics prune on, so ``search(precision='ivf')``
        probing n cells reads ~n/n_clusters of the data.

        Third index tier next to LSH (create-time option) and PQ
        (enable_pq); all three are columns, never a driver-side
        structure — the reference instead rebuilds its in-memory LSH
        forest on every open (collection.go:297-311)."""
        from syzgydb_spark.operators.ivf import IvfIndex

        idx = IvfIndex.fit(
            self.df().select("id", "vector"),
            "vector",
            n_clusters=n_clusters,
            method=self.options.distance_method,
            max_sample=max_sample,
            seed=seed,
        )
        with self._lock:  # serialize vs concurrent writers (same CAS backstop)
            prev_opt, prev_idx = self.options.ivf, self.ivf_index
            self.options.ivf = idx.to_dict()
            self.ivf_index = idx
            try:
                # same retry/rollback protocol as enable_pq (see there)
                for _attempt in range(_MAX_COMMIT_RETRIES):
                    if _attempt:
                        _conflict_backoff(_attempt)
                    man = self._manifest()
                    decoded = self._decoded_plain(man)
                    touched = [int(b) for b in man["buckets"]]
                    if not touched:
                        break
                    try:
                        self._commit_buckets(
                            self._encode(decoded), touched, base_manifest=man
                        )
                        break
                    except ManifestConflictError:
                        continue
                else:
                    raise ManifestConflictError(
                        f"reindex lost the commit race {_MAX_COMMIT_RETRIES} times"
                    )
            except BaseException:
                self.options.ivf, self.ivf_index = prev_opt, prev_idx
                raise
            with open(os.path.join(self.path, "options.json"), "w") as f:
                json.dump(asdict(self.options), f, indent=2)

    def promote_paths(self, paths: dict[str, str]) -> None:
        """Materialize hot metadata paths as plain typed columns on a
        SCHEMALESS collection: ``promote_paths({"user.age": "double",
        "status": "string"})``. Every bucket is rewritten once with the
        promoted columns (computed exactly as the filter language reads
        the path — query/promoted.promoted_col), and subsequent writes
        maintain them in ``_encode``. ``search(filter=...)`` then ANDs
        a conservative pushable shadow of the predicate over these
        columns next to the exact variant evaluation: hot conjuncts
        reach whole-stage codegen and the parquet scan (row-group
        pruning) while the long tail of cold paths stays schemaless —
        the per-path version of declaring ``metadata_schema``.

        Types: 'double' | 'string' | 'boolean'. Promoting on a typed
        collection is an error (it already has the full fast path).
        Same CAS-retry/rollback reindex protocol as enable_pq/ivf."""
        from syzgydb_spark.query.promoted import PROMOTABLE_TYPES, parse_path

        if self.metadata_type is not None:
            raise ValueError(
                "promote_paths is for schemaless collections; this one has "
                "a declared metadata_schema (already typed + pushable)"
            )
        for p, t in paths.items():
            parse_path(p)
            if t not in PROMOTABLE_TYPES:
                raise ValueError(
                    f"unpromotable type {t!r} for {p!r}; expected one of "
                    f"{PROMOTABLE_TYPES}"
                )
        with self._lock:
            prev = self.options.promoted
            merged = dict(prev or {})
            taken = {s["col"] for s in merged.values()}
            for p, t in paths.items():
                if p in merged and merged[p]["type"] != t:
                    raise ValueError(
                        f"path {p!r} already promoted as {merged[p]['type']}"
                    )
                if p not in merged:
                    i = 0
                    while f"_pv{i}" in taken:
                        i += 1
                    merged[p] = {"col": f"_pv{i}", "type": t}
                    taken.add(f"_pv{i}")
            self.options.promoted = merged
            try:
                # same retry/rollback protocol as enable_pq (see there)
                for _attempt in range(_MAX_COMMIT_RETRIES):
                    if _attempt:
                        _conflict_backoff(_attempt)
                    man = self._manifest()
                    decoded = self._decoded_plain(man)
                    touched = [int(b) for b in man["buckets"]]
                    if not touched:
                        break
                    try:
                        self._commit_buckets(
                            self._encode(decoded), touched, base_manifest=man
                        )
                        break
                    except ManifestConflictError:
                        continue
                else:
                    raise ManifestConflictError(
                        f"promote lost the commit race {_MAX_COMMIT_RETRIES} times"
                    )
            except BaseException:
                self.options.promoted = prev
                raise
            with open(os.path.join(self.path, "options.json"), "w") as f:
                json.dump(asdict(self.options), f, indent=2)

    def calibrate_recall(
        self,
        *,
        k: int = 10,
        n_queries: int = 50,
        max_sample: int = 100_000,
        probe_grid: dict | None = None,
        seed: int = 42,
    ) -> dict:
        """Measure the recall@k-vs-cost curve of every configured ANN
        tier on a bounded sample of THIS collection's data and persist
        it in options.json — the RECALL.md sweep as a library call, so
        ``search(target_recall=...)`` can pick probe settings from
        measurement instead of hand-tuning.

        Method: up to ``max_sample`` data rows (deterministic hash
        sample) and ``n_queries`` of them as queries; exact top-k is
        the truth; each tier's ``knn_join`` runs per grid point with a
        ``candidate_pairs`` Observation, giving (recall, candidate
        fraction) per n_probes. Driver-bounded like IvfIndex.fit — the
        curves are properties of the data distribution, which the
        sample represents."""
        from pyspark.sql import Observation

        from syzgydb_spark.operators.knn import knn_join_fast

        grid = probe_grid or {
            "lsh": [0, 1, 2, 4, 8],
            "ivf": [1, 2, 4, 8, 16],
            "ivfpq": [1, 2, 4, 8, 16],
        }
        base = self.df()
        total = base.count()
        if total == 0:
            raise ValueError("cannot calibrate an empty collection")
        if total > max_sample:
            base = base.where(
                F.pmod(F.xxhash64("id"), F.lit(total // max_sample + 1)) == 0
            )
        data = base.persist()
        n_data = data.count()
        queries = (
            data.orderBy(F.pmod(F.xxhash64(F.col("id") + seed), F.lit(997)), "id")
            .limit(n_queries)
            .select(F.col("id").alias("query_id"), F.col("vector").alias("query_vector"))
            .persist()
        )
        n_q = queries.count()
        try:
            exact = knn_join_fast(
                data, queries, k, method=self.options.distance_method
            )
            truth: dict = {}
            for r in exact.select("query_id", "id").collect():
                truth.setdefault(r["query_id"], set()).add(r["id"])

            def recall_of(res) -> float:
                got: dict = {}
                for r in res.select("query_id", "id").collect():
                    got.setdefault(r["query_id"], set()).add(r["id"])
                hit = sum(len(truth[q] & got.get(q, set())) for q in truth)
                return hit / max(1, len(truth) * k)

            curves: dict = {}
            tiers = []
            if self.index is not None:
                tiers.append(("lsh", self.index))
            if self.ivf_index is not None:
                tiers.append(("ivf", self.ivf_index))
            if self.pq_index is not None and self.ivf_index is not None:
                # the IVFADC composition is its own tier: same probe
                # knob as plain IVF but candidates are scored through
                # the M-byte codes + exact re-rank of a 4k short-list
                # (mirroring search(precision='ivfpq')), so its recall
                # per candidate differs from IVF-with-floats and needs
                # its own measured curve
                tiers.append(("ivfpq", None))
            if not tiers:
                raise ValueError(
                    "no ANN tier configured (lsh at create time, or "
                    "enable_ivf()) — exact search needs no calibration"
                )
            for name, idx in tiers:
                pts = []
                for p in grid.get(name, []):
                    obs = Observation(f"cal_{name}_{p}")
                    if name == "ivfpq":
                        # rerank mirrors search(precision='ivfpq')
                        # exactly — a curve measured with a different
                        # shortlist would mispredict the serving path
                        res = self.pq_index.ivf_adc_knn_join(
                            data,
                            queries,
                            k,
                            ivf=self.ivf_index,
                            n_probes=p,
                            rerank=max(4 * k, 50),
                            observation=obs,
                        )
                    else:
                        res = idx.knn_join(
                            data, queries, k, observation=obs, n_probes=p
                        )
                    rec = recall_of(res)
                    pairs = obs.get["candidate_pairs"]
                    pts.append(
                        {
                            "n_probes": int(p),
                            "recall": round(rec, 4),
                            "cand_frac": round(pairs / max(1, n_data * n_q), 5),
                        }
                    )
                curves[name] = pts
        finally:
            data.unpersist()
            queries.unpersist()
        self.options.recall_curve = curves
        with open(os.path.join(self.path, "options.json"), "w") as f:
            json.dump(asdict(self.options), f, indent=2)
        return curves

    def _probes_for_target(self, precision: str, target_recall: float):
        """(n_probes, curve point) meeting the target at the lowest
        measured candidate fraction, or None → caller falls back to
        exact (recall 1.0 by definition)."""
        key = {"medium": "lsh", "ivf": "ivf", "ivfpq": "ivfpq"}.get(precision)
        curve = (self.options.recall_curve or {}).get(key or "")
        if curve is None:
            raise ValueError(
                "search(target_recall=...) needs a calibrated curve for "
                f"tier {precision!r}: run calibrate_recall() first"
            )
        ok = [p for p in curve if p["recall"] >= target_recall]
        if not ok:
            return None
        return min(ok, key=lambda p: p["cand_frac"])

    def _promoted_hint(self, filter: str):
        """Pushable shadow of a filter string over the promoted
        columns, or None when nothing in the filter is promoted."""
        if not (self.options.promoted and self.metadata_type is None):
            return None
        from syzgydb_spark.query.parser import parse
        from syzgydb_spark.query.promoted import promoted_hint

        mapping = {
            p: (s["col"], s["type"]) for p, s in self.options.promoted.items()
        }
        return promoted_hint(parse(filter), mapping)

    def search_text(self, text: str, *, model_fn=None, **kwargs) -> DataFrame:
        """Search by query text: embed (driver-side, single string —
        the same stub/model used for ingestion) then vector-search."""
        from syzgydb_spark.embedding import stub_model

        fn = model_fn or stub_model
        vec = [float(x) for x in fn([text], self.options.dimension_count)[0]]
        return self.search(vec, **kwargs)

    # ---- search (collection.go:569-711) ----
    def search(
        self,
        vector=None,
        *,
        k: int = 0,
        radius: float = 0.0,
        filter: str | None = None,
        precision: str = "medium",
        offset: int = 0,
        limit: int = 0,
        observation=None,
        n_probes: int = 0,
        id_order: str = "numeric",
        target_recall: float | None = None,
    ) -> DataFrame:
        """Returns (id, metadata, distance) like SearchResult
        (collection.go:115-135). ``precision='exact'`` forces the full
        scan; 'medium' uses the LSH index when configured. On the ANN
        path an ``Observation`` reports points_total/points_searched
        (the reference's percent_searched) with the query's own pass —
        no second job. ``id_order='lexicographic'`` reproduces the
        reference's string-sorted LISTING order ("10" < "2",
        spanfile.go:540-560); the numeric default matches its
        GetAllIDs order.

        ``target_recall`` picks ``n_probes`` from the calibrated
        recall curve (``calibrate_recall()``): the cheapest measured
        config whose recall@k meets the target; if no measured config
        reaches it, the search runs exact (recall 1.0). The chosen
        config and its measured candidate fraction are logged."""
        if precision not in _PRECISIONS:
            # a typo ('ifv') would otherwise silently fall through to a
            # FULL exact scan — at scale that is a very expensive typo
            raise ValueError(
                f"unknown precision {precision!r}; expected one of {_PRECISIONS}"
            )
        if vector is not None and len(vector) != self.options.dimension_count:
            # stored vectors are validated at add time; the QUERY vector
            # must be too — zip_with over mismatched lengths yields null
            # distances, i.e. silently wrong results, not an error
            raise ValueError(
                f"query vector dimension mismatch: got {len(vector)}, "
                f"expected {self.options.dimension_count}"
            )
        if target_recall is not None:
            tier_idx = {
                "medium": self.index,
                "ivf": self.ivf_index,
                "ivfpq": (
                    self.pq_index if self.ivf_index is not None else None
                ),
            }.get(precision)
            if tier_idx is None:
                raise ValueError(
                    "target_recall applies to the calibrated ANN tiers "
                    "('medium' with an LSH index, 'ivf' with enable_ivf(), "
                    "'ivfpq' with enable_pq()+enable_ivf())"
                )
            choice = self._probes_for_target(precision, target_recall)
            if choice is None:
                logger.info(
                    "target_recall=%.2f: no calibrated %s config reaches it; "
                    "running exact (recall 1.0)", target_recall, precision,
                )
                precision = "exact"
            else:
                n_probes = choice["n_probes"]
                logger.info(
                    "target_recall=%.2f: %s n_probes=%d (calibrated recall "
                    "%.3f, candidate fraction %.4f)",
                    target_recall, precision, n_probes,
                    choice["recall"], choice["cand_frac"],
                )
        df = self.df()
        if filter:
            # promoted hot-path shadow: pre-filter ONCE at the scan so
            # every tier (including the string-filter exact path, which
            # bypasses _filter_pred) gets codegen + pushdown on the
            # promoted conjuncts; the exact variant predicate still
            # runs downstream (the hint is conservative)
            hint = self._promoted_hint(filter)
            if hint is not None:
                df = df.where(hint)
        if precision == "pq" and vector is not None and k > 0:
            if self.pq_index is None:
                raise ValueError("precision='pq' requires enable_pq() first")
            # reference pre-filter semantics: the filter runs before
            # ranking (collection.go:592) — here before the ADC scan
            if filter:
                df = df.where(self._filter_pred(filter))
            base = df
            if observation is not None:
                # ADC scans every (filtered) row's code: honest
                # percent_searched is 100 — attaching the metrics keeps
                # the caller contract uniform across ANN tiers (a
                # server that created an Observation must be able to
                # read it back)
                df = df.observe(
                    observation,
                    F.count(F.lit(1)).alias("points_total"),
                    F.count(F.lit(1)).alias("points_searched"),
                )
            res = self.pq_index.search(
                df, vector, k, rerank=max(4 * k, 50), vec_col="vector", id_col="id"
            ).join(base.select("id", "metadata"), "id")
            if radius > 0:
                res = res.where(F.col("distance") <= radius)
            return res.select("id", "metadata", "distance").orderBy("distance", "id")
        if precision == "ivfpq" and vector is not None and k > 0:
            # FAISS-IVFADC shape on a single query: coarse-quantizer
            # probe prunes to n_probes cells (the ivf_cell column is
            # what parquet row-group stats prune on at scale), then the
            # ADC lookup-table scan + exact re-rank runs over only the
            # probed candidates — compressed AND cell-pruned, the
            # product of the two index tiers.
            if self.pq_index is None or self.ivf_index is None:
                raise ValueError(
                    "precision='ivfpq' requires enable_pq() and enable_ivf()"
                )
            if filter:
                df = df.where(self._filter_pred(filter))
            cells = self.ivf_index.probe_cells(vector, n_probes or 4)
            pred = F.col("ivf_cell").isin(cells)
            base = df
            if observation is not None:
                # an Observation may appear in a plan only once: attach
                # it on the candidate path; the metadata join reads the
                # plain relation
                df = df.observe(
                    observation,
                    F.count(F.lit(1)).alias("points_total"),
                    F.coalesce(F.sum(pred.cast("long")), F.lit(0)).alias(
                        "points_searched"
                    ),
                )
            cand = df.where(pred)
            res = self.pq_index.search(
                cand, vector, k, rerank=max(4 * k, 50), vec_col="vector", id_col="id"
            ).join(base.select("id", "metadata"), "id")
            if radius > 0:
                res = res.where(F.col("distance") <= radius)
            return res.select("id", "metadata", "distance").orderBy("distance", "id")
        if precision == "ivf" and vector is not None and k > 0:
            if self.ivf_index is None:
                raise ValueError("precision='ivf' requires enable_ivf() first")
            # pre-filter before ranking, like the other ANN tiers
            # (collection.go:592)
            if filter:
                df = df.where(self._filter_pred(filter))
            res = self.ivf_index.search(
                df, vector, k,
                n_probes=n_probes or 4,
                vec_col="vector", id_col="id",
                observation=observation,
            )
            if radius > 0:
                res = res.where(F.col("distance") <= radius)
            return res.select("id", "metadata", "distance").orderBy("distance", "id")
        use_ann = (
            precision != "exact" and self.index is not None and vector is not None and k > 0
        )
        if use_ann:
            pred = self._filter_pred(filter) if filter else None
            res = self.index.search(
                df, vector, k, radius=radius, filter=pred,
                observation=observation, n_probes=n_probes,
            )
        else:
            if observation is not None:
                # exact scan (explicit, or the documented fallback when
                # no LSH index is configured): every point is visited,
                # so the metrics are total == searched — attached here
                # because knn.search has no observation hook, and a
                # caller-created Observation must never block on .get
                df = df.observe(
                    observation,
                    F.count(F.lit(1)).alias("points_total"),
                    F.count(F.lit(1)).alias("points_searched"),
                )
            res = knn.search(
                df,
                vector,
                k=k,
                radius=radius,
                # typed collections pass the compiled codegen predicate;
                # untyped keep the string so knn.search applies the
                # variant path's sub-variant hoisting (where_filter)
                filter=(
                    self._filter_pred(filter)
                    if filter and self.metadata_type is not None
                    else filter
                ),
                method=self.options.distance_method,
                offset=offset,
                limit=limit,
                id_order=id_order,
            )
        cols = ["id", "metadata"] + (["distance"] if "distance" in res.columns else [])
        return res.select(*cols)

    def search_many(
        self,
        queries,
        *,
        k: int = 10,
        precision: str = "medium",
        filter: str | None = None,
        n_probes: int = 0,
        include_metadata: bool = False,
        observation=None,
    ) -> DataFrame:
        """Batch KNN over the collection — the Spark-idiomatic shape
        the reference cannot express (it serves one query per call;
        a training pipeline asks for thousands at once). ``queries``
        is a DataFrame with (query_id, query_vector) columns or a list
        of ``(query_id, vector)`` pairs. Returns (query_id, id,
        distance[, metadata]) with per-query ascending distance order.

        Dispatch mirrors ``search()``: 'exact' → Arrow local-top-k
        join (distances never shuffle; each data partition emits at
        most Q·k rows); 'medium' → the LSH banded candidate join when
        configured (exact otherwise); 'ivf' → per-query probe join;
        'pq' → ADC lookup-table join; 'ivfpq' → the batch IVFADC
        composition (probe cells per query, ADC over candidates,
        exact re-rank). The filter pre-filters the data side before
        any candidate generation, the same pre-filter semantics as
        single-query search (collection.go:592).

        ``observation`` reports ``candidate_pairs`` on the LSH / IVF /
        IVF-PQ paths; 'exact' and 'pq' scan every (filtered) row, so
        the observation carries points_total == points_searched — the
        honest 100%, same as single-query search."""
        if k <= 0:
            raise ValueError(
                "search_many needs k > 0 (per-query top-k); for a full "
                "listing use search() with k=0"
            )
        if precision not in _PRECISIONS:
            raise ValueError(
                f"unknown precision {precision!r}; expected one of {_PRECISIONS}"
            )
        if isinstance(queries, (list, tuple)):
            dim = self.options.dimension_count
            for q, v in queries:
                if len(v) != dim:
                    raise ValueError(
                        f"query {q}: vector dimension mismatch: got "
                        f"{len(v)}, expected {dim}"
                    )
            queries = self.spark.createDataFrame(
                [(int(q), [float(x) for x in v]) for q, v in queries],
                "query_id LONG, query_vector ARRAY<DOUBLE>",
            )
        base = self.df()
        df = base.where(self._filter_pred(filter)) if filter else base
        # tiers that scan every (filtered) row — including 'medium'
        # falling back to exact when no LSH index is configured; a
        # caller-created Observation must always end up attached to SOME
        # plan or its .get blocks forever
        full_scan = precision in ("pq", "exact") or (
            precision == "medium" and self.index is None
        )
        if full_scan and observation is not None:
            # full-scan tiers: attach the metrics on the scanned
            # relation so a caller-created Observation can always be
            # read back (the single-query pq path's contract)
            df = df.observe(
                observation,
                F.count(F.lit(1)).alias("points_total"),
                F.count(F.lit(1)).alias("points_searched"),
            )
        if precision == "ivfpq":
            if self.pq_index is None or self.ivf_index is None:
                raise ValueError(
                    "precision='ivfpq' requires enable_pq() and enable_ivf()"
                )
            res = self.pq_index.ivf_adc_knn_join(
                df, queries, k,
                ivf=self.ivf_index,
                n_probes=n_probes or 4,
                rerank=max(4 * k, 50),
                observation=observation,
            )
        elif precision == "pq":
            if self.pq_index is None:
                raise ValueError("precision='pq' requires enable_pq() first")
            res = self.pq_index.adc_knn_join(
                df, queries, k, rerank=max(4 * k, 50)
            )
        elif precision == "ivf":
            if self.ivf_index is None:
                raise ValueError("precision='ivf' requires enable_ivf() first")
            res = self.ivf_index.knn_join(
                df, queries, k,
                n_probes=n_probes or 4,
                observation=observation,
            )
        elif precision != "exact" and self.index is not None:
            res = self.index.knn_join(
                df, queries, k, observation=observation, n_probes=n_probes
            )
        else:
            res = knn.knn_join_fast(
                df, queries, k, method=self.options.distance_method
            )
        if include_metadata:
            # join against the SAME snapshot the candidates were
            # generated from — a second df() call could pin a newer
            # manifest mid-mutation and silently drop result rows
            res = res.join(base.select("id", "metadata"), "id")
        cols = ["query_id", "id", "distance"] + (
            ["metadata"] if include_metadata else []
        )
        return res.select(*cols).orderBy("query_id", "distance", "id")

    def _filter_pred(self, filter: str):
        """Row-keeping predicate for a filter-language string. On a
        schema'd collection (CollectionOptions.metadata_schema) this is
        the typed fast path: a plain codegen boolean over the struct/map
        column, with the conservative pushdown hint ANDed alongside so
        pushable conjuncts reach the parquet scan. Otherwise the
        reference-faithful variant path."""
        if self.metadata_type is not None:
            from syzgydb_spark.query.parser import parse
            from syzgydb_spark.query.typed import compile_filter_typed, pushdown_hint

            pred = compile_filter_typed(filter, "metadata", self.metadata_type)
            if isinstance(self.metadata_type, T.StructType):
                hint = pushdown_hint(
                    parse(filter), F.col("metadata"), self.metadata_type
                )
                if hint is not None:
                    pred = hint & pred
            return pred
        pred = F.coalesce(compile_filter(filter, "metadata"), F.lit(False))
        hint = self._promoted_hint(filter)
        return hint & pred if hint is not None else pred

    def percent_searched(self, vector) -> float:
        """candidates examined / total × 100 (collection.go:700-709)."""
        if self.index is None:
            return 100.0
        total = self.count()
        if total == 0:
            return 100.0
        cand = self.df().where(self.index.candidate_predicate(vector)).count()
        return 100.0 * cand / total
