"""VectorStore — the reference's store surface, rebuilt on partitioned Parquet.

Reference data model (service/optimized_vector_store.py:59-242): one store
per ``(user_id, model_id)``, a dense float32 matrix + positionally aligned
JSON metadata, persisted as ``vectors.npz`` + ``metadata.jsonl`` with a
whole-store rewrite on every add, and an optional HNSW side-car rebuilt
from scratch per add (:110-113) — the single-node scalability cliff this
rebuild removes.

Spark-first mapping:

- layout: ``root/user_id=<u>/model_id=<m>/*.parquet`` (Hive partition
  columns). A store is a partition; the fleet is one logical table. At
  100 TB this gives partition pruning for per-store queries and a single
  scan for fleet-wide stats. (On a real cluster the format would be
  Delta/Iceberg for ACID appends + DELETE; plain Parquet here because
  those jars aren't in the image — the API is format-agnostic.)
- schema: ``id long, embedding array<float>, norm double,
  meta map<string,string>`` + promoted typed metadata columns. Hot
  filter keys should be promoted (map lookups don't push down).
- ``norm`` is precomputed at write so cosine queries are a single dot
  product per row (the analog of the reference keeping its matrix
  resident; SURVEY.md §7.1).
- add = append (no whole-store rewrite); delete = declarative anti-filter
  rewrite (the reference declared ``/vectors/delete`` but never
  implemented it — service/models.py:97-105; we implement it properly);
  optimize = file compaction (replaces "rebuild the index on every add").
- query/batch_query build DataFrame plans via operators.knn — nothing
  here ever loops over collected rows.
- durability: every mutation commits a MANIFEST — a JSON list of the
  store's live data files, made current by one atomic ``os.replace`` of
  a pointer file (the plain-parquet miniature of a table format's
  snapshot commit). Readers resolve the file list through the pointer,
  so a crash at ANY point of a mutation leaves them on the previous
  snapshot: new files become visible only at the pointer flip. Replaced
  files and superseded manifests are RETAINED as time-travelable
  history (``history()`` / ``as_of()``) until
  ``VectorStoreCatalog.vacuum`` reaps them — its ``min_age_seconds`` is
  the retention window, exactly a table format's VACUUM contract; the
  same sweep reclaims orphans from crashed mutations.

Concurrency: optimistic multi-writer per store. Every mutation commits
through a compare-and-swap loop (``_cas_commit``): the writer derives
its manifest from the freshly observed live set, and the pointer flip
is conditioned — under a cross-process ``flock`` — on CURRENT still
naming the snapshot the writer read. A losing append re-derives and
retries (two interleaved appends both land); a losing rewrite whose
target files another writer replaced fails with
``ConcurrentWriteError`` instead of resurrecting removed rows. This is
the plain-parquet miniature of a table format's optimistic concurrency
(the reference instead holds a single-process RLock per store,
service/optimized_vector_store.py:63, and cannot compose writers at
all); composition is tested cross-handle and against a live streaming
ingest (test_streaming.py, test_store.py).
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import time
import uuid
import warnings
from collections.abc import Mapping, Sequence
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mlx_vector_db_spark.functions.vector import METRICS, l2_norm
from mlx_vector_db_spark.operators import knn
from mlx_vector_db_spark.operators.knn import knn_join, knn_join_blocked, knn_query

MAX_DIMENSION = 4096  # reference: service/models.py:92,125 validates 1..4096


class ManifestConflictError(RuntimeError):
    """The CURRENT manifest advanced past the token a commit expected —
    another writer committed in between. Append commits retry and
    compose automatically (see ``_cas_commit``); callers of the raw
    commit primitive decide whether to recompute or surface."""


class ConcurrentWriteError(RuntimeError):
    """A conflicting mutation replaced (or deleted) files this rewrite
    planned to swap out: retrying would resurrect rows the other writer
    removed, so the rewrite fails instead. Re-run it against the new
    snapshot."""


#: sentinel: commit unconditionally (truncate / first write of a store)
_UNCHECKED = object()

_PROMOTED_TYPES = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
}


@dataclass
class StoreConfig:
    """Per-store schema contract (reference MLXVectorStoreConfig,
    service/optimized_vector_store.py:51-57). ``index`` mirrors the
    reference's ``enable_hnsw`` flag but holds the serialized
    index-as-columns state (IVF centroids) instead of a side-car
    binary."""

    user_id: str
    model_id: str
    dimension: int = 384
    metric: str = "cosine"
    promoted_keys: dict[str, str] = field(default_factory=dict)  # name -> type
    created_at: float = 0.0
    index: dict | None = None
    #: store an int8 code column beside the float embeddings; queries can
    #: then run a quantized first pass that scans ~1/4 of the vector
    #: bytes (columnar pruning) and exact-re-rank only the candidates
    quantize: bool = False
    #: persisted product-quantization codebooks (operators.pq) — set by
    #: build_pq(); adds an m-byte ``pq_code`` column, maintained
    #: incrementally on add, and enables the 16-64x-compressed ADC
    #: first pass in query()
    pq: dict | None = None
    #: persisted binary-quantization thresholds (operators.bq) — set by
    #: build_bq(); adds a D/8-byte sign-code ``bq_code`` column,
    #: maintained incrementally on add, and enables the 32x-compressed
    #: XOR+popcount first pass in query() (tried after PQ, before int8)
    bq: dict | None = None
    #: persisted sign-bit thresholds for the TOKEN (multi-vector) tier —
    #: set by build_token_codes(); the packed token-code table it
    #: encodes lets maxsim_query() run the PLAID-shaped funnel, and new
    #: token docs are encoded incrementally on add_token_vectors()
    token_bq: dict | None = None

    def __post_init__(self) -> None:
        if not (1 <= self.dimension <= MAX_DIMENSION):
            raise ValueError(
                f"dimension must be in 1..{MAX_DIMENSION}, got {self.dimension}"
            )
        if self.metric not in METRICS:
            raise ValueError(f"metric must be one of {METRICS}, got {self.metric!r}")
        for key, tname in self.promoted_keys.items():
            if tname not in _PROMOTED_TYPES:
                raise ValueError(
                    f"promoted key {key!r}: unknown type {tname!r} "
                    f"(allowed: {sorted(_PROMOTED_TYPES)})"
                )


class VectorStoreCatalog:
    """Fleet of stores under one root directory (the reference's
    ``store_manager`` process-global dict, api/routes/vectors.py:48-71,
    made durable)."""

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self._meta_dir = self.root / "_catalog"
        self._meta_dir.mkdir(parents=True, exist_ok=True)

    def _config_path(self, user_id: str, model_id: str) -> Path:
        return self._meta_dir / f"{user_id}__{model_id}.json"

    def _save_config(self, cfg: StoreConfig) -> None:
        """Atomic config update: full JSON to a temp file, one
        ``os.replace`` — a crash mid-update leaves the previous config
        readable, never a torn JSON that bricks the store."""
        path = self._config_path(cfg.user_id, cfg.model_id)
        tmp = path.parent / f".{path.name}.tmp-{uuid.uuid4().hex}"
        tmp.write_text(json.dumps(asdict(cfg), indent=2))
        os.replace(tmp, path)

    def create_store(
        self,
        user_id: str,
        model_id: str,
        dimension: int = 384,
        metric: str = "cosine",
        promoted_keys: Mapping[str, str] | None = None,
        exist_ok: bool = False,
        quantize: bool = False,
    ) -> "VectorStore":
        path = self._config_path(user_id, model_id)
        if path.exists():
            if not exist_ok:
                raise FileExistsError(f"store ({user_id}, {model_id}) already exists")
            return self.get_store(user_id, model_id)
        cfg = StoreConfig(
            user_id=user_id,
            model_id=model_id,
            dimension=dimension,
            metric=metric,
            promoted_keys=dict(promoted_keys or {}),
            created_at=time.time(),
            quantize=quantize,
        )
        # atomic + exclusive create: the full JSON lands in a temp file,
        # then hard-links into place — link() fails with FileExistsError
        # if a concurrent creator won the race (no torn half-written
        # config can ever be observed, and two racing create_store calls
        # serialize exactly like the exists() check promises)
        payload = json.dumps(asdict(cfg), indent=2)
        tmp = path.parent / f".{path.name}.tmp-{uuid.uuid4().hex}"
        tmp.write_text(payload)
        try:
            os.link(tmp, path)
        except FileExistsError:
            if not exist_ok:
                raise FileExistsError(
                    f"store ({user_id}, {model_id}) already exists"
                ) from None
            return self.get_store(user_id, model_id)
        except OSError:
            # filesystem without hard links: exclusive create is still
            # race-safe, only the torn-write window reopens (tiny JSON)
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                if not exist_ok:
                    raise FileExistsError(
                        f"store ({user_id}, {model_id}) already exists"
                    ) from None
                return self.get_store(user_id, model_id)
            with os.fdopen(fd, "w") as f:
                f.write(payload)
        finally:
            tmp.unlink(missing_ok=True)
        return VectorStore(self, cfg)

    def vacuum(self, min_age_seconds: int = 3600) -> int:
        """Reap everything a crashed (or interrupted) mutation can
        strand, none of which the manifest protocol lets readers see:

        - ``.staging-*`` directories (crash before the staged files
          moved in),
        - data files not referenced by a store's CURRENT manifest
          (crash after the pointer flip but before the replaced
          originals were unlinked, or a crashed append),
        - superseded ``manifest-*.json`` snapshots.

        Only items older than ``min_age_seconds`` go, so an in-flight
        mutation on another handle is never raced (its files exist
        before its pointer flip). Returns the count removed — the
        plain-parquet analog of ``VACUUM`` on a table format.

        Retention semantics: ``min_age_seconds`` is time since a
        snapshot was SUPERSEDED, not since its files were written —
        every commit touches the mtime of the manifest and data files
        it retires (``_commit_manifest``), so history created hours ago
        but replaced seconds ago stays travelable for the full window.
        Manifests and their exclusively-referenced data files go
        together: a data file is reaped only when NO retained manifest
        references it, so every snapshot ``history()`` still lists has
        all of its files on disk (``as_of`` never finds a hole inside
        the window). Each store's sweep runs under that store's commit
        lock, serializing against ``restore()``'s re-verified commit."""
        now = time.time()
        n = 0
        # temp config files stranded by a crashed atomic create/update
        for p in self._meta_dir.glob(".*.tmp-*"):
            try:
                if now - p.stat().st_mtime > min_age_seconds:
                    p.unlink()
                    n += 1
            except OSError:
                continue
        for p in self.root.glob("**/.staging-*"):
            try:
                if p.is_dir() and now - p.stat().st_mtime > min_age_seconds:
                    shutil.rmtree(p, ignore_errors=True)
                    n += 1
            except OSError:  # raced by a concurrent swap finishing
                continue
        for cfg in self.list_stores():
            st = VectorStore(self, cfg)
            # token-tier orphans: part-files a crashed mutation moved in
            # but never committed (invisible to manifest-resolved readers,
            # but disk they consume forever without this sweep). Runs
            # under the TIER lock — an in-flight tier mutation holds it
            # across its whole critical section, so no race; min_age
            # additionally protects the lock-free-fallback filesystems.
            with st._token_mutation_lock():
                n += self._vacuum_token_tier(st, now, min_age_seconds)
            if st._live_files() is None:  # legacy layout: every file is live
                continue
            with st._commit_lock():
                n += self._vacuum_store(st, now, min_age_seconds)
        return n

    @staticmethod
    def _vacuum_token_tier(
        st: "VectorStore", now: float, min_age_seconds: int
    ) -> int:
        """Reap token-tier files referenced by NO committed tier
        manifest. The tier keeps no history (superseded files unlink at
        commit), so the only strandables are crash orphans. A
        pre-manifest (glob) layout is skipped entirely — every file is
        live there."""
        if not (st._token_meta_dir / "CURRENT").exists():
            return 0
        toks, codes = st._token_live()
        live = {p.resolve() for p in toks} | {p.resolve() for p in codes}
        n = 0
        for d in (st.tokens_dir, st.token_codes_dir):
            if not d.exists():
                continue
            for f in d.glob("**/*.parquet"):
                try:
                    if (
                        f.resolve() not in live
                        and now - f.stat().st_mtime > min_age_seconds
                    ):
                        f.unlink()
                        n += 1
                except OSError:
                    continue
        return n

    @staticmethod
    def _vacuum_store(st: "VectorStore", now: float, min_age_seconds: int) -> int:
        """One store's sweep, caller holds the store's commit lock:
        first retire superseded manifests whose supersede-mtime aged
        out, then reap data files referenced by NO surviving manifest
        (and themselves aged out — orphans from crashed mutations age
        from creation, retired files from the commit that dropped
        them)."""
        n = 0
        current = (st._manifest_dir / "CURRENT").read_text().strip()
        kept_refs: set[Path] = set()
        for m in sorted(st._manifest_dir.glob("manifest-*.json")):
            try:
                if m.name != current and now - m.stat().st_mtime > min_age_seconds:
                    m.unlink()
                    n += 1
                    continue
            except OSError:
                pass  # raced / unreadable: treat as kept, protect its files
            try:
                for rel in json.loads(m.read_text())["files"]:
                    kept_refs.add((st.data_dir / rel).resolve())
            except (OSError, json.JSONDecodeError, KeyError):
                # a KEPT manifest we cannot parse means kept_refs is
                # incomplete — deleting anything now could reap live
                # files of the snapshot it protects (worst case the
                # CURRENT one). Abort this store's sweep entirely; the
                # next vacuum retries.
                return n
        for f in st.data_dir.glob("**/*.parquet"):
            try:
                if (
                    f.resolve() not in kept_refs
                    and now - f.stat().st_mtime > min_age_seconds
                ):
                    f.unlink()
                    n += 1
            except OSError:
                continue
        return n

    def store_exists(self, user_id: str, model_id: str) -> bool:
        return self._config_path(user_id, model_id).exists()

    def get_store(self, user_id: str, model_id: str) -> "VectorStore":
        path = self._config_path(user_id, model_id)
        if not path.exists():
            raise KeyError(f"store ({user_id}, {model_id}) does not exist")
        cfg = StoreConfig(**json.loads(path.read_text()))
        return VectorStore(self, cfg)

    def delete_store(self, user_id: str, model_id: str) -> None:
        """DROP TABLE analog (reference api/routes/admin.py:74-112)."""
        path = self._config_path(user_id, model_id)
        if not path.exists():
            raise KeyError(f"store ({user_id}, {model_id}) does not exist")
        path.unlink()
        data_dir = self.root / f"user_id={user_id}" / f"model_id={model_id}"
        shutil.rmtree(data_dir, ignore_errors=True)
        # the multi-vector tier lives in sibling dirs (keeps the main
        # table's legacy glob clean) — reap them with the store
        shutil.rmtree(Path(f"{data_dir}__tokens"), ignore_errors=True)
        shutil.rmtree(Path(f"{data_dir}__token_codes"), ignore_errors=True)
        shutil.rmtree(Path(f"{data_dir}__tokens_meta"), ignore_errors=True)

    def list_stores(self) -> list[StoreConfig]:
        return [
            StoreConfig(**json.loads(p.read_text()))
            for p in sorted(self._meta_dir.glob("*.json"))
        ]

    def query_all(
        self,
        query_vector: Sequence[float],
        k: int = 10,
        user_id: str | None = None,
        metric: str = "cosine",
        filter_metadata: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """Federated k-NN across every store (optionally one tenant's):
        per-store top-k in ONE plan over the partitioned fleet layout.

        The reference can only query one store per call (its stores are
        separate files); here the fleet is one logical table, so this is
        a scan with partition pruning on ``user_id`` plus a top-k window
        per (user_id, model_id) — per-store results in a single job.
        Stores whose dimension differs from the query are skipped (their
        scores would be meaningless).
        """
        dim = len(query_vector)
        stores = [
            c
            for c in self.list_stores()
            if c.dimension == dim and (user_id is None or c.user_id == user_id)
        ]
        if not stores:
            return self.spark.createDataFrame(
                [], "user_id string, model_id string, id long, score double, rank int"
            )
        from mlx_vector_db_spark.functions.vector import score_for_metric
        from mlx_vector_db_spark.operators.knn import _order, apply_metadata_filter
        from mlx_vector_db_spark.operators.topk import top_k_per_group

        parts = []
        for cfg in stores:
            st = VectorStore(self, cfg)
            # Filter per store BEFORE the union: each store's promoted
            # columns compare with their NATIVE types (identical to
            # store.query semantics — no string-rendering mismatches like
            # '5' vs '5.0'), keys promoted in one store and living in
            # another's meta map each resolve per store, and the union
            # afterwards carries only the scoring columns so same-named
            # promoted keys of different types never meet. Promoted
            # predicates also push down to each store's parquet scan.
            df = apply_metadata_filter(st.to_df(), filter_metadata)
            parts.append(
                df.select(
                    F.lit(cfg.user_id).alias("user_id"),
                    F.lit(cfg.model_id).alias("model_id"),
                    "id",
                    "embedding",
                )
            )
        fleet = parts[0]
        for p in parts[1:]:
            fleet = fleet.unionByName(p)
        q = F.lit([float(x) for x in query_vector]).cast("array<double>")
        scored = fleet.withColumn(
            "score", score_for_metric(metric, "embedding", q)
        )
        return top_k_per_group(
            scored,
            ["user_id", "model_id"],
            _order(metric, F.col("score"), "id"),
            int(k),
        ).select("user_id", "model_id", "id", "score", "rank")

    def fleet_stats(self) -> dict[str, Any]:
        """Fleet-wide totals (reference api/routes/vectors.py:121-141 loops
        stores in Python; here it is one partition-pruned aggregate scan)."""
        stores = self.list_stores()
        total = 0
        per_store: dict[str, int] = {}
        for cfg in stores:
            cnt = VectorStore(self, cfg).count()
            per_store[f"{cfg.user_id}_{cfg.model_id}"] = cnt
            total += cnt
        return {
            "total_stores": len(stores),
            "total_vectors": total,
            "stores": per_store,
        }


class VectorStore:
    """One ``(user_id, model_id)`` store; all methods build DataFrame plans."""

    def __init__(self, catalog: VectorStoreCatalog, config: StoreConfig):
        self.catalog = catalog
        self.config = config
        self._ivf_cache = None
        self._pq_cache = None
        self._bq_cache = None
        #: largest id known to exist (None = unknown, recompute lazily).
        #: Micro-batch ingest on one store handle then pays the max-id
        #: scan ONCE, not per batch. Deletes may leave this larger than
        #: the true max — safe: ids are allowed to be sparse, the cache
        #: only needs to never go backwards. Guarded by ``_id_token``:
        #: the cache is trusted only while the store's file-set token is
        #: the one it was computed (or last advanced) under, so a write
        #: through ANOTHER handle or process invalidates it instead of
        #: silently reissuing its ids.
        self._max_id_seen: int | None = None
        self._id_token: str | None = None
        self.data_dir = (
            catalog.root
            / f"user_id={config.user_id}"
            / f"model_id={config.model_id}"
        )

    # -- schema ------------------------------------------------------------

    @property
    def schema(self) -> T.StructType:
        fields = [
            T.StructField("id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
            T.StructField("norm", T.DoubleType(), False),
        ]
        for key, tname in self.config.promoted_keys.items():
            fields.append(T.StructField(key, _PROMOTED_TYPES[tname], True))
        fields.append(
            T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True)
        )
        if self.config.quantize:
            fields.append(
                T.StructField(
                    "q8",
                    T.StructType(
                        [
                            T.StructField("qvec", T.ArrayType(T.ByteType())),
                            T.StructField("scale", T.DoubleType()),
                        ]
                    ),
                    True,
                )
            )
        if self.config.pq:
            fields.append(T.StructField("pq_code", T.BinaryType(), True))
        if self.config.bq:
            fields.append(T.StructField("bq_code", T.BinaryType(), True))
        if self.config.index:
            fields.append(T.StructField("centroid_id", T.IntegerType(), True))
        return T.StructType(fields)

    def _ivf(self):
        """The deserialized cell index (IVF or LSH), or None."""
        if not self.config.index:
            return None
        from mlx_vector_db_spark.operators.ann import index_from_dict

        if self._ivf_cache is None:
            self._ivf_cache = index_from_dict(self.config.index)
        return self._ivf_cache

    def _pq(self):
        """The deserialized PQ codebooks, or None."""
        if not self.config.pq:
            return None
        from mlx_vector_db_spark.operators.pq import PQCodebooks

        if self._pq_cache is None:
            self._pq_cache = PQCodebooks.from_dict(self.config.pq)
        return self._pq_cache

    def _bq(self):
        """The deserialized BQ threshold model, or None."""
        if not self.config.bq:
            return None
        from mlx_vector_db_spark.operators.bq import BQModel

        if self._bq_cache is None:
            self._bq_cache = BQModel.from_dict(self.config.bq)
        return self._bq_cache

    def _empty(self) -> DataFrame:
        return self.catalog.spark.createDataFrame([], self.schema)

    def _cell_partitioned(self) -> bool:
        return bool((self.config.index or {}).get("partitioned"))

    # -- manifest commit protocol ------------------------------------------
    #
    # Every mutation ends in _commit_manifest: write the live-file list
    # to _manifests/manifest-<uuid>.json, then atomically os.replace the
    # CURRENT pointer at it. The pointer flip is the ONE commit point —
    # before it readers resolve the old snapshot (old files are still on
    # disk; staged files are invisible because they're not in the old
    # manifest), after it the new one. Replaced files are never
    # unlinked by mutations: with their superseded manifests they ARE
    # the retained history behind history()/as_of(), reclaimed by
    # vacuum() past its retention window — never a wrong read either
    # way, since scans always resolve through the committed manifest.
    # The _manifests/ dir name starts with '_' so Spark's file
    # discovery ignores it.

    @property
    def _manifest_dir(self) -> Path:
        return self.data_dir / "_manifests"

    def _live_files(self) -> list[Path] | None:
        """The committed snapshot's data files, or None when the store
        has no manifest yet (legacy directory layout, or never written):
        callers then fall back to the directory listing."""
        ptr = self._manifest_dir / "CURRENT"
        if not ptr.exists():
            return None
        name = ptr.read_text().strip()
        data = json.loads((self._manifest_dir / name).read_text())
        return [self.data_dir / rel for rel in data["files"]]

    def _data_files(self) -> list[Path]:
        live = self._live_files()
        if live is not None:
            return live
        if not self.data_dir.exists():
            return []
        return sorted(self.data_dir.glob("**/*.parquet"))

    def _files_token(self) -> str:
        """Cheap identity of the store's committed file set — changes on
        every manifest commit (and on any file churn for legacy dirs)."""
        ptr = self._manifest_dir / "CURRENT"
        if ptr.exists():
            return ptr.read_text().strip()
        if not self.data_dir.exists():
            return "<empty>"
        return "|".join(sorted(str(p) for p in self.data_dir.glob("**/*.parquet")))

    def _current_token(self) -> str | None:
        """The committed manifest name, or None when the store has never
        committed one (legacy/empty layout) — the optimistic-concurrency
        parent token. Manifest names are UUIDs, so token equality means
        literally the same snapshot (no ABA)."""
        ptr = self._manifest_dir / "CURRENT"
        return ptr.read_text().strip() if ptr.exists() else None

    @contextlib.contextmanager
    def _commit_lock(self):
        """Serialize check-and-flip across handles AND processes on the
        same filesystem (``flock`` on a sidecar, never on CURRENT
        itself — CURRENT is replaced atomically and a lock on a replaced
        inode guards nothing). On object stores without advisory locks a
        table format's conditional-PUT commit protocol plays this role;
        the fallback here is lock-free flips (last-writer-wins for
        concurrent commits, still crash-atomic for a single writer)."""
        self._manifest_dir.mkdir(parents=True, exist_ok=True)
        try:
            import fcntl

            fd = os.open(self._manifest_dir / "LOCK", os.O_CREAT | os.O_RDWR)
        except OSError:  # pragma: no cover — no flock support on this FS
            yield
            return
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _commit_manifest(
        self,
        files: Sequence[Path],
        expected_parent: object = _UNCHECKED,
        require_files_exist: bool = False,
    ) -> None:
        """Atomic snapshot commit: manifest write + pointer flip.

        With ``expected_parent`` (a token from :meth:`_current_token`),
        the flip is optimistic-concurrency checked under the commit
        lock: if another writer advanced CURRENT since the caller read
        its snapshot, ``ManifestConflictError`` is raised and NOTHING
        is committed — the caller re-reads the live set and retries
        (append-only commits compose trivially; see ``_cas_commit``).
        The observed parent is recorded in the manifest, so the commit
        chain is auditable.

        ``require_files_exist`` re-verifies every listed file INSIDE
        the commit lock before the flip — :meth:`restore` uses it so a
        ``vacuum`` sweeping between its as_of() validation and this
        commit (vacuum holds the same lock per store) can never land a
        CURRENT manifest that references reaped files: the commit fails
        loudly with ``FileNotFoundError`` and nothing flips.

        After the flip, the superseded parent manifest and every data
        file that just LEFT the live set get their mtime touched to the
        commit instant: vacuum's ``min_age_seconds`` then ages history
        by time-since-superseded, not time-since-created (a file
        written hours ago but replaced seconds ago is still inside the
        retention window)."""
        rels = sorted(
            str(Path(f).relative_to(self.data_dir)) for f in set(files)
        )
        mid = uuid.uuid4().hex
        mname = f"manifest-{mid}.json"
        self._manifest_dir.mkdir(parents=True, exist_ok=True)
        with self._commit_lock():
            observed = self._current_token()
            if expected_parent is not _UNCHECKED and observed != expected_parent:
                raise ManifestConflictError(
                    f"manifest advanced from {expected_parent!r} to "
                    f"{observed!r} during commit of store "
                    f"{self.config.user_id}/{self.config.model_id}"
                )
            if require_files_exist:
                missing = [
                    str(self.data_dir / rel)
                    for rel in rels
                    if not (self.data_dir / rel).exists()
                ]
                if missing:
                    raise FileNotFoundError(
                        f"commit of store {self.config.user_id}/"
                        f"{self.config.model_id} references missing data "
                        f"files (first: {missing[0]}); a vacuum may have "
                        f"reaped the snapshot — nothing was committed"
                    )
            parent_files: set[str] = set()
            if observed is not None:
                with contextlib.suppress(OSError, json.JSONDecodeError):
                    parent_files = set(
                        json.loads(
                            (self._manifest_dir / observed).read_text()
                        )["files"]
                    )
            (self._manifest_dir / mname).write_text(
                json.dumps(
                    {
                        "files": rels,
                        "parent": observed,
                        "committed_at": time.time(),
                    }
                )
            )
            tmp = self._manifest_dir / f".CURRENT.tmp-{mid}"
            tmp.write_text(mname)
            os.replace(tmp, self._manifest_dir / "CURRENT")  # the commit point
            # retention clock: age superseded history from THIS instant
            if observed is not None:
                with contextlib.suppress(OSError):
                    os.utime(self._manifest_dir / observed)
                for rel in parent_files.difference(rels):
                    with contextlib.suppress(OSError):
                        os.utime(self.data_dir / rel)
        # our own commit: keep the max-id cache trusted under the new token
        self._id_token = mname
        # Every mutation lands here, so this is the one spot where the
        # engine's plan-fingerprint sizing memos can go stale: the
        # manifest flip changes the file set UNDER an identical analyzed
        # plan (same store path, same projection), which is exactly the
        # staleness case both caches document. Dropping them costs a
        # re-probe (two bounded jobs); serving a stale size costs a
        # suboptimal block-side / rebalance choice for the session's
        # remaining lifetime (ADVICE r9).
        from mlx_vector_db_spark import rebalance as _rb
        from mlx_vector_db_spark.operators import knn as _knn

        _rb._PROBE_CACHE.clear()
        _knn._SIZE_CACHE.clear()

    def _cas_commit(
        self, files_fn, max_retries: int = 64, require_files_exist: bool = False
    ) -> None:
        """Compare-and-swap commit loop: derive the manifest from the
        freshly observed live set, attempt the conditional flip, and on
        conflict re-derive against the other writer's snapshot. An
        append's ``files_fn`` is ``lambda live: [*live, *added]`` — two
        interleaved appends both land, whichever order the flips win.
        ``files_fn`` may raise :class:`ConcurrentWriteError` when the
        observed snapshot invalidates the mutation (a rewrite whose
        target files another writer already replaced)."""
        for _ in range(max_retries):
            parent = self._current_token()
            files = files_fn(self._data_files())
            try:
                self._commit_manifest(
                    files,
                    expected_parent=parent,
                    require_files_exist=require_files_exist,
                )
                return
            except ManifestConflictError:
                continue
        raise ManifestConflictError(
            f"commit of store {self.config.user_id}/{self.config.model_id} "
            f"did not converge after "
            f"{max_retries} attempts"
        )

    def to_df(self) -> DataFrame:
        """The store as a DataFrame (scan, with pushdown-capable columns),
        resolved through the current manifest snapshot when one exists."""
        return self._snapshot_df()[1]

    def _snapshot_df(self) -> tuple[list[Path], DataFrame]:
        """``(files, DataFrame over exactly those files)`` — ONE
        resolution of the current snapshot. Full-rewrite mutations must
        use this pair and pass the same ``files`` to
        :meth:`_swap_all_files`: resolving the touched set again at
        swap time would classify any file APPENDED between the two
        resolutions as touched — replaced by staged output that never
        read its rows, i.e. a silently lost append (caught by the
        streaming-ingest-vs-optimize composition test)."""
        files = self._data_files()
        return files, self._df_over(files)

    def _df_over(self, files: list[Path]) -> DataFrame:
        """DataFrame over exactly ``files`` (empty frame for none)."""
        if not files:
            return self._empty()
        reader = self.catalog.spark.read.schema(self.schema)
        if self._cell_partitioned():
            # explicit file lists drop Hive partition-dir resolution;
            # basePath restores the centroid_id partition column
            reader = reader.option("basePath", str(self.data_dir))
        return reader.parquet(*[str(f) for f in files])

    # -- snapshot time travel ------------------------------------------------

    def history(self) -> list[dict]:
        """The commit chain, oldest first: one dict per retained
        manifest snapshot (``version`` ordinal, ``name``,
        ``committed_at``, ``n_files``, ``parent``). Walks CURRENT's
        parent pointers, so it reaches back as far as :meth:`vacuum`
        has left superseded manifests on disk (vacuum prunes history;
        that is its contract, same as any table format's retention).
        Driver-side metadata only — no Spark jobs, no file I/O beyond
        the KB-sized manifest JSONs."""
        name = self._current_token()
        chain: list[dict] = []
        seen: set[str] = set()
        while name and name not in seen:
            seen.add(name)
            path = self._manifest_dir / name
            if not path.exists():  # vacuumed past this point
                break
            data = json.loads(path.read_text())
            chain.append(
                {
                    "name": name,
                    "committed_at": data.get("committed_at"),
                    "n_files": len(data["files"]),
                    "parent": data.get("parent"),
                }
            )
            name = data.get("parent")
        chain.reverse()
        for i, c in enumerate(chain):
            c["version"] = i
        return chain

    def as_of(self, version: int | str) -> DataFrame:
        """The store AS OF a retained snapshot — time travel over the
        manifest chain (the reference has no notion of this; its
        mutations overwrite in place, ``services/vector_store.py``).

        ``version`` is an ordinal from :meth:`history` (negatives count
        from the end, ``-1`` = current) or a manifest name. Snapshots
        whose data files a later :meth:`vacuum` already reaped raise
        ``FileNotFoundError`` naming the missing file — time travel is
        bounded by retention, never silently wrong."""
        hist = self.history()
        if not hist:
            raise ValueError(
                f"store {self.config.user_id}/{self.config.model_id} has "
                f"no committed snapshots"
            )
        if isinstance(version, int):
            try:
                entry = hist[version]
            except IndexError:
                raise ValueError(
                    f"version {version} out of range: {len(hist)} retained "
                    f"snapshot(s) (older history may have been vacuumed)"
                ) from None
        else:
            by_name = {c["name"]: c for c in hist}
            if version not in by_name:
                raise ValueError(
                    f"unknown snapshot {version!r}: retained manifests are "
                    f"{sorted(by_name)}"
                )
            entry = by_name[version]
        data = json.loads((self._manifest_dir / entry["name"]).read_text())
        files = [self.data_dir / rel for rel in data["files"]]
        missing = [str(f) for f in files if not f.exists()]
        if missing:
            raise FileNotFoundError(
                f"snapshot {entry['name']} references vacuumed data files "
                f"(first: {missing[0]}); lower the vacuum retention or "
                f"time-travel to a newer snapshot"
            )
        return self._df_over(files)

    def restore(self, version: int | str) -> None:
        """Roll the store back to a retained snapshot — a NEW commit
        whose live set is the old snapshot's file list (metadata-only:
        no data is copied, no files move; Delta's RESTORE semantics).
        The rolled-back states stay in history, so a restore is itself
        restorable. Fails like :meth:`as_of` when retention already
        reaped the target; the CAS loop keeps a concurrent writer's
        commit from being silently clobbered; and because a concurrent
        ``vacuum`` can reap the target BETWEEN that validation and the
        flip, the commit itself re-verifies the file list inside the
        commit lock (which vacuum also holds per store) — restore
        either lands with every file present or raises
        ``FileNotFoundError`` before anything flips."""
        self.as_of(version)  # existence + file checks, loud failure
        name = (
            self.history()[version]["name"] if isinstance(version, int) else version
        )
        data = json.loads((self._manifest_dir / name).read_text())
        files = [self.data_dir / rel for rel in data["files"]]
        self._cas_commit(lambda live: files, require_files_exist=True)
        self._max_id_seen = None  # id high-water mark may have moved back

    # -- ingest ------------------------------------------------------------

    def _prepare_batch(
        self,
        vectors: Sequence[Sequence[float]] | DataFrame,
        metadata: Sequence[Mapping[str, Any]] | None = None,
        ids: Sequence[int] | None = None,
        require_ids: bool = False,
    ) -> tuple[DataFrame, int | None]:
        """Normalize caller input (wire-format lists or a DataFrame) into
        a schema-complete batch: validated dimension, defaulted id/meta,
        float32 embedding, precomputed norm, optional q8 code and
        incremental centroid assignment. Shared by append and upsert.

        Returns ``(batch_df, n_known)``: for wire-format list input the
        row count is known driver-side (and dimensions are validated in
        the same pass that builds the rows — zero Spark jobs); for
        DataFrame input ``n_known`` is None and the caller folds count +
        dimension validation into ONE aggregation job (high-frequency
        micro-batch ingest must not pay one job per check)."""
        spark = self.catalog.spark
        dim = self.config.dimension
        if isinstance(vectors, DataFrame):
            df = vectors
            if "embedding" not in df.columns:
                raise ValueError("DataFrame input must have an 'embedding' column")
            if require_ids and "id" not in df.columns:
                raise ValueError("upsert requires an 'id' column (the merge key)")
        else:
            n = len(vectors)
            if metadata is not None and len(metadata) != n:
                raise ValueError(
                    f"vectors ({n}) and metadata ({len(metadata)}) lengths differ"
                )
            if ids is not None and len(ids) != n:
                raise ValueError(f"vectors ({n}) and ids ({len(ids)}) lengths differ")
            if require_ids and ids is None:
                raise ValueError("upsert requires explicit ids (the merge key)")
            # max(id)+1, NOT row count: after delete_vectors shrinks the
            # store, count()-based ids would collide with surviving rows
            # (and duplicate ids corrupt every id-keyed op: delete, upsert's
            # anti-join, query results). One column-pruned agg scan.
            base = self._next_id() if ids is None else 0
            rows = []
            for i, vec in enumerate(vectors):
                if len(vec) != dim:
                    # validated here, in the pass that already walks every
                    # row — not as a separate Spark job
                    raise ValueError(
                        f"embedding dimension mismatch: store expects {dim}"
                    )
                emb = [float(x) for x in vec]
                if not all(math.isfinite(v) for v in emb):
                    # same contract as the DataFrame path's finiteness
                    # leg, in the walk that already touches every value
                    raise ValueError(
                        "embedding rows with null/NaN/Inf components — "
                        "stores only accept fully populated finite vectors"
                    )
                md = dict(metadata[i]) if metadata is not None else {}
                promoted = {
                    k: md.pop(k, None) for k in self.config.promoted_keys
                }
                rows.append(
                    {
                        "id": int(ids[i]) if ids is not None else base + i,
                        "embedding": emb,
                        **promoted,
                        "meta": {k: str(v) for k, v in md.items()},
                    }
                )
            # norm, code, and index columns are engine-computed, never
            # caller input
            in_fields = [
                f
                for f in self.schema.fields
                if f.name not in ("norm", "centroid_id", "q8", "pq_code", "bq_code")
            ]
            df = spark.createDataFrame(rows, T.StructType(in_fields))
            if ids is None:
                # auto-assigned base..base+n-1: advance the cache now (a
                # failed write just leaves a harmless id gap)
                self._max_id_seen = base + len(rows) - 1
            else:
                self._note_ids(ids)

        if isinstance(vectors, DataFrame):
            # caller-supplied (or monotonic-assigned) ids we never see
            # driver-side: the cache can't be advanced, only invalidated
            n_known = None
        else:
            n_known = len(rows)
        out = df
        if "id" not in out.columns:
            # offset by the store's next free id: bare monotonic ids start
            # at 0 and would collide with existing rows. monotonic ids are
            # unique within the batch and >= 0, and the next batch's base
            # is max(id)+1 of everything written, so uniqueness holds
            # across appends (ids are sparse, which id-keyed ops permit).
            out = out.withColumn(
                "id", F.monotonically_increasing_id() + F.lit(self._next_id())
            )
        if "meta" not in out.columns:
            out = out.withColumn(
                "meta", F.create_map().cast("map<string,string>")
            )
        out = out.withColumn("embedding", F.col("embedding").cast("array<float>"))
        out = out.withColumn("norm", l2_norm("embedding"))
        if self.config.quantize and "q8" not in out.columns:
            from mlx_vector_db_spark.functions.vector import quantize_int8

            out = out.withColumn("q8", quantize_int8("embedding"))
        for key, tname in self.config.promoted_keys.items():
            if key not in out.columns:
                out = out.withColumn(key, F.lit(None).cast(_PROMOTED_TYPES[tname]))
        ivf = self._ivf()
        if ivf is not None and "centroid_id" not in out.columns:
            # incremental index maintenance: assignment runs over the
            # new batch only — never a rebuild (the reference rebuilt
            # its whole HNSW graph per add, :110-113). IVFIndex.assign
            # picks the expression path at small nlist (composes into
            # the ingest projection) and the Arrow BLAS path past
            # ASSIGN_ARROW_MIN_K cells, where merely BUILDING the
            # literal expression would cost O(nlist*dim) py4j calls
            # PER BATCH.
            out = ivf.assign(out).withColumn(
                "centroid_id", F.col("centroid_id").cast("int")
            )
        pqc = self._pq()
        if pqc is not None and "pq_code" not in out.columns:
            # incremental PQ maintenance: encoding is a stateless
            # mapInPandas projection over the new batch only (residual
            # codes need the centroid_id assigned just above)
            out = pqc.encode(out, centroids=self._pq_centroids())
        bqm = self._bq()
        if bqm is not None and "bq_code" not in out.columns:
            # incremental BQ maintenance: sign-bit packing is a
            # stateless mapInArrow projection over the new batch only
            out = bqm.encode(out, code_col="bq_code")
        if isinstance(vectors, DataFrame):
            self._max_id_seen = None  # ids resolved executor-side
        return out.select(*[f.name for f in self.schema.fields]), n_known

    def _count_and_validate(self, batch: DataFrame) -> int:
        """ONE aggregation job over a DataFrame batch: row count +
        dimension check + finiteness check together (separate
        count()/filter().count() passes doubled the job count on the
        hot ingest path).

        The finiteness leg (NULL embedding, NULL element, NaN, ±Inf)
        is what lets every read-side operator treat store tables as
        clean — the kNN engine's NULL rule and the fp32 frontier
        margins both assume vectors a store wrote are fully populated
        finite floats (reference parity: ingestion rejects malformed
        vectors, service/models.py:41-46). Note ``size(NULL)`` is NULL
        in modern Spark, so a NULL embedding silently PASSES a bare
        size-mismatch sum — it must be tested explicitly."""
        dim = self.config.dimension
        bad_dim = F.col("embedding").isNull() | (
            F.size("embedding") != F.lit(dim)
        )
        non_finite = F.exists(
            "embedding",
            lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
        )
        row = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(bad_dim.cast("long")).alias("bad"),
            F.sum((~bad_dim & non_finite).cast("long")).alias("nonfinite"),
        ).first()
        if row["bad"]:
            raise ValueError(f"embedding dimension mismatch: store expects {dim}")
        if row["nonfinite"]:
            raise ValueError(
                "embedding rows with null/NaN/Inf components — stores only "
                "accept fully populated finite vectors"
            )
        return int(row["n"])

    def _next_id(self) -> int:
        """Smallest id larger than every id ever visible in the store
        (0 when empty) — the auto-assignment base. The max-id scan runs
        only when ``_max_id_seen`` is cold (new handle, invalidated by a
        DataFrame write whose ids weren't known driver-side, or — checked
        here — a write that landed through a DIFFERENT handle/process
        since the cache was computed, detected by the file-set token;
        trusting a stale cache would reissue existing ids and corrupt
        every id-keyed op)."""
        token = self._files_token()
        if self._max_id_seen is not None and token != self._id_token:
            self._max_id_seen = None  # foreign write detected
        if self._max_id_seen is None:
            rows = self.to_df().agg(F.max("id")).collect()
            self._max_id_seen = (
                int(rows[0][0]) if rows and rows[0][0] is not None else -1
            )
            self._id_token = token
        return self._max_id_seen + 1

    def _note_ids(self, ids: Sequence[int] | None) -> None:
        """Advance (or invalidate) the max-id cache after a write:
        explicit ids advance it driver-side for free; a DataFrame write
        with caller-supplied ids we never saw invalidates it."""
        if ids is None:
            self._max_id_seen = None
        elif self._max_id_seen is not None and len(ids) > 0:
            self._max_id_seen = max(self._max_id_seen, max(int(i) for i in ids))

    def add_vectors(
        self,
        vectors: Sequence[Sequence[float]] | DataFrame,
        metadata: Sequence[Mapping[str, Any]] | None = None,
        ids: Sequence[int] | None = None,
    ) -> int:
        """Append vectors (+ aligned metadata) — reference U1
        (service/optimized_vector_store.py:96-114) without the
        whole-store rewrite.

        Accepts either a prepared DataFrame with at least an
        ``embedding array<float>`` column, or python lists (the wire
        format, service/models.py:38). Dimension and vector/metadata
        alignment are validated like the reference (models.py:41-46).

        Job budget: list input pays ZERO extra jobs (count and dims are
        known driver-side; only the write runs, plus one max-id scan when
        ids are auto-assigned); DataFrame input pays ONE combined
        count+validate aggregation before the write.
        """
        out, n_known = self._prepare_batch(vectors, metadata, ids)
        n_added = self._count_and_validate(out) if n_known is None else n_known
        self._write_batch(out, n_added, mode="append")
        return n_added

    #: unindexed dedup-on-write warns past this store size (full scan
    #: per micro-batch); see ``max_unindexed_rows`` for the hard refusal
    UNINDEXED_DEDUP_WARN_ROWS = 100_000

    def add_vectors_dedup(
        self,
        vectors: Sequence[Sequence[float]] | DataFrame,
        metadata: Sequence[Mapping[str, Any]] | None = None,
        threshold: float = 0.98,
        max_unindexed_rows: int | None = 1_000_000,
    ) -> tuple[int, int]:
        """Dedup-on-write: append only batch rows that are NOT near
        duplicates (cosine >= ``threshold``) of an existing vector or of
        an earlier row in the same batch (min id per in-batch cluster
        survives). Returns ``(n_added, n_rejected)``.

        The incremental-curation shape: a daily ingest screens itself
        against the corpus instead of re-running corpus-wide dedup.
        With an IVF index the store side is pruned to the batch's cells
        before scoring; without one the screen scans the store once per
        batch (both sides stream through a join — no driver collect).
        The plain :meth:`add_vectors` hot path is untouched; this
        method pays the screening joins by design. Auto-assigned ids of
        rejected rows are skipped, leaving id gaps — ids are unique,
        never dense.

        The scale cliff is surfaced at the API, not just documented: on
        an UNINDEXED store the per-batch screen is a full store scan, so
        past ``UNINDEXED_DEDUP_WARN_ROWS`` a ``ResourceWarning`` fires,
        and past ``max_unindexed_rows`` the call REFUSES with guidance
        to :meth:`build_index` first (pass ``max_unindexed_rows=None``
        to accept the scans). The row count comes from parquet footer
        metadata — a driver-side metadata read, never a data scan.

        Screen semantics (incremental, NOT corpus-transitive): the
        store screen and the in-batch pass are applied in sequence, so a
        batch row B with cos(B, A) >= threshold can still land when A
        itself was rejected by the store screen (A is gone before the
        in-batch pair pass runs) — corpus-wide component dedup
        (:meth:`dedup_vectors`) would have dropped B too. With an IVF
        index the store screen also inherits cell-pruning recall: a
        near-dup assigned to a neighboring cell is not seen. Both are
        the standard incremental-screen trade; re-run
        :meth:`dedup_vectors` offline when corpus-transitive guarantees
        matter.
        """
        from mlx_vector_db_spark.functions.vector import cosine_similarity
        from mlx_vector_db_spark.operators.components import dedup_keepers
        from mlx_vector_db_spark.operators.dedup import embedding_neardup_pairs

        if self.config.index is None and self._data_files():
            approx = self._approx_row_count()
            if max_unindexed_rows is not None and approx > max_unindexed_rows:
                raise ValueError(
                    f"dedup-on-write against an UNINDEXED store of ~{approx} "
                    f"rows (> max_unindexed_rows={max_unindexed_rows}): every "
                    "batch pays a full store scan. Build an IVF index first "
                    "(build_index) so the screen prunes to cells, or pass "
                    "max_unindexed_rows=None to accept the scans."
                )
            if approx > self.UNINDEXED_DEDUP_WARN_ROWS:
                warnings.warn(
                    f"add_vectors_dedup on an unindexed store of ~{approx} "
                    "rows: each batch full-scans the store; build_index() "
                    "would prune the screen to IVF cells",
                    ResourceWarning,
                    stacklevel=2,
                )

        batch, n_known = self._prepare_batch(vectors, metadata, None)
        batch = batch.localCheckpoint(eager=False)  # reused by 2-3 joins
        n_batch = self._count_and_validate(batch) if n_known is None else n_known
        if n_batch == 0:
            return (0, 0)

        survivors = batch
        if self._data_files():
            store_side = self.to_df().select(
                F.col("embedding").alias("_s_emb"),
                *(
                    [F.col("centroid_id").alias("_s_cell")]
                    if self.config.index is not None
                    else []
                ),
            )
            if self.config.index is not None:
                cond = F.col("centroid_id") == F.col("_s_cell")
                joined = survivors.join(store_side, cond)
            else:
                joined = survivors.crossJoin(store_side)
            doomed = (
                joined.where(
                    cosine_similarity("embedding", "_s_emb")
                    >= F.lit(float(threshold))
                )
                .select("id")
                .distinct()
            )
            survivors = survivors.join(doomed, on="id", how="left_anti")
        # in-batch screen: min id per near-dup cluster survives
        pairs = embedding_neardup_pairs(
            survivors,
            vec_col="embedding",
            id_col="id",
            threshold=threshold,
            bucket_col="centroid_id" if self.config.index is not None else None,
        ).select("id_a", "id_b")
        survivors = dedup_keepers(survivors, pairs, id_col="id")
        # two actions consume survivors (count + write) — checkpoint so
        # the store-screen join and in-batch component pass run ONCE
        survivors = survivors.localCheckpoint(eager=False)
        n_added = survivors.count()
        if n_added:
            self._write_batch(survivors, n_added, mode="append")
        return (int(n_added), int(n_batch - n_added))

    def _write_batch(self, out: DataFrame, n_rows: int, mode: str) -> None:
        """Append-path writer. Sizes output files by row count instead of
        inheriting the input's partitioning: a 500-row python batch
        otherwise fans out into one tiny file per shuffle partition
        (small-file problem), while a billion-row ingest still gets
        ceil(n/rows_per_file) parallel writers.

        Commit: the batch lands in a private ``.staging-*`` dir, its
        part-files move in under collision-free names, and the manifest
        flips through the CAS loop — two interleaved appends (even from
        different processes) both land, and a crashed append strands
        only invisible orphans (vacuum reaps them), never a torn
        snapshot. (The pre-r6 form globbed the data dir for new files,
        which both raced concurrent writers' part-files and lost the
        slower append's commit outright.)"""
        rows_per_file = 500_000
        n_files = max(1, -(-n_rows // rows_per_file))
        out = out.repartition(n_files) if n_files > 1 else out.coalesce(1)
        staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
        writer = out.write.mode("overwrite")
        if self._cell_partitioned():
            writer = writer.partitionBy("centroid_id")
        writer.parquet(str(staging))
        added = self._move_staged_in(staging)
        self._cas_commit(lambda live: [*live, *added])

    # -- pruned-rewrite machinery (plain-parquet analog of a table
    # -- format's stats-pruned MERGE/DELETE; see SCALE.md) -----------------

    def _approx_row_count(self) -> int:
        """Store row count from parquet footer metadata (driver-side
        metadata-only reads, no Spark job, no data scan) — the cheap
        size probe for scale-cliff guards. Files with unreadable
        footers count 0 (conservative: guards under-fire, never block a
        healthy small store)."""
        import pyarrow.parquet as papq

        total = 0
        for f in self._data_files():
            try:
                total += int(papq.ParquetFile(f).metadata.num_rows)
            except Exception:  # noqa: BLE001 — conservative fallback
                pass
        return total

    def _file_id_ranges(self) -> list[tuple[Path, int | None, int | None]]:
        """(path, min_id, max_id) per data file, from parquet footer
        row-group statistics — metadata-only driver reads, no data scan
        (exactly what a table format keeps in its manifest). Files whose
        stats are missing report (path, None, None) and are treated as
        overlapping by callers (conservative, never wrong)."""
        import pyarrow.parquet as papq

        out: list[tuple[Path, int | None, int | None]] = []
        for f in self._data_files():
            lo: int | None = None
            hi: int | None = None
            try:
                md = papq.ParquetFile(f).metadata
                mins: list[int] = []
                maxs: list[int] = []
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for c in range(rg.num_columns):
                        col = rg.column(c)
                        if col.path_in_schema == "id":
                            st = col.statistics
                            if st is None or not st.has_min_max:
                                raise ValueError("no id stats")
                            mins.append(int(st.min))
                            maxs.append(int(st.max))
                if mins:
                    lo, hi = min(mins), max(maxs)
            except Exception:  # noqa: BLE001 — conservative fallback
                lo = hi = None
            out.append((f, lo, hi))
        return out

    def _partition_files_by_ids(
        self,
        ids: Sequence[int] | None = None,
        lo: int | None = None,
        hi: int | None = None,
    ) -> tuple[list[Path], list[Path]]:
        """Split data files into (touched, untouched) by whether their
        footer id-range can contain any of the target ids. With an
        explicit id list the check is exact membership against the range
        (bisect); with only (lo, hi) it is interval overlap."""
        import bisect

        sids = sorted(int(i) for i in ids) if ids is not None else None
        touched: list[Path] = []
        untouched: list[Path] = []
        for f, fmin, fmax in self._file_id_ranges():
            if fmin is None or fmax is None:
                touched.append(f)
                continue
            if sids is not None:
                i = bisect.bisect_left(sids, fmin)
                hit = i < len(sids) and sids[i] <= fmax
            else:
                hit = not (hi < fmin or lo > fmax)  # type: ignore[operator]
            (touched if hit else untouched).append(f)
        return touched, untouched

    def _move_staged_in(self, staging: Path) -> list[Path]:
        """Move a staged write's part-files into the data dir under
        collision-free names, preserving Hive partition subdirs
        (``centroid_id=N/`` — a cell-partitioned write lands rows back
        in their cells). The moved files are invisible to readers until
        a manifest commit references them."""
        staged: list[Path] = []
        for p in sorted(staging.glob("**/*.parquet")):
            dest_dir = self.data_dir / p.relative_to(staging).parent
            dest_dir.mkdir(parents=True, exist_ok=True)
            dest = dest_dir / f"part-{uuid.uuid4().hex}.parquet"
            p.rename(dest)
            staged.append(dest)
        shutil.rmtree(staging, ignore_errors=True)
        return staged

    def _swap_pruned_files(self, staging: Path, touched: list[Path]) -> None:
        """Replace only the rewritten files, crash-atomically: move the
        staged part-files in (:meth:`_move_staged_in`), commit a
        manifest whose live set is ``(old - touched) + staged`` through
        the CAS loop, and only then unlink the touched originals. A
        crash before the pointer flip leaves readers on the old snapshot
        (originals untouched, staged files invisible); a crash after it
        leaves the new snapshot live with the originals stranded as
        orphans for vacuum() — never a lost slice. Untouched files are
        never rewritten at all.

        Concurrency: an append that commits mid-rewrite composes (its
        files are in the re-read live set and survive untouched); a
        conflicting REWRITE that already replaced one of ``touched``
        raises :class:`ConcurrentWriteError` instead of resurrecting
        rows the other writer removed."""
        staged = self._move_staged_in(staging)
        touched_set = set(touched)

        def files_fn(live: Sequence[Path]) -> list[Path]:
            live_set = set(live)
            missing = touched_set - live_set
            # legacy (manifest-less) dirs list staged+touched via glob —
            # only a manifest-backed store can observe a lost race
            if missing and self._current_token() is not None:
                raise ConcurrentWriteError(
                    f"{len(missing)} file(s) this rewrite planned to "
                    "replace were already replaced by a concurrent "
                    "mutation; re-run against the new snapshot"
                )
            return [*(live_set - touched_set), *staged]

        self._cas_commit(files_fn)
        # Replaced originals are NOT unlinked here: they are retained
        # history — the superseded manifests still reference them, so
        # as_of()/history() can time-travel until vacuum() reaps both
        # (min_age_seconds IS the retention window, the table-format
        # contract). Readers never see them either way: every scan
        # resolves through the committed manifest.

    def _swap_all_files(
        self, staging: Path, snapshot: Sequence[Path] | None = None
    ) -> None:
        """Full-rewrite commit (optimize/build_index/build_pq/truncating
        mutations): same protocol as the pruned swap with every file of
        the rewrite's input snapshot replaced. Replaces the old
        rmtree+rename, whose window between the two calls read as an
        empty store.

        ``snapshot`` is the file list the staged rewrite was READ from
        (:meth:`_snapshot_df`). Passing it is what makes a concurrent
        append compose: files appended after the snapshot are not in
        the touched set, so the CAS re-read carries them into the new
        manifest untouched. Omitting it re-resolves at swap time —
        correct only when no appender can run concurrently (the
        snapshot-to-swap window would otherwise swallow their rows)."""
        touched = (
            sorted(set(snapshot))
            if snapshot is not None
            else sorted(set(self._data_files()))
        )
        self._swap_pruned_files(staging, touched)

    def upsert_vectors(
        self,
        vectors: Sequence[Sequence[float]] | DataFrame,
        metadata: Sequence[Mapping[str, Any]] | None = None,
        ids: Sequence[int] | None = None,
    ) -> tuple[int, int]:
        """MERGE INTO store ON id — update matching rows, insert the
        rest. The reference's mutation surface stops at append + the
        never-implemented delete (SURVEY.md §2.7 U4); upsert is the
        missing third primitive every vector DB exposes.

        Emulated Spark-first as ``existing ⟕anti new  ∪  new`` with an
        atomic staging swap (on a table format this would be a native
        ``MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
        INSERT``). The anti-join shuffles on ``id`` only; at 100 TB the
        rewrite cost is bounded by touched partitions under a
        cell-partitioned layout, and the source batch is typically
        broadcast-sized.

        Duplicate ids within the source batch are rejected (the same
        multiple-source-rows-matched rule native MERGE enforces).
        Returns ``(n_updated, n_inserted)``.

        Rewrite pruning: only parquet files whose footer id min/max
        range intersects the batch's id range are rewritten — untouched
        files stay in place byte-for-byte (the same file-level pruning a
        table format's MERGE does from manifest stats). The pruned path
        handles the cell-partitioned layout too: the touched files are
        read with ``basePath`` so their partition column resolves, and
        the staged rewrite is partitioned back into (possibly different)
        cell dirs. The full staging swap runs only when every file
        overlaps the batch's id range (or the store is empty).

        Job budget: ONE aggregation over the batch (count + duplicate +
        dimension + id-range together) and ONE write; all before/after
        row counts ride the write job as ``Observation`` metrics.
        """
        from pyspark.sql import Observation

        new, _ = self._prepare_batch(vectors, metadata, ids, require_ids=True)
        new = new.cache()
        dim = self.config.dimension
        row = new.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("id")).alias("n_ids"),
            F.sum((F.size("embedding") != F.lit(dim)).cast("long")).alias("bad"),
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
        ).first()
        n_new = int(row["n"])
        if n_new == 0:
            # empty batch: a no-op MERGE, not a crash (the agg's lo/hi
            # are NULL and must never reach _partition_files_by_ids)
            new.unpersist()
            return 0, 0
        if row["bad"]:
            new.unpersist()
            raise ValueError(f"embedding dimension mismatch: store expects {dim}")
        if int(row["n_ids"]) != n_new:
            new.unpersist()
            raise ValueError(
                "duplicate ids in upsert batch: multiple source rows would "
                "match the same target row"
            )

        spark = self.catalog.spark
        fields = [f.name for f in self.schema.fields]
        if self.data_dir.exists():
            touched, untouched = self._partition_files_by_ids(
                lo=int(row["lo"]), hi=int(row["hi"])
            )
            if not touched:
                # no existing file can contain a matching id: pure append
                self._write_batch(new, n_new, mode="append")
                new.unpersist()
                return 0, n_new
            if untouched:
                # pruned rewrite: merge ONLY the overlapping files. Under
                # a cell-partitioned layout the new row versions land in
                # their own (possibly different) cells via partitionBy;
                # the old versions disappear with the touched files.
                reader = spark.read.schema(self.schema)
                if self._cell_partitioned():
                    reader = reader.option("basePath", str(self.data_dir))
                obs_b, obs_a = Observation(), Observation()
                existing_t = reader.parquet(*[str(p) for p in touched]).observe(
                    obs_b, F.count(F.lit(1)).alias("n")
                )
                kept = existing_t.join(new.select("id"), on="id", how="left_anti")
                merged = kept.unionByName(new.select(*fields)).observe(
                    obs_a, F.count(F.lit(1)).alias("n")
                )
                staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
                writer = merged.select(*fields).write.mode("overwrite")
                if self._cell_partitioned():
                    writer = writer.partitionBy("centroid_id")
                writer.parquet(str(staging))
                before_t = int(obs_b.get["n"])
                after_t = int(obs_a.get["n"])
                self._swap_pruned_files(staging, touched)
                new.unpersist()
                inserted = after_t - before_t  # = n_new - matched
                return n_new - inserted, inserted

        # full staging swap (cell-partitioned layout, tiny stores, or
        # every file overlaps): observations keep it at one write job
        obs_b, obs_a = Observation(), Observation()
        snapshot, snap_df = self._snapshot_df()
        existing = snap_df.observe(obs_b, F.count(F.lit(1)).alias("n"))
        kept = existing.join(new.select("id"), on="id", how="left_anti")
        merged = kept.unionByName(new.select(*fields)).observe(
            obs_a, F.count(F.lit(1)).alias("n")
        )
        staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
        writer = merged.select(*fields).write.mode("overwrite")
        if self._cell_partitioned():
            writer = writer.partitionBy("centroid_id")
        writer.parquet(str(staging))
        before = int(obs_b.get["n"])
        after = int(obs_a.get["n"])
        self._swap_all_files(staging, snapshot)
        new.unpersist()
        inserted = after - before
        return n_new - inserted, inserted

    # -- index (reference X1-X3, rebuilt as index-as-columns) --------------

    def tune_nprobe(
        self,
        k: int = 10,
        target_recall: float = 0.9,
        sample_queries: int = 64,
        candidates: Sequence[int] | None = None,
    ) -> tuple[int, dict[int, float]]:
        """Self-calibrate the index's accuracy/latency knob: measure
        recall@k of probe-pruned search against the exact scan on a
        deterministic sample of the store's own vectors (the first
        ``sample_queries`` ids — self-retrieval ground truth, the
        reference's accuracy-harness shape), and return the smallest
        ``nprobe`` meeting ``target_recall`` plus the measured recall
        curve. Cost: one exact batch kNN over the sample + one pruned
        search per tried candidate. Requires a built index."""
        from mlx_vector_db_spark.operators.ann import tune_nprobe

        index = self._ivf()
        if index is None:
            raise ValueError(
                "tune_nprobe requires an index — run build_index() first"
            )
        df = self.to_df()
        queries = (
            df.select(F.col("id").alias("query_id"), "embedding")
            .orderBy("id")
            .limit(int(sample_queries))
        )
        return tune_nprobe(
            df,
            index,
            queries,
            k=k,
            target_recall=target_recall,
            metric=self.config.metric,
            candidates=candidates,
            norm_col="norm",
        )

    def tune_overfetch(
        self,
        k: int = 10,
        target_recall: float = 0.9,
        sample_queries: int = 64,
        candidates: Sequence[int] | None = None,
        nprobe: int | None = None,
    ) -> tuple[int, dict[int, float]]:
        """Self-calibrate the PQ candidate-pool knob: measure recall@k
        of compressed-domain search (ADC + exact re-rank; residual
        IVF-PQ when the store's codes are residual) against the exact
        scan on the same deterministic self-retrieval sample as
        :meth:`tune_nprobe`, and return the smallest ``overfetch``
        meeting ``target_recall`` plus the measured curve. With
        residual codes the recall ceiling is set by ``nprobe`` (default:
        the store's configured/tuned value) — a saturating curve means
        tune nprobe first. Requires built PQ codes."""
        from mlx_vector_db_spark.operators.pq import tune_overfetch

        pqc = self._pq()
        if pqc is None:
            raise ValueError(
                "tune_overfetch requires PQ codes — run build_pq() first"
            )
        residual = bool((self.config.pq or {}).get("residual"))
        cent = self._ivf().centroids if residual else None
        if nprobe is None:
            nprobe = int((self.config.index or {}).get("nprobe", 4))
        df = self.to_df()
        queries = (
            df.select(F.col("id").alias("query_id"), "embedding")
            .orderBy("id")
            .limit(int(sample_queries))
        )
        return tune_overfetch(
            df,
            queries,
            pqc,
            k=k,
            target_recall=target_recall,
            metric=self.config.metric,
            candidates=candidates,
            centroids=cent,
            nprobe=int(nprobe),
        )

    def build_index(
        self,
        nlist: int | str = 16,
        sample_fraction: float | None = None,
        seed: int = 42,
        partition_by_cell: bool = False,
        kind: str = "ivf",
        n_planes: int = 4,
    ) -> None:
        """Batch cell-index build, persisted in the store config
        (KB-sized, the analog of hnsw_index.bin —
        performance/hnsw_index.py:105-129), assignments rewritten into
        the table as a ``centroid_id`` column. Run once per store (or
        periodically); subsequent adds assign incrementally.

        ``kind`` picks the access path (the reference's index-choice
        knob, README.md:304-311): ``"ivf"`` trains k-means centroids on
        a sample (adaptive cells, the default); ``"lsh"`` uses random
        hyperplanes (``2**n_planes`` buckets) — zero training scan,
        preferable when the corpus churns too fast to retrain.

        ``nlist="auto"`` sizes the cell count by the faiss rule
        (~4*sqrt(n), power of two, clamped [16, 65536]) from the
        store's actual row count — the knob most users should use.

        ``partition_by_cell=True`` additionally lays the data out as
        Hive partitions on ``centroid_id``: probe queries then prune at
        the *directory* level (``PartitionFilters`` in the scan, zero IO
        for unprobed cells) — the strongest form of the
        index-as-columns idea, at the cost of one shuffle at build time
        and nlist-way fan-out of files.
        """
        from mlx_vector_db_spark.operators.ann import build_ivf, build_lsh

        if (self.config.pq or {}).get("residual"):
            raise ValueError(
                "store has residual PQ codes that decode against the current "
                "index's centroids — rebuilding the index would corrupt them; "
                "drop_pq() first, rebuild the index, then build_pq() again"
            )
        snapshot, df = self._snapshot_df()
        if self.config.index:
            df = df.drop("centroid_id")
        if df.isEmpty():
            raise ValueError("cannot build an index on an empty store")
        if kind == "ivf":
            indexed, index = build_ivf(
                df, nlist=nlist, sample_fraction=sample_fraction, seed=seed
            )
        elif kind == "lsh":
            indexed, index = build_lsh(
                df, dim=self.config.dimension, n_planes=n_planes, seed=seed
            )
        else:
            raise ValueError(f"unknown index kind: {kind!r} (ivf or lsh)")
        # write first, mutate the live config only after the swap lands:
        # a failed staging write must leave the store object consistent
        # (config without index <=> files without centroid_id)
        names = [f.name for f in self.schema.fields]
        if "centroid_id" not in names:
            names.append("centroid_id")
        staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
        out = indexed.withColumn(
            "centroid_id", F.col("centroid_id").cast("int")
        ).select(names)
        if partition_by_cell:
            # one file per cell at this scale; a real deployment sizes
            # files per cell with a repartition on centroid_id first
            out.repartition("centroid_id").write.mode("overwrite").partitionBy(
                "centroid_id"
            ).parquet(str(staging))
        else:
            out.write.mode("overwrite").parquet(str(staging))
        self._swap_all_files(staging, snapshot)
        self.config.index = index.to_dict()
        self.config.index["partitioned"] = bool(partition_by_cell)
        self._ivf_cache = index
        self.catalog._save_config(self.config)

    def drop_index(self) -> None:
        if (self.config.pq or {}).get("residual"):
            raise ValueError(
                "store has residual PQ codes that decode against this "
                "index's centroids — drop_pq() (or rebuild plain PQ) first"
            )
        self.config.index = None
        self._ivf_cache = None
        self.catalog._save_config(self.config)

    def _pq_centroids(self):
        """The IVF centroid block when the persisted PQ codes are
        residual-encoded, else None."""
        if not (self.config.pq or {}).get("residual"):
            return None
        return self._ivf().centroids

    def build_pq(
        self,
        m: int = 8,
        nbits: int = 8,
        seed: int = 42,
        residual: bool | None = None,
    ) -> None:
        """Train product-quantization codebooks on the store (bounded
        sample) and materialize an m-byte ``pq_code`` column — the
        compression analog of build_index: one-time build persisted in
        the store config, incremental encode on every later add, and a
        16-64x-compressed ADC first pass in query().

        With an IVF index present, codes default to RESIDUAL encoding
        (``v - centroid(v)`` — classic IVF-PQ: residuals are smaller in
        norm, so the same codebook budget buys finer detail) and query()
        routes through the fused cell-prune + residual-ADC kernel. Pass
        ``residual=False`` to force plain codes; LSH indexes have no
        centroids, so they always get plain codes."""
        from mlx_vector_db_spark.operators.pq import train_pq

        snapshot, df = self._snapshot_df()
        if self.config.pq:
            df = df.drop("pq_code")
        if df.isEmpty():
            raise ValueError("cannot train PQ on an empty store")
        ivf = self._ivf()
        use_residual = (
            (residual is None or residual)
            and (self.config.index or {}).get("type") == "ivf"
            and ivf is not None
        )
        if residual and not use_residual:
            raise ValueError("residual PQ requires a built IVF index")
        cent = ivf.centroids if use_residual else None
        pqc = train_pq(df, m=m, nbits=nbits, seed=seed, centroids=cent)
        coded = pqc.encode(df, centroids=cent)
        # write first, mutate the live config only after the swap lands
        # (see build_index): a failed write must not leave this object
        # half-enabled (schema with pq_code over files without it)
        names = [f.name for f in self.schema.fields]
        if "pq_code" not in names:
            names.append("pq_code")
        staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
        out = coded.select(names)
        writer = out.write.mode("overwrite")
        if self._cell_partitioned():
            writer = writer.partitionBy("centroid_id")
        writer.parquet(str(staging))
        self._swap_all_files(staging, snapshot)
        self.config.pq = pqc.to_dict()
        self.config.pq["residual"] = bool(use_residual)
        self._pq_cache = pqc
        self.catalog._save_config(self.config)

    def drop_pq(self) -> None:
        self.config.pq = None
        self._pq_cache = None
        self.catalog._save_config(self.config)

    def build_bq(self, seed: int = 42) -> None:
        """Train per-dimension binary-quantization thresholds (bounded
        sample — operators.bq.train_bq) and materialize a D/8-byte
        ``bq_code`` sign-code column: the deepest, cheapest rung of the
        store's compression ladder (int8 4x, PQ 16-64x, BQ 32x with
        zero training beyond one mean pass). Same build-once contract
        as build_pq: persisted in the store config, incremental encode
        on every later add, and a XOR+popcount first pass in query()
        (tried after PQ — finer per byte — and before int8)."""
        from mlx_vector_db_spark.operators.bq import train_bq

        snapshot, df = self._snapshot_df()
        if self.config.bq:
            df = df.drop("bq_code")
        if df.isEmpty():
            raise ValueError("cannot train BQ on an empty store")
        bqm = train_bq(df, seed=seed)
        coded = bqm.encode(df, code_col="bq_code")
        # write first, mutate the live config only after the swap lands
        # (the build_pq/build_index discipline)
        names = [f.name for f in self.schema.fields]
        if "bq_code" not in names:
            names.append("bq_code")
        staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
        out = coded.select(names)
        writer = out.write.mode("overwrite")
        if self._cell_partitioned():
            writer = writer.partitionBy("centroid_id")
        writer.parquet(str(staging))
        self._swap_all_files(staging, snapshot)
        self.config.bq = bqm.to_dict()
        self._bq_cache = bqm
        self.catalog._save_config(self.config)

    def drop_bq(self) -> None:
        self.config.bq = None
        self._bq_cache = None
        self.catalog._save_config(self.config)

    # -- multi-vector (token) tier -------------------------------------------
    #
    # Late-interaction retrieval as a FIRST-CLASS store capability
    # (VERDICT r11 "what's missing" #3): the reference engine is
    # single-vector throughout (service/vector_store.py — one ``vector``
    # per id), so this tier is beyond-reference surface, but it follows
    # the same store contracts as the BQ/PQ tiers: persisted artifacts
    # in the config, incremental encode on add, and saturation-aware
    # dispatch in the query method. Storage layout is the blocked
    # sweep's preferred shape — ONE row per doc ``(doc_id long,
    # token_vecs array<array<float>>)`` from pack_doc_tokens, so the
    # scan feeds mapInPandas with whole docs per Arrow batch and zero
    # packing shuffles at query time; the optional sign-bit code table
    # (build_token_codes) is its 32x-compressed funnel twin.

    #: parquet row-group (block) size for PACKED token tables. Packed
    #: rows are wide (tokens_per_doc x dim floats — 32 KB/row at
    #: ColBERT density), and Spark's vectorized reader decodes up to
    #: one whole row group per batch: the default 128 MB block decodes
    #: ~134 MB of contiguous column vectors PER TASK, which OOMs
    #: small-heap executors (measured r12: 100k docs x 128 tokens x
    #: 64D, 32 tasks, default heap — Java heap space in
    #: VectorizedRleValuesReader). Bounding the WRITER's row groups at
    #: 32 MB bounds every future reader's batch memory, independent of
    #: session conf — the layout fix, not a tuning workaround.
    _TOKEN_PARQUET_BLOCK = 32 * 1024 * 1024

    @property
    def tokens_dir(self) -> Path:
        return self.data_dir.parent / f"{self.data_dir.name}__tokens"

    @property
    def token_codes_dir(self) -> Path:
        return self.data_dir.parent / f"{self.data_dir.name}__token_codes"

    # Tier durability (r13, ADVICE r12): BOTH tier tables commit through
    # ONE manifest + pointer flip — the main table's discipline. A crash
    # at any point leaves readers on the previous snapshot of tokens AND
    # codes TOGETHER; the pre-r13 plain appends could crash between the
    # two table writes and leave the code table missing docs the token
    # table had (a silent funnel recall hole), or expose a torn
    # mid-append table to readers. Unlike the main table the tier keeps
    # NO history: files leaving the live set are unlinked at commit
    # (maintenance surface, no time travel) — a reader that resolved the
    # PREVIOUS manifest while a rewrite commits retries its scan, the
    # standard non-snapshot-table race; NEW resolutions are always
    # consistent. Mutations serialize under a tier-scoped flock held for
    # the WHOLE mutation, so an append can no longer interleave with a
    # staged-swap rewrite and lose its part-files (ADVICE r12); the lock
    # file is separate from the main table's commit LOCK so a
    # minutes-long code build never blocks main-table appends.

    @property
    def _token_meta_dir(self) -> Path:
        return self.data_dir.parent / f"{self.data_dir.name}__tokens_meta"

    @contextlib.contextmanager
    def _token_mutation_lock(self):
        """Cross-process single-writer lock held across every token-tier
        mutation end-to-end (staging writes INCLUDED, not just the
        pointer flip) — tier rewrites are whole-table staged swaps, so
        writer-writer interleaving must be excluded, not CAS-merged."""
        self._token_meta_dir.mkdir(parents=True, exist_ok=True)
        try:
            import fcntl

            fd = os.open(self._token_meta_dir / "LOCK", os.O_CREAT | os.O_RDWR)
        except OSError:  # pragma: no cover — no flock support on this FS
            yield
            return
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _token_live(self) -> tuple[list[Path], list[Path]]:
        """``(token_files, code_files)`` of the committed tier snapshot.
        Legacy (pre-manifest) layouts resolve by glob; the first
        mutation adopts them into a manifest (:meth:`_token_adopt_legacy`)
        before staging anything, so stranded part-files from a crashed
        mutation can never become visible through the glob fallback."""
        ptr = self._token_meta_dir / "CURRENT"
        if ptr.exists():
            m = json.loads(
                (self._token_meta_dir / ptr.read_text().strip()).read_text()
            )
            return (
                [self.tokens_dir / r for r in m["tokens"]],
                [self.token_codes_dir / r for r in m["codes"]],
            )
        return (
            sorted(self.tokens_dir.glob("**/*.parquet"))
            if self.tokens_dir.exists()
            else [],
            sorted(self.token_codes_dir.glob("**/*.parquet"))
            if self.token_codes_dir.exists()
            else [],
        )

    def _token_commit(
        self, token_files: Sequence[Path], code_files: Sequence[Path]
    ) -> None:
        """ONE pointer flip commits both tier tables (caller holds
        :meth:`_token_mutation_lock`). Files leaving the live set are
        unlinked after the flip — the tier's no-history contract."""
        prev_tokens, prev_codes = self._token_live()
        mid = uuid.uuid4().hex
        mname = f"tokmanifest-{mid}.json"
        self._token_meta_dir.mkdir(parents=True, exist_ok=True)
        (self._token_meta_dir / mname).write_text(
            json.dumps(
                {
                    "tokens": sorted(
                        str(Path(f).relative_to(self.tokens_dir))
                        for f in set(token_files)
                    ),
                    "codes": sorted(
                        str(Path(f).relative_to(self.token_codes_dir))
                        for f in set(code_files)
                    ),
                    "committed_at": time.time(),
                }
            )
        )
        ptr = self._token_meta_dir / "CURRENT"
        prev_manifest = ptr.read_text().strip() if ptr.exists() else None
        tmp = self._token_meta_dir / f".CURRENT.tmp-{mid}"
        tmp.write_text(mname)
        os.replace(tmp, ptr)  # the commit point
        for gone in (set(prev_tokens) - set(token_files)) | (
            set(prev_codes) - set(code_files)
        ):
            with contextlib.suppress(OSError):
                os.unlink(gone)
        if prev_manifest is not None:
            with contextlib.suppress(OSError):
                os.unlink(self._token_meta_dir / prev_manifest)

    def _token_adopt_legacy(self) -> None:
        """Adopt a pre-manifest glob layout into a committed manifest
        (idempotent, no-op once CURRENT exists)."""
        if not (self._token_meta_dir / "CURRENT").exists():
            toks, codes = self._token_live()
            if toks or codes:
                self._token_commit(toks, codes)

    #: parquet PAGE size for packed tier tables (default 1 MB). The page
    #: is the unit of column-index (min/max) pruning: the funnel's
    #: pass-2 re-rank pushes a scattered candidate id list into the
    #: float scan, and byte savings equal the fraction of pages with no
    #: candidate — at 1 MB pages (~800 packed rows each) any realistic
    #: candidate set hits every page; at 64 KB (~50 rows) the same set
    #: leaves most pages untouched. Costs ~1% size in page headers.
    _TOKEN_PARQUET_PAGE = 64 * 1024

    #: parquet page ROW-COUNT cap (default 20000). The byte cap alone is
    #: per-COLUMN: a 64 KB page of the 8-byte doc_id column spans ~8000
    #: rows, and column-index pruning selects row RANGES at the
    #: PREDICATE column's page granularity — so one scattered candidate
    #: dragged in an 8000-row range (~8 MB of packed floats) and 45 hit
    #: doc_id pages read 359 of 515 MB (measured r13). Capping every
    #: page at 100 rows makes the range granularity 100 rows: the same
    #: 100-candidate read drops to 13 MB (39x), 800 candidates to
    #: 102 MB (5x), at +0.06% file size.
    _TOKEN_PARQUET_PAGE_ROWS = 100

    def _stage_tokens_in(self, df: DataFrame, dest: Path) -> list[Path]:
        """Write ``df`` to a private staging dir (bounded 32 MB row
        groups, 64 KB / 100-row point-lookup-friendly pages, rows
        locally SORTED by doc_id) and move its part-files into ``dest``
        under collision-free names — invisible to readers until the
        manifest flip references them.

        The local sort is what makes the page stats USABLE: packed
        rows arrive from a hash shuffle, so without it each page holds
        doc_ids scattered across the whole id range — page min/max
        spans everything and column-index pruning keeps every page
        (measured r13: the funnel's pushed candidate filter read the
        full 515 MB float table on unsorted files vs 13-102 MB on
        sorted ones). sortWithinPartitions is a zero-shuffle local
        sort; optimize_tokens additionally RANGE-partitions across
        files so footer-level pruning composes on top."""
        staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
        if "doc_id" in df.columns:
            df = df.sortWithinPartitions("doc_id")
        df.write.mode("overwrite").option(
            "parquet.block.size", self._TOKEN_PARQUET_BLOCK
        ).option(
            "parquet.page.size", self._TOKEN_PARQUET_PAGE
        ).option(
            "parquet.page.row.count.limit", self._TOKEN_PARQUET_PAGE_ROWS
        ).parquet(str(staging))
        dest.mkdir(parents=True, exist_ok=True)
        moved: list[Path] = []
        for p in sorted(staging.glob("**/*.parquet")):
            d = dest / f"part-{uuid.uuid4().hex}.parquet"
            p.rename(d)
            moved.append(d)
        shutil.rmtree(staging, ignore_errors=True)
        return moved

    @staticmethod
    def _doc_id_file_ranges(
        files: Sequence[Path],
    ) -> list[tuple[Path, int | None, int | None]]:
        """Footer ``doc_id`` min/max per packed-tier file (driver-side
        metadata reads, no Spark job) — the pruning stats for duplicate
        probes, replace rewrites, and deletes. Files without usable
        stats report ``(None, None)`` and are treated as overlapping
        everything (conservative)."""
        import pyarrow.parquet as papq

        out: list[tuple[Path, int | None, int | None]] = []
        for f in files:
            lo: int | None = None
            hi: int | None = None
            try:
                md = papq.ParquetFile(f).metadata
                mins: list[int] = []
                maxs: list[int] = []
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for c in range(rg.num_columns):
                        col = rg.column(c)
                        if col.path_in_schema == "doc_id":
                            st = col.statistics
                            if st is None or not st.has_min_max:
                                raise ValueError("no doc_id stats")
                            mins.append(int(st.min))
                            maxs.append(int(st.max))
                if mins:
                    lo, hi = min(mins), max(maxs)
            except Exception:  # noqa: BLE001 — conservative fallback
                lo = hi = None
            out.append((f, lo, hi))
        return out

    _TOKEN_SCHEMA = "doc_id long, token_vecs array<array<float>>"
    _TOKEN_CODES_SCHEMA = "doc_id long, token_codes array<binary>"

    def add_token_vectors(
        self,
        doc_tokens: DataFrame,
        doc_id_col: str = "doc_id",
        vec_col: str = "embedding",
        packed: bool = False,
        on_conflict: str = "error",
    ) -> int:
        """Append token-level vectors for multi-vector (MaxSim) docs.

        ``doc_tokens`` is token-level rows ``(doc_id, embedding)`` —
        or, with ``packed=True``, pre-packed ``(doc_id, token_vecs)``
        rows. Doc ids must be integral (the funnel contract) and are
        stored as longs; token dimension must equal the store's
        ``config.dimension``; NULL tokens are dropped under the engine
        NULL rule and non-finite tokens are rejected (the store write
        contract, same as add_vectors).

        Append-once is ENFORCED (r13 — a duplicate packed row would
        silently score one doc as two, and no recall gate could catch
        it because scores stay plausible). ``on_conflict``:

        - ``"error"`` (default): raise ``ValueError`` if any batch
          doc_id already exists in the tier. Probe cost: a driver-side
          parquet-footer doc_id min/max check first (free when the
          batch's id range clears every file's — the monotonic-ingest
          common case), then one doc_id-column semi-join LIMIT-bounded
          job over only the range-overlapping files.
        - ``"replace"``: re-index — existing packed rows (and codes)
          for the batch's doc_ids are dropped and the new tokens land
          in the SAME manifest flip (atomic re-index; file-level pruned
          rewrite, only range-overlapping files are rewritten).
        - ``"unchecked"``: skip the probe — the caller guarantees fresh
          ids (the watermark-ingest pattern); a violated guarantee
          reproduces the pre-r13 double-scoring.

        When :meth:`build_token_codes` has run, the new docs' sign-bit
        codes are encoded and committed in the same manifest flip (the
        incremental-maintenance contract the pq/bq columns keep) — a
        crash can never leave codes behind tokens. Returns the number
        of token rows written.
        """
        from mlx_vector_db_spark.operators.knn import _drop_null_vectors
        from mlx_vector_db_spark.operators.maxsim import (
            _require_integral_ids,
            pack_doc_tokens,
            pack_doc_token_codes,
        )

        if on_conflict not in ("error", "replace", "unchecked"):
            raise ValueError(
                "on_conflict must be 'error', 'replace', or 'unchecked'"
            )
        _require_integral_ids(doc_tokens, doc_id_col, "add_token_vectors")
        if packed:
            flat = doc_tokens.select(
                F.col(doc_id_col).cast("long").alias("doc_id"),
                F.explode("token_vecs").alias("embedding"),
            )
        else:
            flat = doc_tokens.select(
                F.col(doc_id_col).cast("long").alias("doc_id"),
                F.col(vec_col).cast("array<float>").alias("embedding"),
            )
        flat = _drop_null_vectors(flat, "embedding")
        # ONE aggregation: count + dim + finiteness + batch id range
        # (the id range drives the footer-watermark duplicate probe)
        n, lo, hi = self._count_and_validate_tokens(flat)
        if n == 0:
            return 0
        spark = self.catalog.spark
        with self._token_mutation_lock():
            self._token_adopt_legacy()
            live_toks, live_codes = self._token_live()
            touched_toks: list[Path] = []
            touched_codes: list[Path] = []
            replaced_toks: list[Path] = []
            replaced_codes: list[Path] = []
            if on_conflict != "unchecked" and live_toks:
                ranges = self._doc_id_file_ranges(live_toks)
                overlap = [
                    f
                    for f, flo, fhi in ranges
                    if flo is None or not (hi < flo or lo > fhi)
                ]
                dup_ids: list[int] = []
                if overlap:
                    existing = spark.read.schema(self._TOKEN_SCHEMA).parquet(
                        *[str(f) for f in overlap]
                    )
                    dup_ids = [
                        r["doc_id"]
                        for r in existing.select("doc_id")
                        .join(
                            flat.select("doc_id").distinct(),
                            on="doc_id",
                            how="left_semi",
                        )
                        .limit(5)
                        .collect()
                    ]
                if dup_ids and on_conflict == "error":
                    raise ValueError(
                        "add_token_vectors: doc_ids already present in the "
                        f"token tier (e.g. {sorted(dup_ids)}); re-adding "
                        "would score one doc as two — pass "
                        "on_conflict='replace' to re-index, or use fresh ids"
                    )
                if dup_ids and on_conflict == "replace":
                    batch_ids = flat.select("doc_id").distinct()
                    touched_toks = overlap
                    surv_t = spark.read.schema(self._TOKEN_SCHEMA).parquet(
                        *[str(f) for f in touched_toks]
                    ).join(batch_ids, on="doc_id", how="left_anti")
                    replaced_toks = self._stage_tokens_in(surv_t, self.tokens_dir)
                    if live_codes:
                        touched_codes = [
                            f
                            for f, flo, fhi in self._doc_id_file_ranges(
                                live_codes
                            )
                            if flo is None or not (hi < flo or lo > fhi)
                        ]
                        if touched_codes:
                            surv_c = spark.read.schema(
                                self._TOKEN_CODES_SCHEMA
                            ).parquet(*[str(f) for f in touched_codes]).join(
                                batch_ids, on="doc_id", how="left_anti"
                            )
                            replaced_codes = self._stage_tokens_in(
                                surv_c, self.token_codes_dir
                            )
            staged_toks = self._stage_tokens_in(
                pack_doc_tokens(flat, "doc_id", "embedding"), self.tokens_dir
            )
            staged_codes: list[Path] = []
            if self.config.token_bq:
                from mlx_vector_db_spark.operators.bq import BQModel

                model = BQModel.from_dict(self.config.token_bq)
                staged_codes = self._stage_tokens_in(
                    pack_doc_token_codes(flat, model, "doc_id", "embedding"),
                    self.token_codes_dir,
                )
            self._token_commit(
                [
                    *(f for f in live_toks if f not in set(touched_toks)),
                    *replaced_toks,
                    *staged_toks,
                ],
                [
                    *(f for f in live_codes if f not in set(touched_codes)),
                    *replaced_codes,
                    *staged_codes,
                ],
            )
        return n

    def _count_and_validate_tokens(self, flat: DataFrame) -> tuple[int, int, int]:
        """The token-tier twin of :meth:`_count_and_validate`: the same
        dimension + finiteness contract in ONE aggregation job, plus the
        batch's doc_id min/max (fuel for the footer-watermark duplicate
        probe — no second pass)."""
        dim = self.config.dimension
        bad_dim = F.col("embedding").isNull() | (
            F.size("embedding") != F.lit(dim)
        )
        non_finite = F.exists(
            "embedding",
            lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
        )
        row = flat.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(bad_dim.cast("long")).alias("bad"),
            F.sum((~bad_dim & non_finite).cast("long")).alias("nonfinite"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        ).first()
        if row["bad"]:
            raise ValueError(f"embedding dimension mismatch: store expects {dim}")
        if row["nonfinite"]:
            raise ValueError(
                "embedding rows with null/NaN/Inf components — stores only "
                "accept fully populated finite vectors"
            )
        n = int(row["n"])
        return n, (int(row["lo"]) if n else 0), (int(row["hi"]) if n else 0)

    def delete_token_vectors(self, ids: Sequence[int]) -> int:
        """Delete packed token rows (and their codes) for ``ids`` — the
        re-index/right-to-forget primitive the append-once contract
        needs as its escape hatch. File-level pruned rewrite: only files
        whose footer doc_id range can contain a target id are rewritten
        (after :meth:`optimize_tokens` range-partitions the tier, a
        point delete touches ONE file); both tables commit in one
        manifest flip. Returns the number of packed doc rows removed."""
        import bisect

        sids = sorted({int(i) for i in ids})
        if not sids:
            return 0
        spark = self.catalog.spark
        with self._token_mutation_lock():
            self._token_adopt_legacy()
            live_toks, live_codes = self._token_live()
            if not live_toks:
                return 0

            def _touched(files: list[Path]) -> list[Path]:
                hit: list[Path] = []
                for f, flo, fhi in self._doc_id_file_ranges(files):
                    if flo is None:
                        hit.append(f)
                        continue
                    i = bisect.bisect_left(sids, flo)
                    if i < len(sids) and sids[i] <= fhi:
                        hit.append(f)
                return hit

            ids_df = spark.createDataFrame(
                [(i,) for i in sids], "doc_id long"
            )
            touched_toks = _touched(live_toks)
            removed = 0
            replaced_toks: list[Path] = []
            if touched_toks:
                reader = spark.read.schema(self._TOKEN_SCHEMA)
                tdf = reader.parquet(*[str(f) for f in touched_toks])
                removed = (
                    tdf.join(ids_df, on="doc_id", how="left_semi").count()
                )
                if removed:
                    surv = tdf.join(ids_df, on="doc_id", how="left_anti")
                    replaced_toks = self._stage_tokens_in(surv, self.tokens_dir)
                else:
                    touched_toks = []
            touched_codes: list[Path] = []
            replaced_codes: list[Path] = []
            if removed and live_codes:
                touched_codes = _touched(live_codes)
                if touched_codes:
                    cdf = spark.read.schema(self._TOKEN_CODES_SCHEMA).parquet(
                        *[str(f) for f in touched_codes]
                    )
                    surv_c = cdf.join(ids_df, on="doc_id", how="left_anti")
                    replaced_codes = self._stage_tokens_in(
                        surv_c, self.token_codes_dir
                    )
            if removed:
                self._token_commit(
                    [
                        *(f for f in live_toks if f not in set(touched_toks)),
                        *replaced_toks,
                    ],
                    [
                        *(f for f in live_codes if f not in set(touched_codes)),
                        *replaced_codes,
                    ],
                )
            return int(removed)

    def token_df(self) -> DataFrame:
        """The packed token table ``(doc_id, token_vecs)`` — empty (with
        the right schema) when no tokens were ever added. Resolves
        through the tier manifest (r13), so readers never see part-files
        a crashed or in-flight mutation staged."""
        files, _ = self._token_live()
        if not files:
            return self.catalog.spark.createDataFrame([], self._TOKEN_SCHEMA)
        return self.catalog.spark.read.schema(self._TOKEN_SCHEMA).parquet(
            *[str(f) for f in files]
        )

    def token_codes_df(self) -> DataFrame:
        """The packed sign-bit code table ``(doc_id, token_codes)`` —
        manifest-resolved, like :meth:`token_df`."""
        _, files = self._token_live()
        if not files:
            return self.catalog.spark.createDataFrame(
                [], self._TOKEN_CODES_SCHEMA
            )
        return self.catalog.spark.read.schema(
            self._TOKEN_CODES_SCHEMA
        ).parquet(*[str(f) for f in files])

    def build_token_codes(
        self, seed: int = 42, reuse_doc_thresholds: bool = False
    ) -> None:
        """Materialize the funnel's sign-bit token-code table: each
        token becomes ``ceil(D/8)`` bytes (32x cut vs float32), so
        :meth:`maxsim_query`'s candidate pass scans ~1/32nd the bytes
        and does no floating-point work.

        Thresholds are trained on the TOKEN distribution by default
        (r13, ADVICE r12): the pre-r13 build reused the main table's
        doc-level BQ thresholds when present, but per-dimension means
        from a DIFFERENT vector distribution can sit far from the token
        distribution's means and silently degrade funnel recall — the
        sign bit stops splitting the token population. Pass
        ``reuse_doc_thresholds=True`` to opt back in when the doc and
        token vectors genuinely share a distribution (e.g. docs are
        mean-pooled tokens).

        Build-once: thresholds persist in the config; the code table is
        maintained incrementally by :meth:`add_token_vectors`; the build
        commits through the tier manifest (a crash leaves the previous
        code table live, never a torn or missing one)."""
        from mlx_vector_db_spark.operators.bq import train_bq
        from mlx_vector_db_spark.operators.maxsim import pack_doc_token_codes

        tok = self.token_df()
        flat = tok.select(
            "doc_id", F.explode("token_vecs").alias("embedding")
        )
        if tok.isEmpty():
            raise ValueError("cannot build token codes on an empty token table")
        bqm = self._bq() if reuse_doc_thresholds else None
        if bqm is None:
            bqm = train_bq(flat, seed=seed)
        codes = pack_doc_token_codes(flat, bqm, "doc_id", "embedding")
        with self._token_mutation_lock():
            self._token_adopt_legacy()
            live_toks, _ = self._token_live()
            staged = self._stage_tokens_in(codes, self.token_codes_dir)
            self._token_commit(live_toks, staged)
        self.config.token_bq = bqm.to_dict()
        self.catalog._save_config(self.config)

    def drop_token_vectors(self) -> None:
        """Drop the whole token tier (tokens, codes, thresholds). The
        manifest flips to empty FIRST (readers go empty atomically),
        then the directories are reaped."""
        with self._token_mutation_lock():
            if (self._token_meta_dir / "CURRENT").exists() or (
                self.tokens_dir.exists() or self.token_codes_dir.exists()
            ):
                self._token_commit([], [])
        shutil.rmtree(self.tokens_dir, ignore_errors=True)
        shutil.rmtree(self.token_codes_dir, ignore_errors=True)
        shutil.rmtree(self._token_meta_dir, ignore_errors=True)
        self.config.token_bq = None
        self.catalog._save_config(self.config)

    def optimize_tokens(self, target_files: int = 4) -> int:
        """Compact the token tier's small files (the OPTIMIZE analog for
        the packed tables): every :meth:`add_token_vectors` call appends
        its own part-files, so a micro-batch token ingest accumulates
        the classic small-file problem — compact both the packed float
        table and (when built) the code table into ``target_files``
        range-partitioned on ``doc_id``, so footer min/max stats become
        tight per file (point lookups, duplicate probes, deletes, and
        semi-join pruning touch one file). Row groups stay bounded
        (32 MB writer default). Both compacted tables land in ONE
        manifest flip — a crash leaves the previous layout live.
        Returns the resulting packed-table file count."""
        spark = self.catalog.spark
        with self._token_mutation_lock():
            self._token_adopt_legacy()
            live_toks, live_codes = self._token_live()
            if not live_toks:
                return 0

            def _compact(files: list[Path], schema: str, dest: Path) -> list[Path]:
                df = spark.read.schema(schema).parquet(*[str(f) for f in files])
                return self._stage_tokens_in(
                    df.repartitionByRange(target_files, "doc_id")
                    .sortWithinPartitions("doc_id"),
                    dest,
                )

            new_toks = _compact(live_toks, self._TOKEN_SCHEMA, self.tokens_dir)
            new_codes = (
                _compact(
                    live_codes, self._TOKEN_CODES_SCHEMA, self.token_codes_dir
                )
                if live_codes
                else []
            )
            self._token_commit(new_toks, new_codes)
            return len(new_toks)

    def maxsim_query(
        self,
        query_tokens,
        k: int = 10,
        overfetch: int = 4,
        funnel: bool | None = None,
        filter_metadata: Mapping[str, Any] | None = None,
        metric: str = "cosine",
    ) -> DataFrame:
        """Late-interaction top-k over the store's token tier.

        ``query_tokens`` is a DataFrame of token rows ``(query_id,
        embedding)`` or a plain sequence of token vectors (ONE query,
        ``query_id`` 0). Returns ``(query_id, doc_id, score, rank)``.

        ``funnel`` routing: ``None`` (default) runs the EXACT blocked
        sweep. r13 demoted the funnel from the auto path after the
        prescribed cold-cache A/B (VERDICT r12 #3): at the 2M-token
        shape the two-pass funnel loses to the blocked BLAS sweep at
        dim 64 AND dim 128, page-cache-warm AND posix_fadvise-evicted
        cold (BENCH_r13_maxsim_cold_*.json) — on fast storage CPU is
        the bottleneck and the bit kernel's FLOP savings never repay
        the second pass.

        The bandwidth-bound carve-out was then MEASURED under a cgroup
        read throttle (BENCH_r13_maxsim_throttled.json): with the
        optimize_tokens layout (range-clustered files, 100-row pages)
        and the pass-2 candidate In-pushdown, the funnel reads 117 MB
        where the exact sweep reads 515 and WINS 1.9x at 40 MB/s
        (9.3s vs 17.5s, 10 queries x 2M tokens). The win needs BOTH
        (a) scan bandwidth — not CPU — as the bottleneck (>= ~150 MB/s
        the sweep wins again), and (b) candidates sparse vs the corpus
        (~<1 per 100-row page; at 100 queries the same probe reads 463
        of 515 MB and loses). Candidate count is fixed (M*k*overfetch)
        while the corpus grows, so (b) IMPROVES with scale — the 100 TB
        cold-store serving shape is exactly the win regime. Pass
        ``funnel=True`` there; run :meth:`optimize_tokens` first.
        ``True`` forces the funnel's two-pass plan outright — the
        funnel's own saturation delegation is disabled too, so the
        sign-bit pass genuinely runs (ValueError without codes);
        ``False`` forces the exact sweep explicitly.

        ``filter_metadata`` filters the MAIN store table (where doc
        metadata lives) and semi-joins the surviving ids into the token
        scan — the token-tier contract is that token ``doc_id`` equals
        the main table's ``id`` when metadata filtering is wanted.
        """
        spark = self.catalog.spark
        if not isinstance(query_tokens, DataFrame):
            rows = []
            for t in query_tokens:
                self._check_dim(t)
                rows.append((0, [float(x) for x in t]))
            if not rows:
                raise ValueError("empty query token set")
            query_tokens = spark.createDataFrame(
                rows, "query_id long, embedding array<float>"
            )
        docs = self.token_df()
        codes = self.token_codes_df()
        if filter_metadata:
            matching = knn.apply_metadata_filter(
                self.to_df(), filter_metadata
            ).select(F.col("id").alias("doc_id"))
            docs = docs.join(matching, on="doc_id", how="left_semi")
            codes = codes.join(matching, on="doc_id", how="left_semi")
        codes_exist = bool(self.config.token_bq) and bool(self._token_live()[1])
        forced_funnel = funnel is True
        if funnel and metric != "cosine":
            raise ValueError(
                "the sign-bit funnel estimates cosine only; use "
                "funnel=False for dot_product"
            )
        if funnel is None:
            # exact sweep is the measured winner at every locally
            # reachable shape (see docstring); the funnel is opt-in
            funnel = False
        if funnel:
            if not codes_exist:
                raise ValueError(
                    "maxsim_query(funnel=True) requires build_token_codes()"
                )
            from mlx_vector_db_spark.operators.bq import BQModel
            from mlx_vector_db_spark.operators.maxsim import maxsim_funnel

            # funnel=True is a FORCE (ADVICE r12): disable the funnel's
            # own saturation delegation, which would otherwise silently
            # route small corpora back to the exact sweep — auto dispatch
            # (funnel=None) keeps the default delegation rule
            return maxsim_funnel(
                codes,
                docs,
                query_tokens,
                BQModel.from_dict(self.config.token_bq),
                k=int(k),
                overfetch=int(overfetch),
                doc_tokens_packed=True,
                **({"delegate_saturation": None} if forced_funnel else {}),
            )
        from mlx_vector_db_spark.operators.maxsim import maxsim_join

        return maxsim_join(
            docs,
            query_tokens,
            k=int(k),
            metric=metric,
            doc_tokens_packed=True,
        )

    # -- query -------------------------------------------------------------

    def query(
        self,
        query_vector: Sequence[float],
        k: int = 10,
        filter_metadata: Mapping[str, Any] | None = None,
        metric: str | None = None,
        use_index: bool = True,
        nprobe: int = 4,
        use_quantized: bool = True,
        overfetch: int = 4,
    ) -> DataFrame:
        """Single k-NN query (reference §3.1). Empty store -> empty result,
        not an error (service/optimized_vector_store.py:117).

        Routing mirrors the reference (:121-145): if an index exists and
        ``use_index``, prune to the query's probe cells first; any index
        failure falls back silently to the exact scan. With a filter
        present the probe set is widened (the reference over-fetches
        ``k*10`` candidates, :123; cell-pruned search widens nprobe
        instead — same recall intent, but we keep pre-filter semantics:
        the filter applies *before* top-k inside the probed cells)."""
        self._check_dim(query_vector)
        df = self.to_df()
        metric = metric or self.config.metric
        if use_quantized and (self.config.pq or {}).get("residual"):
            # full IVF-PQ: cell pruning and residual-ADC scoring fuse in
            # one kernel (operators.pq.ivfpq_search_batch); exact re-rank
            # restores exact scores. With use_index=False every cell is
            # probed — pruning off, compression still on (residual codes
            # always decode against the centroids). Any failure falls
            # through to the plain pruned/exact paths.
            try:
                eff = nprobe if use_index else self._ivf().nlist
                return self._query_ivfpq(
                    df, query_vector, k, metric, filter_metadata, eff,
                    overfetch,
                )
            except Exception:
                pass
        if use_index and self.config.index:
            try:
                ivf = self._ivf()
                eff_nprobe = nprobe * 4 if filter_metadata else nprobe
                probes = ivf.probes_for(query_vector, eff_nprobe)
                df = df.where(F.col("centroid_id").isin(probes))
            except Exception:  # index trouble -> exact path (reference :142-145)
                df = self.to_df()
        if use_quantized and self.config.pq and not self.config.pq.get("residual"):
            # plain codes only: residual codes decode against centroids
            # and are meaningless to the plain ADC kernel
            try:
                return self._query_pq_first_pass(
                    df, query_vector, k, metric, filter_metadata, overfetch
                )
            except Exception:  # fall back to int8 / exact below
                pass
        if use_quantized and self.config.bq:
            # sign-code Hamming first pass: 32x fewer vector bytes and
            # zero FLOPs in the scan; tried after PQ (finer per byte),
            # before int8. Hamming's 1-bit resolution needs a deeper
            # over-fetch — floored at 16, the bq_recall_gate curve.
            try:
                return self._query_bq_first_pass(
                    df, query_vector, k, metric, filter_metadata, overfetch
                )
            except Exception:  # fall back to int8 / exact below
                pass
        if use_quantized and self.config.quantize:
            try:
                return self._query_quantized_first_pass(
                    df, query_vector, k, metric, filter_metadata, overfetch
                )
            except Exception:  # fall back to the exact single-pass scan
                pass
        return knn_query(
            df,
            query_vector,
            k=k,
            metric=metric,
            filter_metadata=filter_metadata,
            norm_col="norm",
        )

    # Every compressed path shares one shape: a first pass produces
    # candidate ids from codes (int8 / PQ / residual IVF-PQ), then the
    # second pass semi-joins the float rows and exact-re-ranks — so the
    # compressed representation can cost recall, never wrong scores.
    # The kernels differ; the pass structure lives in _two_pass_query.

    def _two_pass_query(
        self, df, query_vector, k, metric, filter_metadata, cand_ids
    ) -> DataFrame:
        """Shared second pass: exact re-rank over the candidates' float
        rows. ``cand_ids`` is a one-column (id) DataFrame from any
        first-pass kernel."""
        subset = df.join(cand_ids, on="id", how="left_semi")
        return knn_query(
            subset,
            query_vector,
            k=k,
            metric=metric,
            filter_metadata=filter_metadata,
            norm_col="norm",
        )

    def _single_query_df(self, query_vector) -> DataFrame:
        return self.catalog.spark.createDataFrame(
            [(0, [float(x) for x in query_vector])],
            "query_id long, embedding array<double>",
        )

    def _query_quantized_first_pass(
        self, df, query_vector, k, metric, filter_metadata, overfetch
    ) -> DataFrame:
        """int8 first pass: the scan reads only ``id``/``q8`` (+ filter
        columns), ~1/4 of the vector bytes; keeps ``k * overfetch``
        candidates. Quantization error is O(scale) per component, so
        with a modest over-fetch the exact top-k survives (tested)."""
        from mlx_vector_db_spark.functions.vector import (
            dequantize_int8,
            score_for_metric,
        )
        from mlx_vector_db_spark.operators.knn import _order, apply_metadata_filter

        filtered = apply_metadata_filter(df, filter_metadata)
        q = F.lit([float(x) for x in query_vector]).cast("array<double>")
        approx = score_for_metric(metric, dequantize_int8("q8"), q)
        cands = (
            filtered.select("id", F.col("q8"))
            .withColumn("_s", approx)
            .orderBy(*_order(metric, F.col("_s"), "id"))
            .limit(int(k) * int(overfetch))
            .select("id")
        )
        return self._two_pass_query(
            df, query_vector, k, metric, filter_metadata, cands
        )

    def _query_pq_first_pass(
        self, df, query_vector, k, metric, filter_metadata, overfetch
    ) -> DataFrame:
        """PQ ADC first pass: the scan reads only ``id``/``pq_code`` —
        16-64x fewer vector bytes than the float scan (same shape as
        int8, deeper compression)."""
        from mlx_vector_db_spark.operators.knn import apply_metadata_filter
        from mlx_vector_db_spark.operators.pq import pq_search_batch

        filtered = apply_metadata_filter(df, filter_metadata)
        cand = pq_search_batch(
            filtered, self._single_query_df(query_vector), self._pq(),
            k=int(k), metric=metric, overfetch=int(overfetch),
            exact_rerank=False,
        ).select("id").distinct()
        return self._two_pass_query(
            df, query_vector, k, metric, filter_metadata, cand
        )

    def _query_bq_first_pass(
        self, df, query_vector, k, metric, filter_metadata, overfetch
    ) -> DataFrame:
        """BQ Hamming first pass: the scan reads only ``id``/``bq_code``
        — 32x fewer vector bytes than the float scan, and the scoring
        is XOR+popcount (no floating point at all). The over-fetch is
        floored at 16: one sign bit per dimension is the coarsest
        quantizer in the ladder (measured curve in
        queries.q_bq_recall_gate)."""
        from mlx_vector_db_spark.operators.bq import bq_search_batch
        from mlx_vector_db_spark.operators.knn import apply_metadata_filter

        filtered = apply_metadata_filter(df, filter_metadata)
        cand = bq_search_batch(
            filtered, self._single_query_df(query_vector), self._bq(),
            k=int(k), metric=metric, overfetch=max(int(overfetch), 16),
            code_col="bq_code", exact_rerank=False,
        ).select("id").distinct()
        return self._two_pass_query(
            df, query_vector, k, metric, filter_metadata, cand
        )

    def _query_ivfpq(
        self, df, query_vector, k, metric, filter_metadata, nprobe, overfetch
    ) -> DataFrame:
        """Fused IVF-PQ first pass: the residual-ADC kernel prunes to
        the probe cells and ranks codes in one scan of id/cell/code. The
        filter widens nprobe x4 exactly like the plain indexed path."""
        from mlx_vector_db_spark.operators.knn import apply_metadata_filter
        from mlx_vector_db_spark.operators.pq import ivfpq_search_batch

        ivf = self._ivf()
        filtered = apply_metadata_filter(df, filter_metadata)
        eff_nprobe = nprobe * 4 if filter_metadata else nprobe
        cand = ivfpq_search_batch(
            filtered, self._single_query_df(query_vector), self._pq(),
            ivf.centroids, k=int(k), metric=metric,
            nprobe=int(eff_nprobe), overfetch=int(overfetch),
            exact_rerank=False,
        ).select("id").distinct()
        return self._two_pass_query(
            df, query_vector, k, metric, filter_metadata, cand
        )

    def batch_query(
        self,
        queries: DataFrame,
        k: int = 10,
        filter_metadata: Mapping[str, Any] | None = None,
        metric: str | None = None,
        blocked: bool = False,
        use_quantized: bool = False,
        overfetch: int = 4,
    ) -> DataFrame:
        """Batch k-NN (the reference's declared-but-missing
        ``store.batch_query`` — call sites api/routes/vectors.py:291 with
        no implementation; SURVEY.md §2.11 — implemented properly here).

        ``blocked=True`` selects the Arrow block-matmul path for wide
        query batches / huge stores. ``use_quantized=True`` runs a
        compressed first pass per query and exact-re-ranks the union of
        candidates — the batch twin of the two-pass single query; PQ
        codes (16-64x fewer vector bytes, ADC kernel) are preferred
        over int8 when both exist.
        """
        metric = metric or self.config.metric
        df = self.to_df()
        # every kernel below takes this block, so the call collects its
        # queries at most once (see knn.QueryBlock)
        queries = knn.query_block(queries)
        # quantized tiers are tried SEQUENTIALLY, best-compression
        # first, and a tier's failure falls through to the next — the
        # same try-each-tier fallback chain query() keeps (ADVICE r10:
        # the old if/elif skipped BQ entirely when a built PQ artifact
        # failed, silently running the full exact scan)
        pruned = False
        if use_quantized:
            # candidate-saturation guard (r11, the bq/pq_search_batch
            # rule): when M * take over-fetches a large share of the
            # store, the "pruning" semi-join keeps most rows, the
            # candidate exchange costs overfetch x the exact sweep's,
            # and every quantized first pass is pure overhead —
            # measured 8.3x at 10k queries x 2M rows. M comes from the
            # block collect the quantized kernels need anyway; the
            # store probe is LIMIT-bounded (early-exit) and memoized.
            from mlx_vector_db_spark.operators.knn import (
                _bounded_query_count,
            )

            m_probe = len(queries.collect().ids)

            def _tier_saturated(take: int) -> bool:
                # ADVICE r11: the guard uses the take of the tier
                # ACTUALLY attempted — PQ/int8 over-fetch k*overfetch,
                # BQ floors at 16 for 1-bit resolution — so a PQ-only
                # store keeps its compressed scan up to the same 0.25
                # saturation rule the operators apply internally,
                # instead of forfeiting it 4x early under BQ's floor.
                bound = 4 * m_probe * take
                return (
                    _bounded_query_count(df.select("id"), bound) <= bound
                )

        take_raw = int(k) * int(overfetch)
        take_bq = int(k) * max(int(overfetch), 16)
        if (
            use_quantized
            and self.config.pq
            and not _tier_saturated(take_raw)
        ):
            # any PQ-artifact trouble falls back to the tiers below —
            # same silent-exact-fallback contract query() keeps
            # (reference :142-145)
            try:
                from mlx_vector_db_spark.operators.knn import (
                    apply_metadata_filter,
                )
                from mlx_vector_db_spark.operators.pq import (
                    ivfpq_search_batch,
                    pq_search_batch,
                )

                filtered = apply_metadata_filter(df, filter_metadata)
                if self.config.pq.get("residual"):
                    # residual codes decode against the IVF centroids;
                    # probe every cell here (batch_query has no nprobe
                    # knob) — the compressed-scan win stands, nothing is
                    # pruned away
                    ivf = self._ivf()
                    cand = ivfpq_search_batch(
                        filtered, queries, self._pq(), ivf.centroids,
                        k=int(k), metric=metric, nprobe=ivf.nlist,
                        overfetch=int(overfetch), exact_rerank=False,
                    )
                else:
                    cand = pq_search_batch(
                        filtered, queries, self._pq(), k=int(k),
                        metric=metric, overfetch=int(overfetch),
                        exact_rerank=False,
                    )
                # a left-semi join keeps each store row once however
                # many queries named it: the ids need no distinct
                df = df.join(
                    cand.select("id"), on="id", how="left_semi"
                ).drop("pq_code")
                pruned = True
            except Exception:
                df = self.to_df()
        if (
            use_quantized
            and not pruned
            and self.config.bq
            and not _tier_saturated(take_bq)
        ):
            # sign-code Hamming candidates per query, exact re-rank of
            # the union below — the batch twin of _query_bq_first_pass
            # (over-fetch floored at 16 for 1-bit resolution)
            try:
                from mlx_vector_db_spark.operators.bq import bq_search_batch
                from mlx_vector_db_spark.operators.knn import (
                    apply_metadata_filter,
                )

                filtered = apply_metadata_filter(df, filter_metadata)
                cand = bq_search_batch(
                    filtered, queries, self._bq(), k=int(k),
                    metric=metric, overfetch=max(int(overfetch), 16),
                    code_col="bq_code", exact_rerank=False,
                )
                df = df.join(
                    cand.select("id"), on="id", how="left_semi"
                ).drop("bq_code")
                pruned = True
            except Exception:
                df = self.to_df()
        if (
            use_quantized
            and not pruned
            and self.config.quantize
            and not _tier_saturated(take_raw)
        ):
            from mlx_vector_db_spark.functions.vector import dequantize_int8

            first = knn_join(
                df.select(
                    "id", dequantize_int8("q8").alias("embedding"),
                    *[c for c in df.columns if c not in ("id", "embedding", "q8", "norm")],
                ),
                queries,
                k=k * int(overfetch),
                metric=metric,
                filter_metadata=filter_metadata,
            )
            cand_ids = first.select("id").distinct()
            df = df.join(cand_ids, on="id", how="left_semi")
        fn = knn_join_blocked if blocked else knn_join
        return fn(
            df,
            queries,
            k=k,
            metric=metric,
            filter_metadata=filter_metadata,
            **({} if blocked else {"norm_col": "norm"}),
        )

    # -- mutation ----------------------------------------------------------

    def delete_vectors(
        self,
        ids: Sequence[int] | None = None,
        filter_metadata: Mapping[str, Any] | None = None,
        doomed_df: DataFrame | None = None,
    ) -> int:
        """DELETE WHERE — anti-filter rewrite (reference declared this
        endpoint but never implemented it, service/models.py:97-105).

        On plain Parquet this is read -> anti-filter -> atomic swap; on a
        table format it would be a metadata-only ``DELETE WHERE``.
        Returns the number of rows removed.

        Three target forms:

        - ``ids`` (driver-side list): footer-stats pruning — files whose
          id range can't contain a doomed id are never read, a no-op
          delete is ZERO Spark jobs. The right path for SMALL doomed
          sets.
        - ``filter_metadata``: full anti-filter rewrite.
        - ``doomed_df`` (a DataFrame with an ``id`` column): the
          DISTRIBUTED path — ids never transit the driver. One 3-value
          aggregate (min/max/count of the doomed ids) prunes untouched
          files by footer id-range INTERVAL overlap, then the touched
          slice anti-joins ``doomed_df`` executor-side and rewrites. At
          100x scale this is the only shape that survives a
          billion-row doomed set; :meth:`dedup_vectors` routes here
          above its collect threshold.
        """
        from pyspark.sql import Observation

        if ids is None and filter_metadata is None and doomed_df is None:
            raise ValueError("provide ids, filter_metadata, or doomed_df")
        if doomed_df is not None and (ids is not None or filter_metadata is not None):
            raise ValueError("doomed_df cannot be combined with ids/filter_metadata")
        if not self._data_files():
            return 0
        spark = self.catalog.spark
        fields = [f.name for f in self.schema.fields]

        if doomed_df is not None:
            # distributed doomed set: bounds-only driver traffic
            bounds = doomed_df.agg(
                F.min("id").alias("lo"),
                F.max("id").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            ).first()
            if not bounds["n"]:
                return 0
            touched, _ = self._partition_files_by_ids(
                lo=int(bounds["lo"]), hi=int(bounds["hi"])
            )
            if not touched:
                return 0
            reader = spark.read.schema(self.schema)
            if self._cell_partitioned():
                reader = reader.option("basePath", str(self.data_dir))
            obs_b, obs_a = Observation(), Observation()
            df_t = reader.parquet(*[str(p) for p in touched]).observe(
                obs_b, F.count(F.lit(1)).alias("n")
            )
            keep = df_t.join(
                doomed_df.select("id").distinct(), on="id", how="left_anti"
            ).observe(obs_a, F.count(F.lit(1)).alias("n"))
            # diagnostics: the survivor plan, inspectable post-call (the
            # distributed-delete contract is an anti-JOIN — no collected
            # id list, no isin literal, ever)
            try:
                self._last_delete_plan = (
                    keep._jdf.queryExecution().executedPlan().toString()
                )
            except Exception:  # pragma: no cover — connect/API drift
                self._last_delete_plan = None
            staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
            writer = keep.select(*fields).write.mode("overwrite")
            if self._cell_partitioned():
                writer = writer.partitionBy("centroid_id")
            writer.parquet(str(staging))
            removed = int(obs_b.get["n"]) - int(obs_a.get["n"])
            self._swap_pruned_files(staging, touched)
            return removed

        if ids is not None and filter_metadata is None:
            # id-keyed delete: footer-stats pruning — files whose id range
            # can't contain a doomed id are never read, let alone
            # rewritten (a no-op delete is ZERO Spark jobs). Works under
            # the cell-partitioned layout too: basePath resolves the
            # centroid_id partition column, and the staged rewrite lands
            # back in the same cell dirs.
            id_list = [int(i) for i in ids]
            touched, _ = self._partition_files_by_ids(ids=id_list)
            if not touched:
                return 0
            reader = spark.read.schema(self.schema)
            if self._cell_partitioned():
                reader = reader.option("basePath", str(self.data_dir))
            obs_b, obs_a = Observation(), Observation()
            df_t = reader.parquet(*[str(p) for p in touched]).observe(
                obs_b, F.count(F.lit(1)).alias("n")
            )
            keep = df_t.where(~F.col("id").isin(id_list)).observe(
                obs_a, F.count(F.lit(1)).alias("n")
            )
            staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
            writer = keep.select(*fields).write.mode("overwrite")
            if self._cell_partitioned():
                writer = writer.partitionBy("centroid_id")
            writer.parquet(str(staging))
            removed = int(obs_b.get["n"]) - int(obs_a.get["n"])
            self._swap_pruned_files(staging, touched)
            return removed

        # predicate delete / cell-partitioned layout: full anti-filter
        # rewrite; before/after counts ride the write job as observations
        snapshot, df = self._snapshot_df()
        doomed = df
        if ids is not None:
            doomed = doomed.where(F.col("id").isin([int(i) for i in ids]))
        doomed = knn.apply_metadata_filter(doomed, filter_metadata)
        obs_b, obs_a = Observation(), Observation()
        df = df.observe(obs_b, F.count(F.lit(1)).alias("n"))
        keep = df.join(doomed.select("id"), on="id", how="left_anti").observe(
            obs_a, F.count(F.lit(1)).alias("n")
        )
        staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
        writer = keep.select(*fields).write.mode("overwrite")
        if self._cell_partitioned():
            writer = writer.partitionBy("centroid_id")
        writer.parquet(str(staging))
        before = int(obs_b.get["n"])
        after = int(obs_a.get["n"])
        self._swap_all_files(staging, snapshot)
        return before - after

    #: dedup_vectors collects doomed ids to the driver only below this
    #: many rows (footer-stats pruning needs the literal ids and is
    #: genuinely better for small doomed sets); above it the doomed set
    #: stays a DataFrame end-to-end (delete_vectors(doomed_df=...))
    DEDUP_COLLECT_IDS_MAX = 100_000

    def dedup_vectors(
        self,
        threshold: float = 0.98,
        use_index: bool = True,
        max_unindexed_rows: int | None = 1_000_000,
        collect_ids_threshold: int | None = None,
    ) -> int:
        """Remove near-duplicate vectors (cosine >= ``threshold``),
        keeping the min id of every transitive near-dup cluster
        (connected components over the pair graph — the
        ``minhash_dedup(keeper="component")`` rule applied to the
        store's own embeddings). Returns the number of rows removed.

        With an IVF/LSH index present (and ``use_index``), candidate
        pairs are generated only INSIDE index cells
        (``bucket_col="centroid_id"``) — the scale path; a near-dup
        pair split across cells survives, so recall is bounded by the
        bucketer exactly as in
        :func:`~mlx_vector_db_spark.operators.dedup.embedding_neardup_pairs`.
        Without an index the exact all-pairs variant runs — audit scale
        only, and the same guard as :meth:`add_vectors_dedup` makes the
        cliff API-visible: a ``ResourceWarning`` past
        ``UNINDEXED_DEDUP_WARN_ROWS`` and a refusal past
        ``max_unindexed_rows`` (the all-pairs join is O(N²), far worse
        than the per-batch scan the ingest path pays; pass ``None`` to
        accept it).

        Doomed-set routing: up to ``collect_ids_threshold`` doomed rows
        (default :attr:`DEDUP_COLLECT_IDS_MAX`) the cluster members
        collect to the driver and route through
        :meth:`delete_vectors`'s footer-stats-pruned id rewrite — files
        that can't contain a doomed id are never read. Past it the
        doomed set STAYS a DataFrame and routes through
        ``delete_vectors(doomed_df=...)``'s distributed anti-join: at a
        30%+ duplicate rate on a 100 TB store the doomed set is itself
        cluster-scale, and a driver-side id list (let alone an ``isin``
        literal in the plan) would OOM the driver before the delete ran.
        """
        from mlx_vector_db_spark.operators.components import connected_components
        from mlx_vector_db_spark.operators.dedup import embedding_neardup_pairs

        if not self._data_files():
            return 0
        if not (use_index and self.config.index is not None):
            approx = self._approx_row_count()
            if max_unindexed_rows is not None and approx > max_unindexed_rows:
                raise ValueError(
                    f"dedup_vectors without an index on ~{approx} rows "
                    f"(> max_unindexed_rows={max_unindexed_rows}) is an "
                    "O(N²) all-pairs join. Build an IVF index first "
                    "(build_index) for in-cell candidates, or pass "
                    "max_unindexed_rows=None to accept the cost."
                )
            if approx > self.UNINDEXED_DEDUP_WARN_ROWS:
                warnings.warn(
                    f"dedup_vectors on an unindexed store of ~{approx} "
                    "rows runs an O(N²) all-pairs join; build_index() "
                    "would prune candidates to IVF cells",
                    ResourceWarning,
                    stacklevel=2,
                )
        df = self.to_df()
        bucket = (
            "centroid_id" if (use_index and self.config.index is not None) else None
        )
        pairs = embedding_neardup_pairs(
            df,
            vec_col="embedding",
            id_col="id",
            threshold=threshold,
            bucket_col=bucket,
        ).select("id_a", "id_b")
        comp = connected_components(pairs)
        doomed_df = (
            comp.where(F.col("node") != F.col("component"))
            .select(F.col("node").alias("id"))
            # two consumers (count + delete) — materialize the component
            # pass once
            .localCheckpoint(eager=False)
        )
        n_doomed = doomed_df.count()
        if not n_doomed:
            return 0
        cap = (
            self.DEDUP_COLLECT_IDS_MAX
            if collect_ids_threshold is None
            else int(collect_ids_threshold)
        )
        if n_doomed <= cap:
            doomed = [int(r["id"]) for r in doomed_df.collect()]
            return self.delete_vectors(ids=doomed)
        return self.delete_vectors(doomed_df=doomed_df)

    def clear(self) -> None:
        """TRUNCATE (reference service/optimized_vector_store.py:198-209).

        Commits an empty manifest FIRST (the atomic truncate); the
        truncated data files stay on disk as retained history (the
        pre-clear snapshot remains time-travelable via :meth:`as_of`)
        until :meth:`vacuum` reaps them past its retention window."""
        if self.data_dir.exists():
            self._commit_manifest([])
            # reap now-empty Hive partition dirs (best-effort)
            for d in sorted(self.data_dir.glob("centroid_id=*"), reverse=True):
                try:
                    d.rmdir()
                except OSError:
                    pass
        self._max_id_seen = None

    def optimize(self, target_files: int = 4, sort_by: str | None = None) -> int:
        """Compact small files (the reference's ``store.optimize`` is
        called but undefined, api/routes/vectors.py:425; here it is the
        Parquet analog of OPTIMIZE: coalesce + rewrite). Returns the
        resulting file count.

        ``sort_by`` range-repartitions on the given column (typically
        ``"id"``) so each output file owns a DISJOINT value range and
        row-group footer stats become tight — the clustering step that
        makes the stats-pruned upsert/delete path surgical: after
        ``optimize(sort_by="id")`` a point delete touches exactly one
        file instead of every file whose accumulated append range
        happens to overlap (the OPTIMIZE ZORDER analog for the
        single-key case)."""
        snapshot, df = self._snapshot_df()
        if df.isEmpty():
            return 0
        staging = self.data_dir.parent / f".staging-{uuid.uuid4().hex}"
        if self._cell_partitioned():
            out = df.repartition("centroid_id")
            if sort_by:
                out = out.sortWithinPartitions(sort_by)
            out.write.mode("overwrite").partitionBy("centroid_id").parquet(
                str(staging)
            )
        elif sort_by:
            (
                df.repartitionByRange(target_files, sort_by)
                .sortWithinPartitions(sort_by)
                .write.mode("overwrite")
                .parquet(str(staging))
            )
        else:
            df.coalesce(target_files).write.mode("overwrite").parquet(str(staging))
        # swap exactly the snapshot we compacted: a file appended after
        # _snapshot_df() is NOT touched and rides the CAS re-read into
        # the new manifest (the streaming-ingest composition guarantee)
        self._swap_all_files(staging, snapshot)
        self._max_id_seen = None  # layout changed; recompute lazily
        return len(self._data_files())

    def maybe_optimize(
        self,
        max_files: int = 64,
        target_files: int = 4,
        sort_by: str | None = None,
    ) -> int | None:
        """Compact only when the committed live-file count exceeds
        ``max_files`` — the idempotent guard a maintenance cron or a
        ``foreachBatch`` hook calls after every append. The probe is a
        manifest read (no Spark job), so calling it per micro-batch is
        free; the compaction itself runs at most every
        ``max_files - target_files`` appends. This is the small-file
        backstop for continuous ingest: one parquet file lands per
        micro-batch, and at 100 TB an unbounded manifest turns every
        scan into an open-file storm (the same reason table formats
        pair streaming writes with background OPTIMIZE). Returns the
        new file count, or None when under the threshold.

        Pair long-running streams with a periodic
        ``catalog.vacuum()``: compacted-away files are RETAINED as
        time-travel history (see :meth:`history`), so without vacuum a
        continuous ingest's disk footprint grows with every
        compaction — retention is a policy, vacuum enforces it."""
        if max_files < 1:
            raise ValueError(f"max_files must be >= 1 (got {max_files})")
        if len(self._data_files()) <= max_files:
            return None
        return self.optimize(target_files=target_files, sort_by=sort_by)

    # -- SQL surface -------------------------------------------------------

    def create_view(self, name: str | None = None) -> str:
        """Register the store as a SQL temp view (plus the vec_* SQL
        functions), so plain SQL text queries work:

            SELECT id, vec_cosine(embedding, array(...)) AS s
            FROM <view> ORDER BY s DESC LIMIT 10

        NB: Spark 4 forbids SQL UDFs directly inside ORDER BY — compute
        the score in the SELECT list and order by its alias (as above).
        The reference has no SQL surface at all; this is free on Spark.
        """
        from mlx_vector_db_spark.functions.vector import register_sql_functions

        view = name or f"{self.config.user_id}_{self.config.model_id}"
        self.to_df().createOrReplaceTempView(view)
        register_sql_functions(self.catalog.spark)
        return view

    # -- stats -------------------------------------------------------------

    def count(self) -> int:
        return self.to_df().count()

    def stats(self) -> dict[str, Any]:
        """Reference store stats (service/optimized_vector_store.py:241-242,
        api/routes/vectors.py:332-345)."""
        return {
            "user_id": self.config.user_id,
            "model_id": self.config.model_id,
            "vector_count": self.count(),
            "dimension": self.config.dimension,
            "metric": self.config.metric,
            "index_type": (self.config.index or {}).get("type", "none"),
            "pq": bool(self.config.pq),
            "bq": bool(self.config.bq),
            "tokens": bool(self._token_live()[0]),
            "token_codes": bool(self.config.token_bq),
            "cell_partitioned": self._cell_partitioned(),
            "files": len(self._data_files()),
        }

    def health_check(self) -> dict[str, Any]:
        """Reference calls this but never defines it (tests/demo.py:254)."""
        ok = True
        detail = "ok"
        try:
            self.to_df().limit(1).count()
        except Exception as exc:  # pragma: no cover - defensive
            ok, detail = False, str(exc)
        return {"healthy": ok, "detail": detail}

    def _check_dim(self, vec: Sequence[float]) -> None:
        if len(vec) != self.config.dimension:
            raise ValueError(
                f"query dimension {len(vec)} != store dimension "
                f"{self.config.dimension}"
            )
