"""Exact k-nearest-neighbor search operators.

Reference semantics (service/optimized_vector_store.py:116-192):
conjunctive-equality metadata pre-filter -> score every surviving row
against the query (one fused kernel) -> top-k by score (desc for
cosine/dot, asc for euclidean) -> canonical similarity/distance/rank.

Spark-first execution, two physical strategies:

1. ``knn_query`` / ``knn_join`` — pure column expressions. The filter and
   column pruning push down to the Parquet scan; scoring runs JVM-side;
   top-k is TakeOrderedAndProject (single query) or a WindowGroupLimit
   window (batch). Zero Python in the data path. Best when the query
   batch is small-to-moderate.

2. ``knn_join_blocked`` — the BLAS batch path (reference J2,
   performance/mlx_optimized.py:59-88 does this as one (M,N) matmul),
   with two transposed physical strategies behind one ``block_side``
   switch. ``"vectors"``: collect+broadcast the query block, sweep the
   vectors table batch-wise, partial top-k per batch, final window —
   shuffle O(tasks * M * k); the huge-vectors shape.
   ``"queries"``: collect+broadcast the (budget-checked) vector matrix
   as fp32, sweep the QUERY set — each query's top-k is exact and
   batch-local (fp32 select with a provable margin, fp64 re-score of
   the frontier), rank emitted in-batch, NO shuffle at all; the
   all-vs-all / huge-query-batch shape. ``"auto"`` picks by size.

3. ``knn_join_chunked`` — huge-Q x huge-V: hash-partition the query set
   into broadcastable chunks, one blocked sweep per chunk over the
   cached vectors table, union. Every query is answered wholly inside
   its chunk, so no cross-chunk merge exists.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from mlx_vector_db_spark.functions.vector import (
    NORM_EPS,
    distance_for_metric,
    l2_norm,
    metric_ascending,
    score_for_metric,
    similarity_for_metric,
)
from mlx_vector_db_spark.operators.topk import top_k_per_group
from mlx_vector_db_spark.rebalance import rebalance_for_compute

__all__ = [
    "QueryBlock",
    "query_block",
    "knn_query",
    "knn_join",
    "knn_join_blocked",
    "knn_join_chunked",
    "apply_metadata_filter",
    "drain_retired_caches",
]

#: Deferred-unpersist registry for knn_join_chunked's vectors cache.
#: Unpersisting the moment the returned DataFrame is GC'd is wrong for
#: callers that derive a child frame and drop the parent BEFORE
#: executing (the cache would be defeated: every chunk re-scans the
#: source at execution time). Retiring instead keeps the cache alive —
#: correctness never depended on it, persist() lineage is always
#: recomputable — until either `release_intermediates()` drains the
#: registry or the bounded queue evicts it (a batch loop pins at most
#: _RETIRED_MAX copies of V, then the oldest unpersist in FIFO order).
_RETIRED_VECTOR_CACHES: list[DataFrame] = []
_RETIRED_MAX = 4

#: Bounded FIFO of the blocked paths' matrix broadcasts (query block or
#: fp32 vector matrix, up to 256 MB each). Broadcast blocks are freed by
#: the ContextCleaner only when the py4j proxy is GC'd, so a long session
#: of repeated batch calls (bench reps) would otherwise accumulate
#: executor+driver copies until the periodic GC. unpersist (NOT destroy)
#: is always safe: a still-unexecuted plan that references an unpersisted
#: broadcast re-fetches it from the driver on first use.
_LIVE_BROADCASTS: list = []
_BROADCAST_MAX = 4


def _retire_vector_cache(cached: DataFrame) -> None:
    _RETIRED_VECTOR_CACHES.append(cached)
    while len(_RETIRED_VECTOR_CACHES) > _RETIRED_MAX:
        old = _RETIRED_VECTOR_CACHES.pop(0)
        try:
            old.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def _register_broadcast(b) -> None:
    _LIVE_BROADCASTS.append(b)
    while len(_LIVE_BROADCASTS) > _BROADCAST_MAX:
        old = _LIVE_BROADCASTS.pop(0)
        try:
            old.unpersist(False)
        except Exception:
            pass


def drain_retired_caches() -> int:
    """Unpersist every retired chunked-kNN vectors cache and every
    registered matrix broadcast now. Called by
    :func:`mlx_vector_db_spark.session.release_intermediates`; safe at
    any time — a plan that still references a drained cache recomputes
    from lineage, and an unpersisted broadcast re-fetches from the
    driver."""
    n = 0
    while _RETIRED_VECTOR_CACHES:
        cached = _RETIRED_VECTOR_CACHES.pop()
        try:
            cached.unpersist()
            n += 1
        except Exception:
            pass
    while _LIVE_BROADCASTS:
        b = _LIVE_BROADCASTS.pop()
        try:
            b.unpersist(False)
            n += 1
        except Exception:
            pass
    return n


def apply_metadata_filter(
    df: DataFrame, filter_metadata: Mapping[str, Any] | None
) -> DataFrame:
    """Conjunctive equality pre-filter (reference P1,
    service/optimized_vector_store.py:159-167).

    Keys that exist as top-level (promoted) columns filter those columns
    directly — Catalyst pushes these to the Parquet scan. Keys not in
    the schema fall through to the open ``meta`` map column if present;
    map lookups can't push down, which is exactly why hot keys should be
    promoted (SURVEY.md §7.4).
    """
    if not filter_metadata:
        return df
    cols = set(df.columns)
    for key, value in filter_metadata.items():
        if key in cols:
            df = df.where(F.col(key) == F.lit(value))
        elif "meta" in cols:
            df = df.where(F.col("meta").getItem(key) == F.lit(str(value)))
        else:
            # No such column and no open map: nothing can match.
            df = df.where(F.lit(False))
    return df


def _validate(df: DataFrame, k: int, **cols: str) -> None:
    """Fail fast with a clear message instead of a mid-plan
    AnalysisException (the reference raises ValueError on bad inputs,
    service/models.py:41-46 / utils.py:27-41)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    have = set(df.columns)
    for what, name in cols.items():
        if name not in have:
            raise ValueError(
                f"{what}={name!r} not in DataFrame columns {sorted(have)}"
            )


def _drop_null_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Engine-wide NULL rule for every kNN strategy: a row whose vector
    column is NULL — or contains a NULL element — does not participate:
    on the vectors side it can never be a neighbor, on the query side
    it produces no output rows.

    Enforced identically in the expression, vector-blocked,
    query-blocked, and chunked paths so they stay result-parity on any
    legal input (found r9: the blocked collects crashed on a NULL row
    via ``np.asarray`` inhomogeneous-shape, while the expression path's
    NULL scores sorted last for cosine but FIRST for euclidean's
    ascending order — both wrong in different ways; a NULL ELEMENT has
    the same two failure modes, except the workers silently coerce
    ``None`` to NaN instead of crashing). ``IsNotNull`` is a pushable
    predicate, so on a parquet scan the whole-NULL exclusion reaches
    the reader for free; the element test is one codegen'd ``EXISTS``
    lambda over the array — negligible next to the scoring matmul, and
    a scan whose schema declares ``containsNull = false`` (every
    store-written table) lets Catalyst fold it away.

    Out of contract by design: NaN/Inf element VALUES. The store
    validates finiteness at write (reference parity — ingestion
    rejects non-finite vectors); on arbitrary DataFrames a NaN poisons
    any distance definition identically in all engines, so no path
    promises an ordering for it.
    """
    return df.where(
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    )


class QueryBlock:
    """One call's query set: the NULL-free query rows as a frame, plus
    their ``(id, vector)`` arrays once collected to the driver.

    Every batch operator takes a DataFrame or a QueryBlock as its
    ``queries`` argument and normalises it with :func:`query_block`. A
    caller that hands the same block to each kernel it reaches
    (``VectorStore.batch_query`` does) pays one query collect per call
    instead of one per kernel. The collect goes through Arrow: the
    vectors land as one contiguous numpy matrix, not Python rows.
    """

    def __init__(self, frame: DataFrame, id_col: str, vec_col: str) -> None:
        self.frame = frame
        self.id_col = id_col
        self.vec_col = vec_col
        self.ids: np.ndarray | None = None
        self.vecs: np.ndarray | None = None
        self.complete = False

    def collect(self, limit: int | None = None) -> QueryBlock:
        """Collect at most ``limit`` rows (all when None), unless the
        block already holds them. A size gate that only asks "at least
        ``limit`` queries?" passes the limit: fewer rows back means the
        block is whole, so it needs no count job."""
        held = 0 if self.ids is None else len(self.ids)
        if self.complete or (limit is not None and held >= limit):
            return self
        rows = self.frame.select(self.id_col, self.vec_col)
        if limit is not None:
            rows = rows.limit(int(limit))
        tbl = rows.toArrow()
        self.ids = tbl.column(0).combine_chunks().to_numpy(zero_copy_only=False)
        vec = tbl.column(1).combine_chunks()
        n = len(vec)
        flat = vec.flatten().to_numpy(zero_copy_only=False)
        dim = len(flat) // n if n else 0
        if n and not np.all(vec.value_lengths().to_numpy() == dim):
            raise ValueError(f"query vectors in {self.vec_col!r} differ in length")
        self.vecs = flat.astype(np.float64, copy=False).reshape(n, dim)
        self.complete = limit is None or n < limit
        return self

    def arrays(self) -> tuple[np.ndarray, np.ndarray]:
        """The whole block as ``(int64 ids, float64 (m, dim) vectors)``;
        an empty query set is a caller bug and raises ``ValueError``."""
        self.collect()
        if not len(self.ids):
            raise ValueError("empty query set")
        return self.ids.astype(np.int64, copy=False), self.vecs


def query_block(
    queries: DataFrame | QueryBlock,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> QueryBlock:
    """Normalise an operator's ``queries`` argument: a QueryBlock passes
    through as is; a DataFrame is checked for its columns and gets the
    engine-wide NULL rule (:func:`_drop_null_vectors`). Runs no job."""
    if isinstance(queries, QueryBlock):
        return queries
    _validate(queries, 1, query_vec_col=query_vec_col, query_id_col=query_id_col)
    return QueryBlock(
        _drop_null_vectors(queries, query_vec_col), query_id_col, query_vec_col
    )


def _order(metric: str, score: Column, id_col: str) -> list[Column]:
    """Deterministic total order: best score first, then id ASC
    (FIXTURES.md tie-break; the reference's argsort tie order is
    unspecified)."""
    lead = score.asc() if metric_ascending(metric) else score.desc()
    return [lead, F.col(id_col).asc()]


def _annotate(metric: str, df: DataFrame, raw: Column) -> DataFrame:
    """Attach canonical score/similarity/distance columns."""
    return (
        df.withColumn("score", raw)
        .withColumn("similarity", similarity_for_metric(metric, F.col("score")))
        .withColumn("distance", distance_for_metric(metric, F.col("score")))
    )


def knn_query(
    vectors: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    metric: str = "cosine",
    filter_metadata: Mapping[str, Any] | None = None,
    vec_col: str = "embedding",
    id_col: str = "id",
    norm_col: str | None = None,
) -> DataFrame:
    """Single-query exact k-NN (reference §3.1 hot path).

    Returns the vectors DataFrame's columns plus ``score``,
    ``similarity``, ``distance``, ``rank`` — sorted best-first.

    The query is inlined as a literal array, so the plan is
    scan -> (pushed) filter -> project(score) -> TakeOrderedAndProject:
    a per-partition heap and a driver merge of k rows per partition —
    no shuffle, which is the plan you want against a 100 TB table.
    """
    _validate(vectors, k, vec_col=vec_col, id_col=id_col)
    filtered = _drop_null_vectors(
        apply_metadata_filter(vectors, filter_metadata), vec_col
    )
    q = F.lit([float(x) for x in query_vector]).cast("array<double>")
    q_norm = (
        F.lit(float(np.sqrt(np.sum(np.square(np.asarray(query_vector, dtype=np.float64))))))
        if metric == "cosine"
        else None
    )
    v_norm = F.col(norm_col) if (norm_col and metric == "cosine") else None
    raw = score_for_metric(metric, vec_col, q, a_norm=v_norm, b_norm=q_norm)
    scored = _annotate(metric, filtered, raw)
    ordered = scored.orderBy(*_order(metric, F.col("score"), id_col)).limit(int(k))
    # rank is positional post-limit; a row_number over the already-k-row
    # result is cheap.
    from mlx_vector_db_spark.operators.topk import bounded_global_rank

    return bounded_global_rank(ordered, _order(metric, F.col("score"), id_col))


#: expression -> blocked delegation threshold for knn_join: past this
#: many queries the M x N score-expression work loses to one Arrow BLAS
#: sweep (measured at 100 queries x 200k rows: 15.9s expression vs 2.3s
#: vector-blocked — the expression path's per-row codegen aggregate is
#: ~7x slower than a GEMM at medium batch sizes). Below it the
#: expression plan keeps its pushdown-composed, collect-free shape.
EXPR_MAX_QUERIES = 64

#: ...and the vectors side must be big enough to amortize the blocked
#: path's fixed costs (query collect, Python worker spin-up, candidate
#: exchange): at 100 queries x 20k rows the expression plan wins 1.7s
#: vs 2.7s, by 200k rows the sweep wins 4x. The probe is the same
#: bounded early-exit scan — a 100 TB table answers "big" after 32k
#: rows.
EXPR_MIN_VECTOR_ROWS_FOR_BLOCKED = 32_768

#: (applicationId, analyzed-plan semanticHash, bound) -> bounded query
#: count. The BOUND is part of the key: a count truncated at 64 must
#: never answer a 32,768-bounded probe of the same plan (VERDICT r10
#: #3 — a stale cross-bound hit could pin a suboptimal physical path).
#: Same bounded-cache + staleness contract as _SIZE_CACHE: a stale hit
#: can only pick a suboptimal physical path, never change results.
_QCOUNT_CACHE: dict[tuple[str, int, int], int] = {}


def _bounded_query_count(queries: DataFrame, bound: int) -> int:
    """``queries.limit(bound + 1).count()`` memoized on the analyzed
    plan — the delegation gate needs only "more than bound?", so the
    scan early-exits and a huge query table never pays a full count."""
    try:
        key = (
            queries.sparkSession.sparkContext.applicationId,
            queries._jdf.queryExecution().analyzed().semanticHash(),
            int(bound),
        )
        hit = _QCOUNT_CACHE.get(key)
        if hit is not None:
            return hit
    except Exception:  # pragma: no cover — connect / internal-API drift
        key = None
    n = queries.limit(bound + 1).count()
    if key is not None:
        if len(_QCOUNT_CACHE) >= _SIZE_CACHE_MAX:
            _QCOUNT_CACHE.clear()
        _QCOUNT_CACHE[key] = n
    return n


def knn_join(
    vectors: DataFrame,
    queries: DataFrame | QueryBlock,
    k: int = 10,
    metric: str = "cosine",
    filter_metadata: Mapping[str, Any] | None = None,
    vec_col: str = "embedding",
    id_col: str = "id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    norm_col: str | None = None,
    broadcast_queries: bool = True,
    allow_blocked: bool = True,
    rebalance_vectors: bool = True,
) -> DataFrame:
    """Batch exact k-NN: every query row against every vector row
    (reference J2 batch similarity join + A1 per-query top-k).

    Output columns: ``query_id``, ``id``, ``score``, ``similarity``,
    ``distance``, ``rank`` (<= k per query).

    Physical shape: broadcast-nested-loop join (query side broadcast —
    it is the small side by design) -> JVM score expression ->
    WindowGroupLimit top-k per query. The only shuffle is the final
    per-query window, whose input was already cut down by the group
    limit (plus a round-robin exchange of the narrow vectors projection
    when the scan is under-partitioned — the M x N score work is the
    r9 split-collapse exposure times the batch size, measured 3x on a
    one-split 20k-row table at M=100; a real wide scan passes through
    untouched). Set ``broadcast_queries=False`` only if the query set
    is too big to broadcast — then prefer :func:`knn_join_blocked`.

    Auto-delegation contract (``allow_blocked=True``, the default):
    past ``EXPR_MAX_QUERIES`` queries over a large-enough vectors side
    the call delegates to :func:`knn_join_blocked`. Two caveats a
    caller composing pipelines must know:

    - **Schema stability**: the blocked path emits ``long`` id
      columns, so delegation only triggers when BOTH id columns are
      already ``LongType`` — narrower/string ids always keep the
      expression plan, whose output preserves the caller's id types
      (the alternative — an output dtype that changes with the data
      size — breaks fixed-schema sinks).
    - **Eagerness**: the delegation gate runs bounded LIMIT-count probe
      jobs at CALL time (memoized per plan+bound); a collected
      :class:`QueryBlock` answers the query side without one. If the
      vectors side is itself an expensive computed stage (a semi-join
      on a candidate set), either pass ``allow_blocked=False`` or
      ``localCheckpoint(eager=False)`` the candidate plan first so the
      probe's execution is reused — see bq/pq_search_batch pass 2.

    ``rebalance_vectors=False`` skips the expression path's
    split-collapse exchange. The guard exists for M x N score work over
    a compact scan (r10: 11.56s -> 2.87s at M=100 x 20k rows); when the
    vectors side is a DRIVER-KNOWN-tiny computed frame — a two-pass
    re-rank's candidate subset of <= M*take rows at small M — the
    repartition is pure stage overhead (~0.2s per call measured at the
    pq_knn shape, r11) and the caller should turn it off. Leave it on
    for any table whose size the caller cannot bound.
    """
    _validate(vectors, k, vec_col=vec_col, id_col=id_col)
    qb = query_block(queries, query_id_col, query_vec_col)
    if (
        allow_blocked
        and broadcast_queries
        and isinstance(qb.frame.schema[query_id_col].dataType, LongType)
        and isinstance(vectors.schema[id_col].dataType, LongType)
    ):
        # medium/large batches delegate to the Arrow BLAS path (one
        # bounded early-exit probe, memoized, unless the caller passed
        # an already-collected block; results identical — the blocked
        # strategies are parity-gated against this path).
        # broadcast_queries=False is an explicit "queries don't fit the
        # driver" signal, and the blocked path collects them, so it
        # keeps the expression plan. The LongType guard keeps the output
        # id dtypes independent of which physical path wins (ADVICE r10:
        # the blocked schema casts ids to long). A partly collected
        # block holds QBLOCK_MIN_QUERIES rows, past this gate already.
        m = (
            len(qb.ids)
            if qb.ids is not None
            else _bounded_query_count(qb.frame, EXPR_MAX_QUERIES)
        )
        if m > EXPR_MAX_QUERIES and (
            _bounded_query_count(
                _drop_null_vectors(
                    apply_metadata_filter(vectors, filter_metadata), vec_col
                ).select(vec_col),
                EXPR_MIN_VECTOR_ROWS_FOR_BLOCKED,
            )
            > EXPR_MIN_VECTOR_ROWS_FOR_BLOCKED
        ):
            return knn_join_blocked(
                vectors,
                qb,
                k=k,
                metric=metric,
                filter_metadata=filter_metadata,
                vec_col=vec_col,
                id_col=id_col,
                query_vec_col=query_vec_col,
                query_id_col=query_id_col,
            )
    filtered = _drop_null_vectors(
        apply_metadata_filter(vectors, filter_metadata), vec_col
    )
    qdf = qb.frame.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("_qvec"),
        *(
            [l2_norm(query_vec_col).alias("_qnorm")]
            if metric == "cosine"
            else []
        ),
    )
    if broadcast_queries:
        qdf = F.broadcast(qdf)
    # the output projects these columns only, so the rebalanced frame
    # stays narrow; the exchange sits ABOVE the filtered scan, so the
    # NULL/metadata predicates still push to the parquet reader
    src = filtered.select(
        id_col,
        vec_col,
        *([norm_col] if (norm_col and metric == "cosine") else []),
    )
    if rebalance_vectors:
        src = rebalance_for_compute(src)
    joined = src.crossJoin(qdf)
    v_norm = F.col(norm_col) if (norm_col and metric == "cosine") else None
    q_norm = F.col("_qnorm") if metric == "cosine" else None
    raw = score_for_metric(metric, vec_col, F.col("_qvec"), a_norm=v_norm, b_norm=q_norm)
    scored = _annotate(metric, joined, raw)
    topk = top_k_per_group(
        scored, ["query_id"], _order(metric, F.col("score"), id_col), k
    )
    return topk.select(
        "query_id", id_col, "score", "similarity", "distance", "rank"
    )


#: auto block-side dispatch: flip to the query-partitioned strategy only
#: when the query side is large enough that the vector-blocked plan's
#: O(blocks * M * k) candidate shuffle dominates ...
QBLOCK_MIN_QUERIES = 1024
#: ... and the whole fp32 vector matrix fits a broadcast comfortably
#: (every Python worker on an executor holds one copy).
QBLOCK_VECTOR_BUDGET_BYTES = 256 * 1024 * 1024
#: float32 machine epsilon — the frontier margin for fp32-selection /
#: fp64-rescore is derived from it (see _knn_join_query_blocked).
_F32_EPS = float(np.finfo(np.float32).eps)

#: fp64 elements per (query-slice x vector-batch) score block in the
#: vector-blocked sweep: 8M elems = 64 MB. Bounds every per-task temp
#: (score block + its partition copy + mask) to ~150 MB regardless of
#: how large the broadcast query matrix is — at 10k queries the
#: unsliced sweep put every worker >3 GB and the host into direct
#: reclaim (r10 sf100 finding; see score_blocks).
_SWEEP_SLICE_ELEMS = 8_000_000

#: fp32 elements per (query-slice x full-matrix) score block in the
#: query-blocked path: 16M elems = 64 MB. Same bounded-temp discipline
#: as the sweep — a budget-sized broadcast matrix (n ~ 1M rows at
#: 64-dim) against a full 10k-row Arrow batch would otherwise build a
#: 40 GB S32 plus an equal-size error net.
_QBLOCK_SLICE_ELEMS = 16_000_000


def _entry_error_bound(
    metric: str, dim: int, q_norms: np.ndarray, v_norms32: np.ndarray
) -> np.ndarray | np.float32:
    """Per-entry bound ``E >= |key32 - key64|`` for the fp32 selection
    key of the query-blocked path.

    Standard normwise analysis of a length-``d`` fp32 dot product gives
    ``|err| <= ~(d + O(1)) * eps32 * |q| * |v|`` (Cauchy-Schwarz on the
    absolute-value sums), with a couple of extra eps terms for the
    fp64->fp32 input casts; the euclidean squared-distance expansion
    accumulates the same per-term bounds to ``(|q| + |v|)^2``. The
    coefficient ``2 * (d + 4) * eps32`` carries ~2x slack over the
    tight bound at every ``d >= 1``.

    Per-entry (not global-max) norms keep the net TIGHT on mixed-norm
    corpora: the r9 global ``vmax`` margin made every query's frontier
    pay for the single largest vector norm, inflating the fp64 re-score
    set (perf only, never correctness — VERDICT r9 #6).

    Returns a scalar for cosine (both sides unit-norm after
    normalization) and an ``(m, n)`` float32 matrix for dot/euclidean.
    """
    c = np.float32(2.0 * (dim + 4) * _F32_EPS)
    if metric == "cosine":
        return c
    q32 = np.maximum(q_norms, 1e-30).astype(np.float32)
    if metric == "dot_product":
        return c * np.multiply.outer(q32, v_norms32)
    # euclidean — selection runs in the squared-distance domain
    return c * np.square(q32[:, None] + v_norms32[None, :])


def _frontier_mask(
    S32: np.ndarray, E: np.ndarray | np.float32, take: int, ascending: bool
) -> np.ndarray:
    """Provably-complete top-``take`` candidate net over fp32 keys.

    With ``key64 in [S32 - E, S32 + E]`` per entry: the ``take``-th
    best PESSIMISTIC key bounds the true ``take``-th key from the
    conservative side, so testing each entry's OPTIMISTIC key against
    that bound catches every true top-``take`` member INCLUDING every
    exact-score tie at the frontier (non-strict inequality). Pure
    numpy, unit-testable without Spark.
    """
    if ascending:
        adj = S32 + E  # upper bounds on the true key
        bound = np.partition(adj, take - 1, axis=1)[:, take - 1]
        np.subtract(S32, E, out=adj)  # reuse buffer: lower bounds
        return adj <= bound[:, None]
    adj = S32 - E  # lower bounds on the true key
    bound = np.partition(adj, S32.shape[1] - take, axis=1)[:, S32.shape[1] - take]
    np.add(S32, E, out=adj)  # upper bounds
    return adj >= bound[:, None]

#: (applicationId, analyzed-plan semanticHash) -> (bounded row count,
#: dim, budget_rows) for the auto block-side probe. Same bounded-cache +
#: staleness contract as rebalance._PROBE_CACHE: a stale hit can only
#: pick a suboptimal block side, never change results.
_SIZE_CACHE: dict[tuple[str, int], tuple[int, int, int]] = {}
_SIZE_CACHE_MAX = 1024


def _vector_matrix_size(
    filtered: DataFrame, vec_col: str, byte_budget: int
) -> tuple[int, int, int]:
    """Budget-bounded sizing probe for the auto block-side dispatch.

    Returns ``(n_bounded, dim, budget_rows)`` where ``dim`` comes from
    ONE row, ``budget_rows = byte_budget // (4 * dim)`` is the fp32
    broadcast budget in rows, and ``n_bounded`` is a LIMIT-bounded
    count: ``filtered.limit(budget_rows + 1).count()``. The probe's
    only question is "does the matrix fit the budget?", and the LIMIT
    lets the scan early-exit the moment ``budget_rows + 1`` rows
    survive — a 100 TB vectors table answers "too big, stay
    vector-blocked" after reading O(budget) rows instead of paying a
    full filtered count (VERDICT r9 #2). ``n_bounded <= budget_rows``
    is then the exact fits-budget predicate AND the exact row count.

    Memoized on the analyzed plan's semanticHash so bench reps /
    repeated batch calls over the same table pay the two sizing jobs
    once.
    """
    try:
        key = (
            filtered.sparkSession.sparkContext.applicationId,
            filtered._jdf.queryExecution().analyzed().semanticHash(),
        )
        hit = _SIZE_CACHE.get(key)
        if hit is not None:
            return hit
    except Exception:  # pragma: no cover — connect / internal-API drift
        key = None
    dim_row = filtered.select(F.size(vec_col)).first()
    dim = int(dim_row[0]) if dim_row and dim_row[0] is not None else 0
    if dim <= 0:
        return 0, 0, 0  # empty after filters — don't memoize emptiness
    budget_rows = max(1, int(byte_budget) // (4 * dim))
    n_bounded = filtered.limit(budget_rows + 1).count()
    if key is not None:
        if len(_SIZE_CACHE) >= _SIZE_CACHE_MAX:
            _SIZE_CACHE.clear()
        _SIZE_CACHE[key] = (n_bounded, dim, budget_rows)
    return n_bounded, dim, budget_rows


def knn_join_blocked(
    vectors: DataFrame,
    queries: DataFrame | QueryBlock,
    k: int = 10,
    metric: str = "cosine",
    filter_metadata: Mapping[str, Any] | None = None,
    vec_col: str = "embedding",
    id_col: str = "id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    block_side: str = "auto",
) -> DataFrame:
    """Arrow block-matmul batch k-NN — the wide-batch / huge-table path.

    Equivalent results to :func:`knn_join` (same scores to float64
    rounding, same deterministic tie-break) under every ``block_side``.

    ``block_side`` picks which side is partitioned:

    - ``"vectors"``: the query matrix is collected and broadcast once;
      each Arrow batch of the vectors table is scored against it in
      query slices of bounded footprint (``Q_slice @ V.T`` BLAS calls,
      ~64 MB score blocks, row-wise partial top-k — see score_blocks
      for why both the orientation and the slicing matter at large M)
      and reduced to a per-batch top-k, so the shuffle into the final
      per-query window carries O(tasks * M * k) rows, independent of
      N. The 100 TB-vectors shape.
    - ``"queries"``: the transposed plan — the VECTOR matrix is
      collected (budget-checked) and broadcast as fp32; the query set
      stays distributed and each Arrow batch of queries sees the WHOLE
      vector matrix, so its top-k is exact and batch-local: selection
      runs on an fp32 matmul with a provable error margin, the
      surviving frontier (~k rows per query) is re-scored in exact
      float64, and rank is emitted in-batch. Map-only — no candidate
      shuffle, no window; output is exactly M*k rows. The all-vs-all /
      huge-query-batch shape (found r9: at sf1 the vector-blocked plan
      spent its wall in 32 * M * k candidate traffic and axis-hostile
      partitions — the transposed plan is ~10x on the same data).
    - ``"auto"`` (default): ``"queries"`` when M >= QBLOCK_MIN_QUERIES
      and the fp32 vector matrix fits QBLOCK_VECTOR_BUDGET_BYTES, else
      ``"vectors"``. Both gates are LIMIT-bounded and early-exit the
      moment the threshold is crossed. The query side collects at most
      QBLOCK_MIN_QUERIES rows, which is the whole block the
      vector-blocked plan broadcasts whenever it is smaller; the
      vector side probes ``dim`` from one row and counts at most
      ``budget_rows + 1`` rows, so "too big, stay vector-blocked"
      costs O(budget) rows even against a 100 TB table. The vector
      probe is memoized per analyzed-plan fingerprint with
      the same staleness contract as ``rebalance_for_compute`` (a
      table whose file set changed under an identical plan can serve
      one stale decision — the consequence is a suboptimal block side,
      never wrong results).

    Rows whose vector column is NULL are excluded on both sides, in
    every strategy (see ``_drop_null_vectors``).
    """
    if metric not in ("cosine", "euclidean", "dot_product"):
        raise ValueError(f"unknown metric {metric!r}")
    if block_side not in ("auto", "vectors", "queries"):
        raise ValueError(f"unknown block_side {block_side!r}")
    _validate(vectors, k, vec_col=vec_col, id_col=id_col)
    qb = query_block(queries, query_id_col, query_vec_col)
    filtered = _drop_null_vectors(
        apply_metadata_filter(vectors, filter_metadata), vec_col
    )
    if block_side == "auto":
        # cheapest gate first: a small query batch (the common store
        # search) is collected whole by this one bounded collect and
        # stays on the vector-blocked path; the limit keeps a huge
        # query set on the executors
        if not qb.collect(QBLOCK_MIN_QUERIES).complete:
            n_vec, dim, budget_rows = _vector_matrix_size(
                filtered, vec_col, QBLOCK_VECTOR_BUDGET_BYTES
            )
            if 0 < n_vec <= budget_rows:
                # cap guards the memoized size against a table that
                # grew since the probe: an over-cap collect aborts
                # cheaply (LIMIT cap+1) and falls through to the
                # vector-blocked plan instead of flooding the driver
                out = _knn_join_query_blocked(
                    filtered, qb.frame, k, metric,
                    vec_col, id_col, query_vec_col, query_id_col,
                    max_rows=2 * budget_rows,
                )
                if out is not None:
                    return out
    elif block_side == "queries":
        return _knn_join_query_blocked(
            filtered, qb.frame, k, metric,
            vec_col, id_col, query_vec_col, query_id_col,
        )

    q_ids, Q = qb.arrays()
    if metric == "cosine":
        Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), NORM_EPS)
    sc = vectors.sparkSession.sparkContext
    bq = sc.broadcast(
        {
            "ids": q_ids,
            "Q": Qn if metric == "cosine" else Q,
            "sq_norms": (Q * Q).sum(axis=1) if metric == "euclidean" else None,
        }
    )
    _register_broadcast(bq)
    kk = int(k)
    ascending = metric_ascending(metric)
    met = metric

    def score_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qd = bq.value
        Qm = qd["Q"]
        qids = qd["ids"]
        n_queries = Qm.shape[0]
        # Per-PARTITION candidate accumulators: each Arrow batch's
        # partial top-k survives here and the task reduces them to ONE
        # exact top-k per query before emitting, so the shuffle into
        # the final window carries O(tasks * M * k) rows — not
        # O(batches * M * k) (r10: 6x less candidate traffic at the
        # 10k x 2M shape). The pool stays tiny: <= ~k rows per query
        # per batch, reduced task-locally.
        acc_q: list[np.ndarray] = []
        acc_id: list[np.ndarray] = []
        acc_s: list[np.ndarray] = []
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            n = V.shape[0]
            take = min(kk, n)
            if met == "cosine":
                Vt = (
                    V
                    / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), NORM_EPS)
                ).T
            else:
                Vt = V.T
                if met == "euclidean":
                    v_sq = (V * V).sum(axis=1)
            # Scores are computed TRANSPOSED — (m_slice, n), queries as
            # rows — and the broadcast query matrix is swept in slices
            # whose score block stays ~64 MB. Both halves are load-
            # bearing at scale (found r10, 10k queries x 2M vectors):
            # the old (n, M) orientation partitioned axis-0 across a
            # C-ordered array (strided column walks through an 800 MB
            # block), and at M=10k the per-batch temps put 32 workers
            # >3 GB each — the sweep went kernel-reclaim-bound (50%
            # system time, ~20 min per 16 tasks). Row-wise partition on
            # bounded slices keeps the allocator and cache in their
            # happy regime at identical semantics.
            m_step = max(256, _SWEEP_SLICE_ELEMS // max(n, 1))
            # Slice buffers are allocated ONCE per batch and reused
            # across all ~n_queries/m_step slices: numpy frees >128 KB
            # blocks back to the OS, so per-slice fresh allocations
            # made the kernel re-zero ~1.6 GB of pages per batch — the
            # sweep alternated 50%-system-time phases with compute
            # phases until the buffers were pinned (r10 measurement).
            m_full = int(min(m_step, n_queries))
            s_buf = np.empty((m_full, n), dtype=np.float64)
            p_buf = np.empty_like(s_buf)
            for s in range(0, n_queries, m_step):
                Qs = Qm[s : s + m_step]
                S = s_buf[: Qs.shape[0]]
                np.matmul(Qs, Vt, out=S)  # (m_slice, n)
                if met == "euclidean":
                    # ||q||^2 - 2 q.v + ||v||^2, selection domain only
                    S *= -2.0
                    S += qd["sq_norms"][s : s + m_step][:, None]
                    S += v_sq[None, :]
                    np.maximum(S, 0.0, out=S)
                    np.sqrt(S, out=S)
                # Partial top-k per query within this batch slice.
                # np.partition yields the take-th-best score per query;
                # keeping every row at-or-better-than that boundary
                # keeps ALL score-ties at the k frontier; the exact
                # (score, id ASC) cut happens in the task-level reduce
                # below. Rows strictly better than the boundary number
                # < take and are always included, so this is exact.
                if take < n:
                    P = p_buf[: S.shape[0]]
                    np.copyto(P, S)
                    kth = take - 1 if ascending else n - take
                    P.partition(kth, axis=1)  # in-place: no fresh pages
                    bound = P[:, kth]
                    mask = (
                        S <= bound[:, None] if ascending else S >= bound[:, None]
                    )
                    qrow, vcol = np.nonzero(mask)
                else:
                    qrow = np.repeat(np.arange(S.shape[0]), n)
                    vcol = np.tile(np.arange(n), S.shape[0])
                if met == "euclidean":
                    # The matmul expansion loses ~1e-7 absolute precision
                    # near zero distance; recompute float64 distances for
                    # the ~k*m_slice emitted candidates only (cost
                    # independent of N) so the blocked path matches the
                    # expression path to fp64 rounding (~1 ulp of
                    # summation-order difference).
                    scores = np.linalg.norm(V[vcol] - Qm[s + qrow], axis=1)
                else:
                    scores = S[qrow, vcol]
                acc_q.append(s + qrow)
                acc_id.append(ids[vcol])
                acc_s.append(scores)
        if not acc_q:
            return
        # Exact per-query top-k over the task's whole candidate pool.
        # (score, id ASC) is a TOTAL order, so cutting at k here can
        # never disagree with the global window's deterministic
        # tie-break — the global top-k of a union equals the top-k of
        # per-partition top-k's under any total order.
        qrow = np.concatenate(acc_q)
        idv = np.concatenate(acc_id)
        sc = np.concatenate(acc_s)
        order = np.lexsort((idv, sc if ascending else -sc, qrow))
        qs = qrow[order]
        starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
        group_len = np.diff(np.r_[starts, len(qs)])
        seq = np.arange(len(qs)) - np.repeat(starts, group_len)
        sel = order[seq < kk]
        yield pd.DataFrame(
            {
                "query_id": qids[qrow[sel]],
                id_col: idv[sel],
                "score": sc[sel],
            }
        )

    # The matmul's parallelism is the INPUT partition count, and dense
    # embeddings compress hard on disk — a table whose scan plans to a
    # couple of splits (a single-file local table, an over-compacted
    # store at scale) would serialize the whole O(N*M*d) BLAS sweep
    # onto one or two Python workers regardless of cluster size (found
    # r9: the sf1 "regression" r6-r8 chased was exactly this — 20k
    # rows packed into one 5.6 MB file ran the 300-GFLOP sweep 2-way).
    # rebalance_for_compute shuffles the narrow (id, vec) projection
    # out to defaultParallelism only when under-partitioned; a real
    # wide scan passes through shuffle-free.
    src = rebalance_for_compute(filtered.select(id_col, vec_col))
    candidates = src.mapInPandas(
        score_blocks, schema=f"query_id long, {id_col} long, score double"
    )
    scored = (
        candidates.withColumn(
            "similarity", similarity_for_metric(met, F.col("score"))
        ).withColumn("distance", distance_for_metric(met, F.col("score")))
    )
    return top_k_per_group(
        scored, ["query_id"], _order(met, F.col("score"), id_col), kk
    ).select("query_id", id_col, "score", "similarity", "distance", "rank")


def _knn_join_query_blocked(
    filtered: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    vec_col: str,
    id_col: str,
    query_vec_col: str,
    query_id_col: str,
    max_rows: int | None = None,
) -> DataFrame | None:
    """``knn_join_blocked(block_side="queries")`` — see its docstring.

    ``max_rows`` (auto-dispatch only) bounds the vector collect with a
    LIMIT; when exceeded (a stale size-probe on a grown table) the
    function returns ``None`` and the caller falls through to the
    vector-blocked plan.

    Deliberate asymmetry: an empty QUERY set yields an empty result
    here (the query side is a distributed stream this plan never
    counts), while the vector-blocked path raises ``ValueError`` (it
    collects the queries and an empty collect is a caller bug). The
    auto dispatcher routes empty/small query sets to the vector-blocked
    path, so the raise is what auto callers observe either way.

    Exactness argument for the fp32-select / fp64-rescore split: with
    ``key32`` the fp32 selection key and ``key64`` the exact key,
    normwise rounding analysis bounds ``|key32 - key64| <= E`` PER
    ENTRY (``E`` from :func:`_entry_error_bound`, metric-specific,
    norm-scaled). ``key32 - E`` / ``key32 + E`` therefore bracket the
    true key, so the k-th best PESSIMISTIC key bounds the true k-th
    key, and every member of the TRUE top-k — including every
    exact-score tie at the k frontier — satisfies the OPTIMISTIC-side
    test (:func:`_frontier_mask`); the net provably catches them all.
    The survivors (~k + frontier-ties per query) are re-scored with
    the same float64 formula the expression path uses (equal up to
    float64 summation order — vectorized numpy accumulates in a
    different order than the JVM's sequential fold, so scores can
    differ by ~1 ulp and an EXACT tie decided by the shared
    (score, id ASC) order could in principle flip on a manufactured
    near-tie; parity tests pin 1e-9) — so fp32 decides nothing; it
    only prunes rows provably outside the top-k.
    """
    # Arrow-path collect (toPandas): the vector matrix lands as numpy
    # arrays, not Python Row objects — collect() would transiently
    # inflate a 256 MB fp32 matrix to several GB of Row objects on the
    # driver (ADVICE r9).
    src_v = filtered.select(id_col, vec_col)
    if max_rows is not None:
        vpdf = src_v.limit(int(max_rows) + 1).toPandas()
        if len(vpdf) > max_rows:
            return None  # grew past budget since the size probe
    else:
        vpdf = src_v.toPandas()
    if vpdf.empty:
        # no vectors survive the filter: delegate to the expression
        # path's empty result rather than hand-building a schema
        return knn_join(
            filtered, queries.limit(1), k, metric, None,
            vec_col, id_col, query_vec_col, query_id_col,
        ).where(F.lit(False))
    v_ids = vpdf[id_col].to_numpy(dtype=np.int64)
    V64 = np.asarray(vpdf[vec_col].to_list(), dtype=np.float64)
    del vpdf
    d = V64.shape[1]
    # embeddings are float32-origin in every store/table this engine
    # writes, so the fp32 image is almost always lossless — broadcast
    # only it and reconstruct exact float64 in the worker (widening
    # casts are exact). When it is NOT lossless the payload is float64
    # — 2x the bytes the auto budget gate checked — so auto dispatch
    # (max_rows set) falls back to the vector-blocked plan instead of
    # shipping double the budget; an explicit block_side="queries"
    # call ships the fp64 matrix as asked.
    V32 = V64.astype(np.float32)
    lossless = bool(np.array_equal(V32.astype(np.float64), V64))
    if not lossless and max_rows is not None:
        return None
    sc = filtered.sparkSession.sparkContext
    bv = sc.broadcast(
        {"ids": v_ids, "raw32": V32 if lossless else None,
         "raw64": None if lossless else V64}
    )
    _register_broadcast(bv)
    del V64, V32
    kk = int(k)
    met = metric
    ascending = metric_ascending(metric)

    def score_qblocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pay = bv.value
        vm64 = (
            pay["raw32"].astype(np.float64)
            if pay["raw64"] is None
            else pay["raw64"]
        )
        ids = pay["ids"]
        n = vm64.shape[0]
        dd = vm64.shape[1]
        v_norms = np.linalg.norm(vm64, axis=1)
        if met == "cosine":
            Vn64 = vm64 / np.maximum(v_norms, NORM_EPS)[:, None]
            M32 = np.ascontiguousarray(Vn64.astype(np.float32).T)
        else:
            Vn64 = vm64
            M32 = np.ascontiguousarray(vm64.astype(np.float32).T)
            v_norms32 = v_norms.astype(np.float32)
            if met == "euclidean":
                v_sq32 = (M32.astype(np.float64) ** 2).sum(axis=0).astype(np.float32)
        take = min(kk, n)
        # Query rows are processed in slices whose fp32 score block
        # stays bounded (~64 MB): against a budget-sized matrix
        # (n ~ 1M rows at 64-dim) a full 10k-row Arrow batch would
        # otherwise allocate a 40 GB S32 plus an equal E — each
        # query's top-k is slice-local (the slice sees ALL n vectors),
        # so slicing changes nothing semantically.
        for pdf in batches:
            if pdf.empty:
                continue
            Q64f = np.asarray(pdf[query_vec_col].to_list(), dtype=np.float64)
            qids_f = pdf[query_id_col].to_numpy()
            m_step = max(64, _QBLOCK_SLICE_ELEMS // max(n, 1))
            for beg in range(0, Q64f.shape[0], m_step):
                Q64 = Q64f[beg : beg + m_step]
                qids = qids_f[beg : beg + m_step]
                q_norms = np.linalg.norm(Q64, axis=1)
                if met == "cosine":
                    Qn64 = Q64 / np.maximum(q_norms, NORM_EPS)[:, None]
                    S32 = Qn64.astype(np.float32) @ M32  # (m, n) similarities
                    E = _entry_error_bound(met, dd, q_norms, None)
                elif met == "dot_product":
                    Qn64 = Q64
                    S32 = Q64.astype(np.float32) @ M32
                    E = _entry_error_bound(met, dd, q_norms, v_norms32)
                else:  # euclidean, squared-distance domain for selection
                    Qn64 = Q64
                    S32 = (
                        (Q64.astype(np.float32) ** 2).sum(axis=1)[:, None]
                        - 2.0 * (Q64.astype(np.float32) @ M32)
                        + v_sq32[None, :]
                    )
                    E = _entry_error_bound(met, dd, q_norms, v_norms32)
                if take < n:
                    mask = _frontier_mask(S32, E, take, ascending)
                    qrow, vcol = np.nonzero(mask)
                else:
                    qrow = np.repeat(np.arange(S32.shape[0]), n)
                    vcol = np.tile(np.arange(n), S32.shape[0])
                # float64 re-score of the frontier — the expression
                # path's formula up to summation order (~1 ulp), then
                # the shared (score, id ASC) tie-break
                if met == "euclidean":
                    s64 = np.linalg.norm(Q64[qrow] - vm64[vcol], axis=1)
                else:
                    s64 = np.einsum("ij,ij->i", Qn64[qrow], Vn64[vcol])
                idv = ids[vcol]
                order = np.lexsort((idv, s64 if ascending else -s64, qrow))
                qs = qrow[order]
                starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
                group_len = np.diff(np.r_[starts, len(qs)])
                seq = np.arange(len(qs)) - np.repeat(starts, group_len)
                keep = seq < take
                sel = order[keep]
                yield pd.DataFrame(
                    {
                        "query_id": qids[qrow[sel]],
                        id_col: ids[vcol[sel]],
                        "score": s64[sel],
                        "rank": (seq[keep] + 1).astype(np.int32),
                    }
                )

    src = rebalance_for_compute(queries.select(query_id_col, query_vec_col))
    ranked = src.mapInPandas(
        score_qblocks,
        schema=f"query_id long, {id_col} long, score double, rank int",
    )
    return (
        ranked.withColumn("similarity", similarity_for_metric(met, F.col("score")))
        .withColumn("distance", distance_for_metric(met, F.col("score")))
        .select("query_id", id_col, "score", "similarity", "distance", "rank")
    )


def knn_join_chunked(
    vectors: DataFrame,
    queries: DataFrame | QueryBlock,
    k: int = 10,
    metric: str = "cosine",
    filter_metadata: Mapping[str, Any] | None = None,
    vec_col: str = "embedding",
    id_col: str = "id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    chunk_size: int = 10_000,
    cache_vectors: bool = True,
    cache_queries: bool = True,
) -> DataFrame:
    """Exact k-NN when BOTH sides are too big for one pass — the grid
    complement to :func:`knn_join_blocked` (which collects the whole
    query set to the driver and dies on a huge-Q batch).

    Queries are hash-bucketed on ``query_id`` into chunks of ~``chunk_size``
    rows; each chunk is small enough to collect + broadcast, and is
    answered by one blocked BLAS sweep over the (cached) vectors table.
    Chunks partition the query set, so every query is fully answered
    inside its own chunk — results union with no cross-chunk merge.
    Cost model at scale: V is scanned ``ceil(Q / chunk_size)`` times, but
    from cache/local disk after the first sweep, and each sweep's shuffle
    is O(tasks * chunk * k), never O(N * Q). The driver loop is over
    chunk COUNT (Q/chunk_size iterations), not rows — each iteration is a
    full distributed job.

    Reference parity: same J2 batch-similarity semantics
    (performance/mlx_optimized.py:59-88); the reference caps at one
    in-memory (M,N) matmul and has no huge-Q story at all.
    """
    _validate(vectors, k, vec_col=vec_col, id_col=id_col)
    queries = query_block(queries, query_id_col, query_vec_col).frame
    if cache_queries:
        # the sizing count below is then the ONLY full pass over the
        # query side: every per-chunk collect reads the cached blocks
        # instead of re-scanning the source (n_chunks extra scans).
        # Lifetime is handled internally: the query cache unpersists as
        # soon as the chunk loop's collects finish (plan build is eager
        # on the query side), and the vectors cache unpersists when the
        # caller drops the returned DataFrame (weakref finalizer) — a
        # batch loop over this function pins nothing across iterations.
        queries = queries.persist()
    n_queries = queries.count()
    if n_queries == 0:
        if cache_queries:
            queries.unpersist()
        raise ValueError("empty query set")
    n_chunks = max(1, -(-n_queries // int(chunk_size)))
    if n_chunks == 1:
        out = knn_join_blocked(
            vectors, queries, k, metric, filter_metadata,
            vec_col, id_col, query_vec_col, query_id_col,
        )
        if cache_queries:
            # the block collect inside knn_join_blocked already ran: the
            # cache did its one job; holding the blocks for the session
            # lifetime would just leak executor memory
            queries.unpersist()
        return out
    if metric not in ("cosine", "euclidean", "dot_product"):
        raise ValueError(f"unknown metric {metric!r}")
    # rebalance BEFORE the persist: the cached blocks are then already
    # spread to defaultParallelism, every per-chunk sweep inherits the
    # width, and the guard inside knn_join_blocked no-ops (its probe
    # sees >= target partitions) instead of re-shuffling the cache once
    # per chunk
    filtered = rebalance_for_compute(
        _drop_null_vectors(
            apply_metadata_filter(vectors, filter_metadata), vec_col
        ).select(id_col, vec_col)
    )
    if cache_vectors:
        filtered = filtered.persist()
    bucket = F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(n_chunks))

    # Each chunk's plan-build pays a Spark job (the query-block collect
    # inside knn_join_blocked); submit them from a thread pool so the
    # per-chunk collects overlap instead of running back-to-back. With
    # spark.scheduler.mode=FAIR the named pool also interleaves the
    # stages; under default FIFO the concurrent submission alone overlaps
    # scheduling gaps. The sweeps themselves still execute as one job
    # when the union plan is consumed.
    from concurrent.futures import ThreadPoolExecutor

    sc = queries.sparkSession.sparkContext

    def _chunk_plan(b: int) -> DataFrame | None:
        sc.setLocalProperty("spark.scheduler.pool", "knn-chunks")
        try:
            # pin block_side: the chunked contract is "sweep the CACHED
            # vectors once per query chunk" — auto flipping a chunk to
            # the query-blocked strategy would re-collect the whole
            # vector matrix to the driver once per chunk
            return knn_join_blocked(
                filtered, queries.where(bucket == b), k, metric, None,
                vec_col, id_col, query_vec_col, query_id_col,
                block_side="vectors",
            )
        except ValueError as e:
            if "empty query set" not in str(e):
                raise
            return None  # hash bucket happened to be empty

    with ThreadPoolExecutor(max_workers=min(n_chunks, 8)) as pool:
        parts = [p for p in pool.map(_chunk_plan, range(n_chunks)) if p is not None]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if cache_queries:
        # every per-chunk query collect ran inside the loop above (plan
        # build is eager on the query side) — the cache has served its
        # last read; holding it would leak CacheManager entries across
        # repeated calls in a long session
        queries.unpersist()
    if cache_vectors:
        # the vectors cache is read at EXECUTION time, so it must
        # outlive this call — but CacheManager holds it strongly, so a
        # caller looping over batches would pin one full copy of V per
        # call forever. When the caller drops the returned DataFrame the
        # cache RETIRES (bounded deferred-unpersist registry) instead of
        # unpersisting immediately: a caller that derives a frame and
        # drops `out` before executing (`return out.select(...)`) still
        # hits the cache at execution time, while a batch loop retires
        # each iteration's copy so at most _RETIRED_MAX stay resident.
        # `session.release_intermediates()` drains the registry eagerly.
        import weakref

        weakref.finalize(out, _retire_vector_cache, filtered)
    return out
