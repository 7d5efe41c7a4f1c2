"""Product quantization (PQ) — compressed-domain similarity search.

The next storage cliff past int8 (functions/vector.py quantize_int8):
int8 cuts vector bytes 4x, PQ cuts them 16-64x. A D-dim vector is split
into ``m`` subvectors; each subvector is replaced by the id of its
nearest centroid in a per-subspace codebook of ``2**nbits`` entries
(Jegou, Douze, Schmid: "Product Quantization for Nearest Neighbor
Search", TPAMI 2011 — public method). A 384-dim float32 vector (1536 B)
becomes ``m`` bytes: 32 B at m=32, a 48x cut. At 100 TB of embeddings
that is the difference between scanning 100 TB and scanning ~2 TB.

Search is asymmetric distance computation (ADC): the *query* stays
exact; per query one (m, 2**nbits) lookup table of partial
dot-products/squared-distances against every codebook entry is built
driver-side (tiny: m*256 doubles), and a stored code scores as the sum
of m table lookups — no decode, no float vector read. The approximate
top ``k * overfetch`` candidates then re-rank exactly against the float
embeddings (semi-join on id — reads float bytes for the candidates
only), the same two-pass shape as the int8 path and the reference's
over-fetch policy (service/optimized_vector_store.py:121-135).

Spark-first split of the work:
- **train**: driver-side numpy k-means per subspace over a bounded
  Arrow-collected sample (identical policy to operators.ann.build_ivf —
  a coarse codebook needs thousands of points, not the corpus).
- **encode**: ``mapInPandas`` — each Arrow batch is reshaped to
  (n, m, dsub) and assigned to codebook rows with one einsum per
  subspace; output is a ``binary`` column of m bytes per row. Encoding
  new data is a stateless projection: no rebuild, streaming-safe.
- **ADC scan**: ``mapInPandas`` over (id, code) only — the scan never
  touches the float column, so Parquet column pruning makes the first
  pass IO ~= m bytes/row. Per-batch partial top-k keeps the shuffle at
  O(batches * queries * k), the knn_join_blocked discipline.

Residual mode: pass the IVF centroids (operators.ann.IVFIndex) to
:func:`train_pq` / :meth:`PQCodebooks.encode` and codes quantize
``v - centroid(v)`` instead of ``v`` — classic IVF-PQ. Residuals are
smaller in norm, so the same codebook budget spends on finer detail;
ADC then adds the exact ``dot(q, centroid)`` term per cell (one value
per (query, cell), computed driver-side from the KB-sized centroid
block).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mlx_vector_db_spark.functions.vector import metric_ascending
from mlx_vector_db_spark.operators.ann import _kmeans_numpy
from mlx_vector_db_spark.operators.knn import (
    EXPR_MAX_QUERIES,
    QueryBlock,
    _bounded_query_count,
    knn_join,
    query_block,
)
from mlx_vector_db_spark.operators.topk import top_k_per_group
from mlx_vector_db_spark.rebalance import rebalance_for_compute

__all__ = [
    "PQCodebooks",
    "train_pq",
    "pq_search_batch",
    "ivfpq_search_batch",
    "tune_overfetch",
]


class PQCodebooks:
    """Per-subspace codebooks + encode/ADC kernels.

    ``books`` has shape (m, ksub, dsub); serialized form is a small
    JSON-able dict (m * ksub * dsub doubles — ~780 KB at 384-dim/m=48,
    the same order as the reference's persisted HNSW metadata,
    performance/hnsw_index.py:105-129)."""

    def __init__(self, books: np.ndarray, vec_col: str = "embedding"):
        books = np.asarray(books, dtype=np.float64)
        if books.ndim != 3:
            raise ValueError(f"books must be (m, ksub, dsub), got {books.shape}")
        if books.shape[1] > 256:
            raise ValueError("ksub > 256 does not fit byte codes")
        self.books = books
        self.vec_col = vec_col

    # -- persistence -------------------------------------------------------

    def to_dict(self) -> dict:
        return {
            "type": "pq",
            "vec_col": self.vec_col,
            "books": self.books.tolist(),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "PQCodebooks":
        return cls(np.asarray(d["books"], dtype=np.float64), d["vec_col"])

    @property
    def m(self) -> int:
        return self.books.shape[0]

    @property
    def dsub(self) -> int:
        return self.books.shape[2]

    @property
    def dim(self) -> int:
        return self.m * self.dsub

    @property
    def compression(self) -> float:
        """bytes(float32 vector) / bytes(code)."""
        return (self.dim * 4) / self.m

    # -- kernels -----------------------------------------------------------

    def _assign(self, X: np.ndarray) -> np.ndarray:
        """(n, dim) -> (n, m) uint8 codes: per-subspace argmax of
        ``x.c - ||c||^2/2`` (same identity as the IVF assigner)."""
        n = X.shape[0]
        sub = X.reshape(n, self.m, self.dsub)
        codes = np.empty((n, self.m), dtype=np.uint8)
        for j in range(self.m):
            c = self.books[j]  # (ksub, dsub)
            scores = sub[:, j, :] @ c.T - 0.5 * (c * c).sum(axis=1)[None, :]
            codes[:, j] = scores.argmax(axis=1)
        return codes

    def decode(self, codes: np.ndarray) -> np.ndarray:
        """(n, m) codes -> (n, dim) reconstructed vectors."""
        codes = np.asarray(codes)
        parts = [self.books[j][codes[:, j]] for j in range(self.m)]
        return np.concatenate(parts, axis=1)

    def dot_luts(self, Q: np.ndarray) -> np.ndarray:
        """(nq, dim) queries -> (nq, m, ksub) partial dot-product lookup
        tables: ``lut[q, j, c] = dot(Q[q] subspace j, books[j][c])``."""
        Q = np.asarray(Q, dtype=np.float64)
        nq = Q.shape[0]
        qs = Q.reshape(nq, self.m, self.dsub)
        return np.einsum("qjd,jcd->qjc", qs, self.books)

    def encode(
        self,
        df: DataFrame,
        code_col: str = "pq_code",
        centroids: np.ndarray | None = None,
        cell_col: str = "centroid_id",
    ) -> DataFrame:
        """Add a ``binary`` m-byte code column via mapInPandas.

        With ``centroids`` (the IVF coarse quantizer's (nlist, dim)
        block), codes quantize the residual ``v - centroids[cell_col]``
        (IVF-PQ); the input must already carry ``cell_col``.
        """
        vec_col = self.vec_col
        books_self = self
        m = self.m
        cent = None if centroids is None else np.asarray(centroids, np.float64)
        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        out_schema = f"{fields}, {code_col} binary"

        # mapInArrow: the vector column's list buffer reshapes to the
        # (n, dim) matrix zero-copy, and the (n, m) uint8 code matrix
        # becomes the binary column through ONE fixed-size-binary
        # buffer — no per-row to_list()/tobytes() Python loops (they
        # cost more than the subspace matmuls at ingest batch sizes)
        def run(batches):
            import pyarrow as pa

            for rb in batches:
                if rb.num_rows == 0:
                    continue
                col = rb.column(rb.schema.get_field_index(vec_col))
                if col.null_count:
                    raise ValueError(f"NULL {vec_col!r} rows cannot be encoded")
                flat = col.flatten().to_numpy(zero_copy_only=False)
                X = flat.astype(np.float64, copy=False).reshape(rb.num_rows, -1)
                if cent is not None:
                    cells = rb.column(
                        rb.schema.get_field_index(cell_col)
                    ).to_numpy(zero_copy_only=False)
                    X = X - cent[cells]
                codes = np.ascontiguousarray(books_self._assign(X))
                fsb = pa.Array.from_buffers(
                    pa.binary(m),
                    rb.num_rows,
                    [None, pa.py_buffer(codes.tobytes())],
                )
                yield pa.RecordBatch.from_arrays(
                    list(rb.columns) + [fsb.cast(pa.binary())],
                    names=list(rb.schema.names) + [code_col],
                )

        return df.mapInArrow(run, schema=out_schema)

    def search_errors(self, X: np.ndarray) -> np.ndarray:
        """Mean squared reconstruction error per vector (diagnostics)."""
        codes = self._assign(np.asarray(X, dtype=np.float64))
        rec = self.decode(codes)
        return ((np.asarray(X) - rec) ** 2).mean(axis=1)


def train_pq(
    df: DataFrame,
    m: int = 8,
    nbits: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 12,
    max_train_rows: int = 131_072,
    centroids: np.ndarray | None = None,
    cell_col: str = "centroid_id",
) -> PQCodebooks:
    """Train per-subspace codebooks on a bounded Arrow-collected sample
    (the build_ivf sampling policy — the distributed table is never
    collected). With ``centroids``, trains on residuals (IVF-PQ)."""
    if max_train_rows < 1:
        raise ValueError(f"max_train_rows must be >= 1 (got {max_train_rows})")
    n = df.count()
    if n == 0:
        raise ValueError("cannot train PQ on an empty table")
    train = df
    if n > max_train_rows:
        train = df.sample(min(1.0, 1.2 * max_train_rows / n), seed=seed)
    cols = [F.col(vec_col).alias("_v")] + (
        [F.col(cell_col).alias("_c")] if centroids is not None else []
    )
    # Arrow transfer of contiguous list buffers (the build_ivf policy):
    # bounded by construction — n was just counted exactly, so limit()
    # is only needed on the sampled branch (binomial overshoot), and
    # skipping it elsewhere avoids CollectLimit's serial partition
    # pull; the float->double widening happens vectorized in numpy
    sample_df = train.select(*cols)
    if n > max_train_rows:
        sample_df = sample_df.limit(int(max_train_rows))
    tbl = sample_df.toArrow()
    vcol = tbl.column("_v").combine_chunks()
    flat = vcol.flatten().to_numpy(zero_copy_only=False)
    X = flat.astype(np.float64, copy=False).reshape(len(vcol), -1)
    if centroids is not None:
        cells = tbl.column("_c").combine_chunks().to_numpy(zero_copy_only=False)
        X = X - np.asarray(centroids, np.float64)[cells]
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    ksub = min(1 << int(nbits), len(X))
    books = np.stack(
        [
            _kmeans_numpy(
                X[:, j * dsub : (j + 1) * dsub], ksub, seed=seed + j, max_iter=max_iter
            )
            for j in range(m)
        ]
    )
    return PQCodebooks(books, vec_col=vec_col)


def pq_search_batch(
    coded: DataFrame,
    queries: DataFrame | QueryBlock,
    pq: PQCodebooks,
    k: int = 10,
    metric: str = "cosine",
    overfetch: int = 4,
    code_col: str = "pq_code",
    id_col: str = "id",
    norm_col: str | None = None,
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exact_rerank: bool = True,
    delegate_saturation: float | None = 0.25,
) -> DataFrame:
    """Two-pass batch k-NN over PQ codes.

    Pass 1 (ADC): scan (id, code) ONLY — the float column is pruned out
    of the Parquet read — scoring each code as m table lookups against
    the per-query LUT; per-Arrow-batch partial top-(k*overfetch) bounds
    the shuffle. Pass 2: exact re-rank of the candidate union via
    knn_join on the float vectors (semi-join on id), restoring exact
    scores/ordering; PQ error only costs recall when a true top-k
    neighbor falls outside the over-fetched candidate set.

    For ``metric='cosine'`` the ADC pass divides the approximate dot by
    the code's reconstruction norm (gathered from the same codebook
    tables — no float IO), so ranking tracks true cosine even when
    corpus norms vary; the exact re-rank then restores exact scores.
    """
    if metric not in ("cosine", "euclidean", "dot_product"):
        raise ValueError(f"unknown metric {metric!r}")
    # engine-wide NULL rule (knn._drop_null_vectors): a NULL query
    # vector (or NULL element) produces no output rows instead of an
    # inhomogeneous-shape crash in the collect (the r9/r10 defect
    # class, probed here in r11); the block is collected once and
    # handed on to the re-rank
    queries = query_block(queries, query_id_col, query_vec_col)
    q_ids, Q = queries.arrays()
    n_queries_driver = len(q_ids)
    take = int(k) * int(overfetch)
    if exact_rerank and delegate_saturation is not None:
        # candidate-saturation delegation — the bq_search_batch rule
        # (operators/bq.py, measured there at 10k x 2M: two-pass loses
        # 8.3x once M*take >= 0.25*N): when the over-fetched candidate
        # union approaches the corpus, pass 2 re-reads most floats
        # anyway and pass 1's O(tasks*M*take) exchange is overfetch x
        # the exact sweep's, so one exact knn_join is strictly better.
        # None pins the two-pass ADC plan (gates, tuner, scale twins).
        # IVF-PQ is deliberately EXEMPT: its first pass prunes to the
        # probed cells, so its saturated limit is "exact over probed
        # cells" (IVFIndex.search_batch), not the full exact sweep —
        # the caller picks that operator directly.
        sat_bound = int(n_queries_driver * take / float(delegate_saturation))
        n_coded = _bounded_query_count(coded.select(id_col), sat_bound)
        if n_coded <= sat_bound:
            return knn_join(
                coded.drop(code_col),
                queries,
                k=k,
                metric=metric,
                vec_col=pq.vec_col,
                id_col=id_col,
                query_vec_col=query_vec_col,
                query_id_col=query_id_col,
                norm_col=norm_col,
                allow_blocked=n_queries_driver > EXPR_MAX_QUERIES,
            )
    ascending = metric_ascending(metric)
    luts = pq.dot_luts(Q)  # (nq, m, ksub) partial dot products
    lut2 = (pq.books * pq.books).sum(axis=2)  # (m, ksub) centroid sq-norms
    if metric == "euclidean":
        # rank by ||v - q||^2 - ||q||^2 = sum_j (||c_j||^2 - 2 q_j.c_j):
        # fold the code's squared norm into the LUT so the scan is still
        # one gather per subspace; the dropped ||q||^2 is rank-constant
        luts = lut2[None, :, :] - 2.0 * luts
    sc = coded.sparkSession.sparkContext
    bq = sc.broadcast(
        {
            "ids": q_ids,
            "luts": luts,
            # cosine needs a per-code norm denominator or dot ranking
            # misorders corpora with varying norms: the code's own
            # reconstruction norm sqrt(sum_j ||c_j||^2) is gathered from
            # the same (m, ksub) table — still zero float-column IO,
            # query-independent (one gather pass per batch, not per query)
            "lut2": lut2 if metric == "cosine" else None,
        }
    )
    mm = pq.m

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        data = bq.value
        L, L2, qids = data["luts"], data["lut2"], data["ids"]
        nq = len(qids)
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.frombuffer(
                b"".join(pdf[code_col].to_list()), dtype=np.uint8
            ).reshape(len(pdf), mm)
            ids = pdf[id_col].to_numpy()
            # S[n, q] = sum_j L[q, j, codes[n, j]] — m vectorized gathers
            S = np.zeros((len(pdf), nq), dtype=np.float64)
            for j in range(mm):
                S += L[:, j, codes[:, j]].T
            if L2 is not None:
                n2 = np.zeros(len(pdf), dtype=np.float64)
                for j in range(mm):
                    n2 += L2[j, codes[:, j]]
                S /= np.maximum(np.sqrt(n2), 1e-8)[:, None]
            n = S.shape[0]
            t = min(take, n)
            key = S if ascending else -S
            if t < n:
                bound = np.partition(key, t - 1, axis=0)[t - 1, :]
                mask = key <= bound[None, :]
            else:
                mask = np.ones(S.shape, dtype=bool)
            rows, qcols = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "query_id": qids[qcols],
                    id_col: ids[rows],
                    "_approx": S[rows, qcols],
                }
            )

    # PQ codes are bytes-per-row, so the coded table packs into very
    # few file splits at ANY corpus size and the ADC sweep would
    # serialize onto one or two workers (the r9 knn_join_blocked
    # lesson, worse here because compression is ~100x) — spread the
    # narrow (id, code) projection when under-partitioned
    cand = rebalance_for_compute(coded.select(id_col, code_col)).mapInPandas(
        adc, schema=f"query_id long, {id_col} long, _approx double"
    )
    order = [
        F.col("_approx").asc() if ascending else F.col("_approx").desc(),
        F.col(id_col).asc(),
    ]
    cand_topk = top_k_per_group(cand, ["query_id"], order, take)
    if not exact_rerank:
        # the raw candidate stage: k*overfetch rows per query with
        # APPROXIMATE scores, in ONE ADC scan (a semi-join back against
        # `cand` would execute the whole mapInPandas scan twice) —
        # callers re-rank by semi-joining the id column themselves
        return cand_topk.select(
            F.col("query_id").alias(query_id_col),
            id_col,
            F.col("_approx").alias("score"),
        )
    # exact re-rank: float vectors for candidate ids only (semi-join),
    # then the standard exact batch kNN re-scores and cuts to k
    cand_ids = cand_topk.select(id_col).distinct()
    big_batch = n_queries_driver > EXPR_MAX_QUERIES
    if big_batch:
        # knn_join's delegation gate probes the vectors side eagerly —
        # checkpoint the candidate plan so the ADC scan runs once (at
        # the probe) and the re-rank reuses it (ADVICE r10); small
        # batches skip the probe jobs outright via allow_blocked
        cand_ids = cand_ids.localCheckpoint(eager=False)
    subset = coded.join(cand_ids, on=id_col, how="left_semi").drop(code_col)
    return knn_join(
        subset,
        queries,
        k=k,
        metric=metric,
        vec_col=pq.vec_col,
        id_col=id_col,
        query_vec_col=query_vec_col,
        query_id_col=query_id_col,
        norm_col=norm_col,
        allow_blocked=big_batch,
        # the candidate subset is driver-bounded (<= M*take rows) and
        # inherits the semi-join's wide partitioning — the expression
        # path's split-collapse exchange is pure stage overhead here
        # (~0.2s/call measured at the pq_knn shape, r11); a delegated
        # big batch still rebalances inside knn_join_blocked
        rebalance_vectors=False,
    )


def ivfpq_search_batch(
    coded: DataFrame,
    queries: DataFrame | QueryBlock,
    pq: PQCodebooks,
    centroids: np.ndarray,
    k: int = 10,
    metric: str = "cosine",
    nprobe: int = 4,
    overfetch: int = 4,
    code_col: str = "pq_code",
    cell_col: str = "centroid_id",
    id_col: str = "id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exact_rerank: bool = True,
) -> DataFrame:
    """Residual IVF-PQ batch search — the classic composition: coarse
    cells prune which rows each query scores, PQ codes of the RESIDUAL
    ``v - centroid(v)`` supply the fine detail, exact re-rank restores
    exact scores.

    ADC decomposition per row (reconstruction v̂ = c + r̂):
      ``dot(q, v̂) = dot(q, c) + dot(q, r̂)`` — the first term is one
      (nq, nlist) matrix computed driver-side from the KB-sized centroid
      block; the second is the usual m-gather LUT sum. For cosine the
      denominator ``||v̂||`` is reconstructed the same way:
      ``||v̂||² = ||c||² + 2 c·r̂ + ||r̂||²`` via a per-cell cross table
      (nlist × m × ksub doubles — still KBs, still zero float IO).
    Rows outside a query's nprobe probe cells are masked out in the
    same kernel, so cell pruning costs nothing extra. Scan IO = the
    (id, cell, code) columns; the float column is read only for the
    re-rank candidates.
    """
    if metric not in ("cosine", "euclidean", "dot_product"):
        raise ValueError(f"unknown metric {metric!r}")
    C = np.asarray(centroids, dtype=np.float64)  # (nlist, dim)
    # engine-wide NULL rule + one block collect — see pq_search_batch
    queries = query_block(queries, query_id_col, query_vec_col)
    q_ids, Q = queries.arrays()
    n_queries_driver = len(q_ids)
    nlist = len(C)
    nprobe = max(1, min(int(nprobe), nlist))
    ascending = metric_ascending(metric)

    # driver-side per-query blocks (all KB-sized)
    luts = pq.dot_luts(Q)                     # (nq, m, ksub): q . r̂ parts
    qc = Q @ C.T                              # (nq, nlist):   q . c
    d2 = ((C[None, :, :] - Q[:, None, :]) ** 2).sum(axis=2)  # (nq, nlist)
    probe_rank = np.argsort(d2, axis=1)[:, :nprobe]
    probe_mask = np.zeros((len(Q), nlist), dtype=bool)
    np.put_along_axis(probe_mask, probe_rank, True, axis=1)
    # residual-norm tables for cosine: ||r̂||^2 gathers and the c·r̂ cross
    lut_r2 = (pq.books * pq.books).sum(axis=2)          # (m, ksub)
    csub = C.reshape(nlist, pq.m, pq.dsub)
    cross = np.einsum("ljd,jcd->ljc", csub, pq.books)   # (nlist, m, ksub)
    cnorm2 = (C * C).sum(axis=1)                        # (nlist,)
    # (euclidean ranks by ||v̂||^2 - 2 q.v̂ — the rank-constant ||q||^2
    # is dropped; the fold happens inside the kernel below)
    sc = coded.sparkSession.sparkContext
    bq = sc.broadcast(
        {
            "ids": q_ids, "luts": luts, "qc": qc, "mask": probe_mask,
            "lut_r2": lut_r2, "cross": cross, "cnorm2": cnorm2,
            "metric": metric,
        }
    )
    take = int(k) * int(overfetch)
    mm = pq.m

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        d = bq.value
        L, QC, M = d["luts"], d["qc"], d["mask"]
        R2, X, CN2 = d["lut_r2"], d["cross"], d["cnorm2"]
        met, qids = d["metric"], d["ids"]
        nq = len(qids)
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.frombuffer(
                b"".join(pdf[code_col].to_list()), dtype=np.uint8
            ).reshape(len(pdf), mm)
            cells = pdf[cell_col].to_numpy()
            ids = pdf[id_col].to_numpy()
            # dot(q, v̂) = qc[q, cell] + sum_j L[q, j, code_j]
            S = QC[:, cells].T.copy()              # (n, nq)
            for j in range(mm):
                S += L[:, j, codes[:, j]].T
            if met == "cosine":
                # ||v̂||^2 = ||c||^2 + 2 c.r̂ + ||r̂||^2, all gathered
                n2 = CN2[cells].copy()
                for j in range(mm):
                    n2 += 2.0 * X[cells, j, codes[:, j]] + R2[j, codes[:, j]]
                S /= np.maximum(np.sqrt(np.maximum(n2, 0.0)), 1e-8)[:, None]
            elif met == "euclidean":
                n2 = CN2[cells].copy()
                for j in range(mm):
                    n2 += 2.0 * X[cells, j, codes[:, j]] + R2[j, codes[:, j]]
                S = n2[:, None] - 2.0 * S          # ||v̂||^2 - 2 q.v̂
            # mask rows outside each query's probe cells
            allowed = M[:, cells].T                # (n, nq)
            S = np.where(allowed, S, np.inf if ascending else -np.inf)
            n = S.shape[0]
            t = min(take, n)
            key = S if ascending else -S
            if t < n:
                bound = np.partition(key, t - 1, axis=0)[t - 1, :]
                mask = key <= bound[None, :]
            else:
                mask = np.ones(S.shape, dtype=bool)
            mask &= allowed
            rows, qcols = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "query_id": qids[qcols],
                    id_col: ids[rows],
                    "_approx": S[rows, qcols],
                }
            )

    # same under-partitioning guard as the flat-ADC scan above: cell
    # ids + codes compress to a handful of splits at any scale
    cand = rebalance_for_compute(
        coded.select(id_col, cell_col, code_col)
    ).mapInPandas(adc, schema=f"query_id long, {id_col} long, _approx double")
    order = [
        F.col("_approx").asc() if ascending else F.col("_approx").desc(),
        F.col(id_col).asc(),
    ]
    cand_topk = top_k_per_group(cand, ["query_id"], order, take)
    if not exact_rerank:
        # raw candidate stage (see pq_search_batch): k*overfetch rows
        # per query, approximate scores, one ADC scan
        return cand_topk.select(
            F.col("query_id").alias(query_id_col),
            id_col,
            F.col("_approx").alias("score"),
        )
    cand_ids = cand_topk.select(id_col).distinct()
    big_batch = n_queries_driver > EXPR_MAX_QUERIES
    if big_batch:
        # same eager-probe discipline as pq_search_batch above
        cand_ids = cand_ids.localCheckpoint(eager=False)
    subset = coded.join(cand_ids, on=id_col, how="left_semi").drop(code_col)
    return knn_join(
        subset,
        queries,
        k=k,
        metric=metric,
        vec_col=pq.vec_col,
        id_col=id_col,
        query_vec_col=query_vec_col,
        query_id_col=query_id_col,
        allow_blocked=big_batch,
        rebalance_vectors=False,  # bounded candidate subset (see above)
    )


def tune_overfetch(
    coded: DataFrame,
    queries: DataFrame | QueryBlock,
    pq: PQCodebooks,
    k: int = 10,
    target_recall: float = 0.9,
    metric: str = "cosine",
    candidates: Sequence[int] | None = None,
    centroids: np.ndarray | None = None,
    nprobe: int = 4,
    id_col: str = "id",
    code_col: str = "pq_code",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> tuple[int, dict[int, float]]:
    """Pick the smallest ``overfetch`` whose measured recall@k on a
    sampled query set meets ``target_recall`` — the PQ twin of
    :func:`~mlx_vector_db_spark.operators.ann.tune_nprobe` (the
    reference hand-sweeps its accuracy knobs in
    tests/performance_demo_hnsw.py:96; this makes the PQ candidate-pool
    knob self-calibrating too).

    ``overfetch`` is PQ's only accuracy lever at fixed codebooks: the
    ADC scan keeps ``k * overfetch`` candidates per query and the exact
    re-rank can only surface true neighbors that survived that pool.
    One exact kNN pass over the sampled queries supplies the ground
    truth (checkpointed — amortized across every candidate), then one
    compressed search per candidate, ascending, stopping at the first
    that clears the target. Default ladder: 1, 2, 4, ... 32. Returns
    ``(overfetch, recall_curve)`` with every TRIED candidate's measured
    recall; if no candidate reaches the target the largest tried is
    returned — with ``centroids`` (residual IVF-PQ) the recall CEILING
    is set by ``nprobe``'s cell pruning, so a saturating curve says
    "raise nprobe", not "raise overfetch" (tune nprobe first).

    Cost: sample tens of queries, not the corpus — one exact batch kNN
    over the sample plus a few compressed searches.
    """
    if not (0.0 < target_recall <= 1.0):
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    ladder = (
        sorted({max(1, int(c)) for c in candidates})
        if candidates is not None
        else [1, 2, 4, 8, 16, 32]
    )
    drop_cols = [code_col] + (["centroid_id"] if centroids is not None else [])
    # one query collect serves every rung of the ladder
    queries = query_block(queries, query_id_col, query_vec_col)
    exact = (
        knn_join(
            coded.drop(*drop_cols),
            queries,
            k=k,
            metric=metric,
            id_col=id_col,
            query_vec_col=query_vec_col,
            query_id_col=query_id_col,
        )
        .select(F.col(query_id_col).alias("query_id"), F.col(id_col))
        .localCheckpoint(eager=False)
    )
    n_truth = exact.count()
    if n_truth == 0:
        raise ValueError("empty query sample — nothing to tune on")
    curve: dict[int, float] = {}
    chosen = ladder[-1]
    for c in ladder:
        if centroids is not None:
            approx = ivfpq_search_batch(
                coded, queries, pq, centroids, k=k, metric=metric,
                nprobe=nprobe, overfetch=c, id_col=id_col,
                code_col=code_col, query_vec_col=query_vec_col,
                query_id_col=query_id_col,
            )
        else:
            approx = pq_search_batch(
                coded, queries, pq, k=k, metric=metric, overfetch=c,
                id_col=id_col, code_col=code_col,
                query_vec_col=query_vec_col, query_id_col=query_id_col,
                # the tuner measures the ADC tier's recall curve: the
                # saturation delegation would flatten it to 1.0
                delegate_saturation=None,
            )
        hits = approx.select("query_id", id_col).join(
            exact, on=["query_id", id_col]
        ).count()
        recall = hits / n_truth
        curve[c] = recall
        if recall >= target_recall:
            chosen = c
            break
    return chosen, curve
