"""Binary quantization (BQ) — 1-bit-per-dimension similarity search.

The deepest storage cliff in the compression ladder: int8 cuts vector
bytes 4x, PQ 16-64x, and BQ cuts them **32x vs float32** with ZERO
training cost beyond one per-dimension threshold pass. Each dimension
becomes one sign bit (``v[j] > threshold[j]``) and a D-dim vector packs
into ``ceil(D/8)`` bytes. Hamming distance between sign patterns is a
monotone estimator of angular distance (Charikar, "Similarity
Estimation Techniques from Rounding Algorithms", STOC 2002 — SimHash
applied to dense embeddings; the same public result behind
operators/dedup.py's SimHash and ann.py's LSH hyperplanes):
``E[hamming/D] = angle(u, v)/pi`` for mean-centered data. Production
vector stores ship exactly this two-pass shape as "binary quantization"
(oversampled Hamming scan + exact re-score) because the candidate scan
becomes pure XOR+popcount over a table 32x smaller than the floats —
at 100 TB of embeddings the first pass reads ~3 TB and does no
floating-point work at all.

Spark-first split of the work (the pq.py discipline, simplified):
- **train**: one bounded Arrow-collected sample (the build_ivf/train_pq
  sampling policy) yields per-dimension mean thresholds — centering is
  what makes sign bits informative on corpora not centered at zero
  (the reference's synthetic and real embeddings both live in [0, 1)).
- **encode**: ``mapInArrow`` — the (n, D) batch compares against the
  broadcast thresholds and ``np.packbits`` emits a fixed-size binary
  column; stateless projection, streaming-safe, no rebuild on append.
- **Hamming scan**: ``mapInPandas`` over (id, code) only — Parquet
  column pruning keeps first-pass IO at D/8 bytes/row; XOR + a 256-entry
  popcount LUT scores a batch against all queries with no unpacking;
  per-batch partial top-(k*overfetch) keeps the shuffle at
  O(batches * queries * k) rows (the knn_join_blocked discipline).
- **exact re-rank**: semi-join on candidate ids, then the standard
  exact batch kNN — identical to pq_search_batch's second pass, so BQ
  error costs recall only when a true neighbor falls outside the
  over-fetched candidate set. Hamming's 1-bit resolution is coarser
  than ADC's, so the honest default over-fetch is HIGHER than PQ's
  (see bq_recall_gate: overfetch 16 on the uniform corpus; fine-
  clustered data saturates at 2-4 — tune_overfetch_bq finds the knee).

Reference parity: the reference has no BQ (its compression story is
int8 at service/optimized_vector_store.py:121-135); this operator is a
beyond-reference addition on the same over-fetch/re-rank policy.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mlx_vector_db_spark.operators.knn import (
    EXPR_MAX_QUERIES,
    QueryBlock,
    _bounded_query_count,
    _drop_null_vectors,
    knn_join,
    query_block,
)
from mlx_vector_db_spark.operators.topk import top_k_per_group
from mlx_vector_db_spark.rebalance import rebalance_for_compute

__all__ = ["BQModel", "train_bq", "bq_search_batch", "tune_overfetch_bq"]

#: popcount of every byte value — one 256-entry gather scores a code
#: byte; kept module-level so every worker builds it once per import.
_POPCNT = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1
).sum(axis=1).astype(np.uint16)

#: uint64 elements per (Arrow-batch x query-slice) XOR block in the
#: Hamming pass: 2M words = 16 MB per temp, ~3 live SWAR temps ≈ 50 MB
#: peak per task regardless of query-batch size — the knn.py
#: _SWEEP_SLICE_ELEMS bounded-temp discipline (knn.py:424). Without the
#: slice, a 10k-query batch against a 10k-row Arrow batch builds a
#: 400 MB int32 score block per batch (VERDICT r10 #2).
_BQ_SLICE_ELEMS = 2_000_000

# SWAR popcount constants (Knuth TAOCP 4A §7.1.3 / Hacker's Delight
# §5-1 — the textbook 64-bit sideways addition; numpy 1.26 has no
# np.bitwise_count, and a 5-op uint64 SWAR beats the 256-entry LUT
# gather ~4x because it streams instead of random-indexing).
_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)
_SH1, _SH2, _SH4, _SH56 = (np.uint64(s) for s in (1, 2, 4, 56))


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Element-wise popcount of a uint64 array (exact integer math)."""
    x = x - ((x >> _SH1) & _M1)
    x = (x & _M2) + ((x >> _SH2) & _M2)
    x = (x + (x >> _SH4)) & _M4
    return (x * _H01) >> _SH56


def _codes_to_words(codes: np.ndarray, nb: int) -> np.ndarray:
    """(n, nb) uint8 code rows -> (n, nw) uint64 words, zero-padded.

    XOR and popcount are layout-symmetric, so as long as both sides of
    the XOR use this same packing the Hamming distance is exact; the
    zero pad contributes 0 to every popcount.
    """
    n = codes.shape[0]
    nw = (nb + 7) // 8
    if nb % 8:
        pad = np.zeros((n, nw * 8), dtype=np.uint8)
        pad[:, :nb] = codes
        codes = pad
    return np.ascontiguousarray(codes).view(np.uint64).reshape(n, nw)


class BQModel:
    """Per-dimension thresholds + the pack/score kernels.

    ``thresholds`` is the (D,) centering vector: bit j of a code is
    ``v[j] > thresholds[j]``. Persisted via to_dict/from_dict with the
    same contract as ann.IVFIndex / pq.PQCodebooks.
    """

    kind = "bq"

    def __init__(self, thresholds: np.ndarray, vec_col: str = "embedding"):
        t = np.asarray(thresholds, dtype=np.float64)
        if t.ndim != 1 or t.size == 0:
            raise ValueError(f"thresholds must be 1-D non-empty, got {t.shape}")
        self.thresholds = t
        self.vec_col = vec_col

    @property
    def dim(self) -> int:
        return int(self.thresholds.size)

    @property
    def code_bytes(self) -> int:
        return (self.dim + 7) // 8

    @property
    def compression(self) -> float:
        """Bytes saved vs float32 storage (e.g. 32.0 at dim % 8 == 0)."""
        return 4.0 * self.dim / self.code_bytes

    def to_dict(self) -> dict:
        return {
            "kind": self.kind,
            "vec_col": self.vec_col,
            "thresholds": self.thresholds.tolist(),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "BQModel":
        if d.get("kind") != cls.kind:
            raise ValueError(f"not a bq model dict: kind={d.get('kind')!r}")
        return cls(np.asarray(d["thresholds"], np.float64), d["vec_col"])

    def pack(self, X: np.ndarray) -> np.ndarray:
        """(n, D) floats -> (n, code_bytes) uint8 sign codes."""
        X = np.asarray(X, dtype=np.float64)
        if X.ndim != 2 or X.shape[1] != self.dim:
            raise ValueError(f"expected (n, {self.dim}) matrix, got {X.shape}")
        return np.packbits(X > self.thresholds[None, :], axis=1)

    def encode(self, df: DataFrame, code_col: str = "bq_code") -> DataFrame:
        """Add the packed ``binary`` code column via mapInArrow.

        Zero-copy reshape of the list buffer to (n, D), one broadcast
        compare + packbits per batch, one fixed-size-binary buffer out —
        the PQCodebooks.encode Arrow policy (pq.py:170-197). NULL
        vectors cannot be encoded (same rule as PQ/int8: store writes
        validate, arbitrary frames must pre-filter).
        """
        vec_col = self.vec_col
        thresholds = self.thresholds
        dim, nb = self.dim, self.code_bytes
        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        out_schema = f"{fields}, {code_col} binary"

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
                if X.shape[1] != dim:
                    raise ValueError(
                        f"dim mismatch: model {dim}, batch {X.shape[1]}"
                    )
                codes = np.ascontiguousarray(
                    np.packbits(X > thresholds[None, :], axis=1)
                )
                fsb = pa.Array.from_buffers(
                    pa.binary(nb),
                    rb.num_rows,
                    [None, pa.py_buffer(codes.tobytes())],
                )
                yield pa.RecordBatch.from_arrays(
                    list(rb.columns) + [fsb.cast(pa.binary())],
                    names=list(rb.schema.names) + [code_col],
                )

        return df.mapInArrow(run, schema=out_schema)


def train_bq(
    df: DataFrame,
    vec_col: str = "embedding",
    seed: int = 42,
    max_train_rows: int = 131_072,
) -> BQModel:
    """Per-dimension mean thresholds from a bounded Arrow sample.

    The train_pq sampling policy (pq.py:206-259): the distributed table
    is never collected; a binomial sample capped at ``max_train_rows``
    feeds one vectorized column-mean. Means (not medians) so the
    estimator composes linearly across samples; for sign-bit codes the
    difference is one bit-flip on near-threshold dimensions, absorbed
    by the over-fetch.
    """
    if max_train_rows < 1:
        raise ValueError(f"max_train_rows must be >= 1 (got {max_train_rows})")
    # NULL vectors cannot vote on thresholds: Arrow flatten() silently
    # skips null lists, so an unfiltered sample would reshape to the
    # wrong row count (or a wrong-dim model) — the engine-wide kNN NULL
    # rule applies to training samples too (ADVICE r10).
    df = _drop_null_vectors(df, vec_col)
    n = df.count()
    if n == 0:
        raise ValueError("cannot train BQ on an empty table")
    train = df
    if n > max_train_rows:
        train = df.sample(min(1.0, 1.2 * max_train_rows / n), seed=seed)
    sample_df = train.select(F.col(vec_col).alias("_v"))
    if n > max_train_rows:
        sample_df = sample_df.limit(int(max_train_rows))
    tbl = sample_df.toArrow()
    vcol = tbl.column("_v").combine_chunks()
    flat = vcol.flatten().to_numpy(zero_copy_only=False)
    X = flat.astype(np.float64, copy=False).reshape(len(vcol), -1)
    return BQModel(X.mean(axis=0), vec_col=vec_col)


def bq_search_batch(
    coded: DataFrame,
    queries: DataFrame | QueryBlock,
    bq: BQModel,
    k: int = 10,
    metric: str = "cosine",
    overfetch: int = 8,
    code_col: str = "bq_code",
    id_col: str = "id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exact_rerank: bool = True,
    delegate_saturation: float | None = 0.25,
) -> DataFrame:
    """Two-pass batch k-NN over sign-bit codes.

    Pass 1 (Hamming): scan (id, code) ONLY — the float column is pruned
    out of the Parquet read — scoring each code against every query
    code with XOR + a 256-entry popcount gather; per-Arrow-batch partial
    top-(k*overfetch) bounds the shuffle (ties cut on id ASC, so the
    per-batch cut can never disagree with the global order). Pass 2:
    exact re-rank of the candidate union via knn_join on the float
    vectors (semi-join on id), restoring exact scores/ordering — BQ
    error only costs recall when a true top-k neighbor falls outside
    the over-fetched candidate set.

    Hamming is a pure ANGULAR estimator: with ``metric='euclidean'`` or
    ``'dot_product'`` the re-rank is exact for the requested metric but
    the candidate stage still selects by angle, so recall degrades on
    corpora where norms (not directions) decide neighbors — same caveat
    the reference documents for its normalized int8 path.

    NULL rule: identical to every kNN strategy (``_drop_null_vectors``,
    knn.py:172) — a NULL query vector (or one with a NULL element)
    produces no output rows; a vectors row with a NULL code never
    candidates, and the exact re-rank's knn_join re-applies the rule to
    the float column. A query set that is empty AFTER the NULL
    exclusion raises ValueError, same as the blocked kNN collects.

    Candidate-saturation delegation (``delegate_saturation``, default
    0.25): with M queries over-fetching ``take = k*overfetch`` each,
    the expected distinct-candidate fraction is ``1 - e^(-M*take/N)``
    — once ``M*take >= delegate_saturation * N`` the semi-joined pass
    2 re-reads a large share of the float table ANYWAY (>= 22% at the
    default), pass 1's candidate exchange carries O(tasks*M*take) rows
    (``overfetch``× the exact sweep's O(tasks*M*k)), and the two-pass
    plan is strictly worse than one exact sweep at any storage scale —
    measured at 10k queries × 2M rows: two-pass 404.5s vs the exact
    vector-blocked sweep ~34-76s (SCALE.md r11). So past the threshold
    the call delegates to ``knn_join`` outright: exact results (recall
    1.0 — a strict upgrade), identical output schema. The corpus size
    probe is LIMIT-bounded (O(M*take/saturation) rows of the narrow id
    scan, memoized per plan fingerprint). ``delegate_saturation=None``
    pins the two-pass Hamming plan unconditionally — recall gates and
    the overfetch tuner do this, since THEY measure the quantized tier
    itself. ``exact_rerank=False`` (Hamming distances as output) never
    delegates: no exact plan produces that schema.
    """
    if metric not in ("cosine", "euclidean", "dot_product"):
        raise ValueError(f"unknown metric {metric!r}")
    queries = query_block(queries, query_id_col, query_vec_col)
    q_ids, Q = queries.arrays()
    m = len(q_ids)
    take = int(k) * int(overfetch)
    if exact_rerank and delegate_saturation is not None:
        sat_bound = int(m * take / float(delegate_saturation))
        n_coded = _bounded_query_count(coded.select(id_col), sat_bound)
        if n_coded <= sat_bound:
            # saturated: one exact sweep beats code-scan + candidate
            # exchange + semi-join + float re-read (see docstring)
            return knn_join(
                coded.drop(code_col),
                queries,
                k=k,
                metric=metric,
                vec_col=bq.vec_col,
                id_col=id_col,
                query_vec_col=query_vec_col,
                query_id_col=query_id_col,
                allow_blocked=m > EXPR_MAX_QUERIES,
            )
    nb = bq.code_bytes
    q64 = _codes_to_words(bq.pack(Q), nb)  # the queries quantize too
    sc = coded.sparkSession.sparkContext
    bqc = sc.broadcast({"ids": q_ids, "words": q64})

    def hamming(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        data = bqc.value
        qids, qw = data["ids"], data["words"]
        nq, nw = qw.shape
        # per-TASK accumulators: each Arrow batch contributes its
        # partial top-(take + boundary ties) per query; one exact cut at
        # task end bounds the exchange at O(tasks * queries * take)
        # rows instead of O(batches * ...) — the knn.py score_blocks
        # task-level-reduce discipline. The per-batch cut keeps ALL rows
        # tied at the boundary distance, so the task cut (and the global
        # one after it) resolves ties on the (hamming, id ASC) total
        # order and can never disagree with a single global sort.
        acc_q: list[np.ndarray] = []
        acc_i: list[np.ndarray] = []
        acc_d: list[np.ndarray] = []
        for pdf in batches:
            if pdf.empty:
                continue
            n = len(pdf)
            codes = np.frombuffer(
                b"".join(pdf[code_col].to_list()), dtype=np.uint8
            ).reshape(n, nb)
            c64 = _codes_to_words(codes, nb)
            ids = pdf[id_col].to_numpy()
            t = min(take, n)
            # query-axis slices bound every temp: (n, step, nw) uint64
            # XOR block + ~2 live SWAR temps + the (n, step) int32
            # scores — ~50 MB peak however many queries the batch holds
            step = max(1, _BQ_SLICE_ELEMS // max(n * nw, 1))
            for q0 in range(0, nq, step):
                qs = qw[q0 : q0 + step]
                X = c64[:, None, :] ^ qs[None, :, :]
                pc = _popcount64(X)
                D = (
                    pc[:, :, 0].astype(np.int32)
                    if nw == 1
                    else pc.sum(axis=2).astype(np.int32)
                )
                if t < n:
                    bound = np.partition(D, t - 1, axis=0)[t - 1, :]
                    rows, qcols = np.nonzero(D <= bound[None, :])
                else:
                    rows, qcols = np.nonzero(np.ones(D.shape, dtype=bool))
                acc_q.append((q0 + qcols).astype(np.int64))
                acc_i.append(ids[rows])
                acc_d.append(D[rows, qcols])
        if not acc_d:
            return
        q = np.concatenate(acc_q)
        i = np.concatenate(acc_i)
        d = np.concatenate(acc_d)
        # exact per-query top-take on the (hamming, id ASC) total order
        order = np.lexsort((i, d, q))
        q, i, d = q[order], i[order], d[order]
        starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        counts = np.diff(np.r_[starts, q.size])
        ranks = np.arange(q.size) - np.repeat(starts, counts)
        keep = ranks < take
        yield pd.DataFrame(
            {
                "query_id": qids[q[keep]],
                id_col: i[keep],
                "_hamming": d[keep],
            }
        )

    # sign codes compress ~256x vs float parquet, so the coded table
    # packs into very few file splits at ANY corpus size — spread the
    # narrow (id, code) projection or the scan serializes (the r9
    # split-collapse lesson, strongest here of all compressed scans)
    cand = rebalance_for_compute(
        coded.select(id_col, code_col).where(F.col(code_col).isNotNull())
    ).mapInPandas(hamming, schema=f"query_id long, {id_col} long, _hamming int")
    order = [F.col("_hamming").asc(), F.col(id_col).asc()]
    cand_topk = top_k_per_group(cand, ["query_id"], order, take)
    if not exact_rerank:
        return cand_topk.select(
            F.col("query_id").alias(query_id_col),
            id_col,
            F.col("_hamming").alias("hamming"),
        )
    cand_ids = cand_topk.select(id_col).distinct()
    big_batch = m > EXPR_MAX_QUERIES
    if big_batch:
        # knn_join's delegation gate probes the vectors side eagerly
        # (bounded count job) — checkpoint the candidate plan so pass 1
        # runs ONCE (at the probe) and the re-rank reuses the
        # materialized ids instead of re-executing the Hamming scan
        # (ADVICE r10: eager probe in two-pass callers).
        cand_ids = cand_ids.localCheckpoint(eager=False)
    subset = coded.join(cand_ids, on=id_col, how="left_semi").drop(code_col)
    return knn_join(
        subset,
        queries,
        k=k,
        metric=metric,
        vec_col=bq.vec_col,
        id_col=id_col,
        query_vec_col=query_vec_col,
        query_id_col=query_id_col,
        # the query count is already known driver-side: small batches
        # skip the delegation probe jobs outright
        allow_blocked=big_batch,
        # bounded candidate subset: the expression path's rebalance is
        # stage overhead (see pq_search_batch pass 2)
        rebalance_vectors=False,
    )


def tune_overfetch_bq(
    coded: DataFrame,
    queries: DataFrame | QueryBlock,
    bq: BQModel,
    k: int = 10,
    target_recall: float = 0.9,
    metric: str = "cosine",
    candidates: "list[int] | None" = None,
    code_col: str = "bq_code",
    id_col: str = "id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> tuple[int, dict[int, float]]:
    """Pick the smallest ``overfetch`` whose measured recall@k on a
    sampled query set meets ``target_recall`` — the BQ twin of
    pq.tune_overfetch / ann.tune_nprobe, completing the self-calibration
    surface for the compression ladder. The ladder default starts at 2
    and reaches 64: one sign bit per dimension is the coarsest quantizer
    the engine has, so its knee sits higher than PQ's (measured curves:
    uniform 64-dim needs 16, fine-clustered data saturates at 2-4).

    Cost: one exact batch kNN over the sampled queries (checkpointed —
    amortized across every ladder rung) plus one Hamming search per
    tried rung, stopping at the first that clears the target; if none
    does, the largest tried is returned with the full curve so the
    caller sees the saturation.
    """
    if not (0.0 < target_recall <= 1.0):
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    # same NULL rule as bq_search_batch/knn_join: NULL-vector queries
    # never participate in the truth set or the rungs; one query
    # collect serves every rung
    queries = query_block(queries, query_id_col, query_vec_col)
    ladder = (
        sorted({max(1, int(c)) for c in candidates})
        if candidates is not None
        else [2, 4, 8, 16, 32, 64]
    )
    exact = (
        knn_join(
            coded.drop(code_col),
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
        approx = bq_search_batch(
            coded, queries, bq, k=k, metric=metric, overfetch=c,
            code_col=code_col, id_col=id_col,
            query_vec_col=query_vec_col, query_id_col=query_id_col,
            # the tuner measures the HAMMING tier's recall curve: the
            # saturation delegation would flatten it to 1.0 everywhere
            delegate_saturation=None,
        ).select(F.col(query_id_col).alias("query_id"), F.col(id_col))
        hits = approx.join(exact, on=["query_id", id_col]).count()
        recall = hits / n_truth
        curve[c] = recall
        if recall >= target_recall:
            chosen = c
            break
    return chosen, curve
