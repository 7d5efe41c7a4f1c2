"""Deduplication operators for training-data pipelines.

Beyond the reference's surface (SURVEY.md §7.3 milestone 6) — the suite a
100 TB corpus pipeline needs:

- :func:`exact_dedup` — hash-groupBy on a canonical fingerprint. One
  shuffle on the hash; the keeper rule (min id) is an aggregate, so it
  map-side combines.
- :func:`minhash_lsh_pairs` / :func:`minhash_dedup` — shingle -> K
  minhashes -> band buckets -> candidate pairs inside buckets -> exact
  Jaccard verify. The band join is a self-equi-join on (band, band_hash):
  at scale this is THE standard near-dedup shuffle shape; no cross join
  ever materializes. Signatures are MAP-ONLY pure column expressions
  (one xxhash64 base hash per shingle + a universal hash family; the
  (doc, shingle) rows never shuffle) — JVM-side, no Python.
- :func:`simhash` / :func:`simhash_pairs` / :func:`simhash_dedup` —
  64-bit simhash (map-only bit-vote aggregates) with banded Hamming
  blocking (pigeonhole: hamming <= d pairs must share one of d+1 bands).
- :func:`jaccard_pairs` — exact n-gram Jaccard; threshold > 0 plans as
  a shingle-keyed equi-join (scale-shaped), threshold <= 0 keeps the
  literal all-pairs audit form.
- :func:`embedding_neardup_pairs` — cosine near-duplicates over an
  embedding column; exact all-pairs within blocks, with an optional
  random-hyperplane bucket column as the blocker at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mlx_vector_db_spark.functions.text import doc_fingerprint, shingles, tokens
from mlx_vector_db_spark.functions.vector import cosine_similarity
from mlx_vector_db_spark.rebalance import (
    HEAVY_KERNEL_SPLIT_BYTES,
    rebalance_for_compute,
)

__all__ = [
    "exact_dedup",
    "minhash_signature",
    "minhash_lsh_pairs",
    "minhash_dedup",
    "simhash",
    "simhash_pairs",
    "simhash_dedup",
    "jaccard_pairs",
    "fanout_autocap",
    "embedding_neardup_pairs",
]

# a large 61-bit Mersenne prime keeps (a*h+b) % P well distributed while
# fitting in a long without overflow issues after the % below
_MERSENNE_P = (1 << 61) - 1


def _minhash_coeffs(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    """Universal-hash family coefficients (a_k, b_k). Each of the K
    minhash functions is ``(a_k * h + b_k) mod P`` over ONE 32-bit base
    hash of the shingle — 1 string hash + K integer multiply-adds per
    shingle, instead of K full string hashes (which dominated the
    signature stage ~K-fold). a_k < 2^30 and h < 2^32 keep a*h+b inside
    signed-64 with no overflow."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = [int(x) | 1 for x in rng.integers(1, 1 << 30, size=num_hashes)]
    b = [int(x) for x in rng.integers(0, _MERSENNE_P, size=num_hashes)]
    return a, b


def _fold32(col: Column) -> Column:
    """Fold a 64-bit shingle hash to the 32-bit MinHash register width
    (standard; the universal family decorrelates the K functions)."""
    return col.bitwiseAND(F.lit((1 << 32) - 1))


def _signature_numpy(hdf: DataFrame, num_hashes: int, a: list[int], b: list[int]) -> DataFrame:
    """The K-permutation min as ONE vectorized numpy pass per Arrow
    batch — bit-identical to the JVM ``selectExpr`` form (pinned by
    ``test_minhash_numpy_kernel_parity``) and several-fold cheaper:
    the interpreted HOF lambdas cost 5-6.7 cpu-s at sf0.1 (r13 stage
    profile, no codegen, no CSE inside ``transform``), while numpy
    streams the flattened shingle registers through K multiply-add-
    reduce sweeps at memory bandwidth.

    Numerics, proven identical:
    - fold32 keeps h < 2^32; a_k < 2^30; b_k < P < 2^61, so
      ``h*a_k + b_k < 2^63`` — no int64 wraparound on either engine;
    - ``pmod(x, P)`` for the positive x above == numpy ``x % P`` ==
      the branchless Mersenne fold used here (P = 2^61 - 1:
      ``(x & P) + (x >> 61)``, one conditional subtract). The Mersenne
      form was measured SLOWER as an interpreted HOF node (r13: node
      count beats hardware ops when every node re-interprets), but in
      numpy the ~4 cheap vector int ops beat the vectorized 64-bit
      division ~5x — the same arithmetic, opposite cost model.
    - empty or NULL shingle arrays emit the sentinel P signature,
      matching ``coalesce(array_min(...), P)``.

    Input frame: ``(_id, _sh)``; output: ``(_id, _sh, _h0.._h{K-1})``
    with ``_sh`` passed through untouched (the exact-verify stage
    consumes it downstream). The 32-bit fold happens inside the kernel
    so the JVM-side ``_f`` projection disappears entirely.
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    A = np.asarray(a, dtype=np.int64)
    B = np.asarray(b, dtype=np.int64)
    P = _MERSENNE_P
    K = int(num_hashes)
    out_schema = StructType(
        list(hdf.schema.fields)
        + [StructField(f"_h{k}", LongType(), False) for k in range(K)]
    )

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            n_rows = rb.num_rows
            if n_rows == 0:
                continue
            sh = rb.column(rb.schema.get_field_index("_sh"))
            # raw child values + absolute offsets: exact regardless of
            # batch slicing or NULL entries (a null list spans zero
            # child elements but keeps monotonic offsets)
            off = sh.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals64 = sh.values.to_numpy(zero_copy_only=False)
            starts, ends = off[:-1], off[1:]
            empty = starts == ends
            if sh.null_count:
                empty = empty | np.asarray(sh.is_null())
            n_elems = vals64.shape[0] if vals64.ndim else 0
            sig_cols = []
            if n_elems == 0 or bool(empty.all()):
                sent = np.full(n_rows, P, dtype=np.int64)
                sig_cols = [pa.array(sent)] * K
            else:
                # the batch's own elements, folded to 32-bit registers
                # once per batch
                base, end = int(starts[0]), int(ends[-1])
                h = (
                    np.asarray(vals64[base:end], dtype=np.int64)
                    & np.int64((1 << 32) - 1)
                )
                n = end - base
                buf = np.empty_like(h)
                # one sentinel P past the end: a trailing empty row's
                # start (== n) stays a valid reduceat index, and the
                # last segment ends at the sentinel, which never wins
                # a min. Empty rows read garbage and are patched below
                tmp = np.empty(n + 1, dtype=np.int64)
                tmp[n] = P
                perm = tmp[:n]
                for k in range(K):
                    np.multiply(h, A[k], out=buf)
                    buf += B[k]
                    # branchless Mersenne fold == pmod(buf, P) for
                    # 0 <= buf < 2^63 (see docstring)
                    np.bitwise_and(buf, P, out=perm)
                    buf >>= np.int64(61)
                    perm += buf
                    perm -= np.where(perm >= P, np.int64(P), np.int64(0))
                    mins = np.minimum.reduceat(tmp, starts - base)
                    if empty.any():
                        mins[empty] = P
                    sig_cols.append(pa.array(mins))
            yield pa.RecordBatch.from_arrays(
                [rb.column(i) for i in range(rb.num_columns)] + sig_cols,
                names=list(rb.schema.names) + [f"_h{k}" for k in range(K)],
            )

    return hdf.mapInArrow(kernel, out_schema)


def _hashed_shingles_from_tokens(
    toks: Column, n: int, seed: int | None = None
) -> Column:
    """Distinct 64-bit shingle hashes over an already-tokenized
    ``array<string>`` column: xxhash64 hashes each token slice (an array
    column) in place, WITHOUT materializing shingle strings — building
    the joined n-gram strings (~shingle-count string allocations per
    document) was the dominant cost of the signature stage.

    ``toks`` must be a materialized column (its own projection), not an
    inline ``tokens(text)`` expression: the per-index lambda references
    it once per shingle, and higher-order-function lambdas evaluate
    outside codegen CSE, so an inline split() is re-run for EVERY index
    — O(m·len) per doc. Tokenization matches
    :func:`mlx_vector_db_spark.functions.text.shingles` (short texts
    yield their whole token sequence as one shingle)."""
    k = F.lit(int(n))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        (lambda i: F.xxhash64(F.slice(toks, i + 1, k)))
        if seed is None
        else (lambda i: F.xxhash64(F.slice(toks, i + 1, k), F.lit(seed))),
    )
    return F.array_distinct(
        F.when(F.size(toks) == 0, F.array().cast("array<bigint>")).otherwise(grams)
    )


def _hashed_shingles(col: Column | str, n: int, seed: int | None = None) -> Column:
    """Expression form of :func:`_hashed_shingles_from_tokens` —
    tokenizes inline (pays the per-index re-split; fine for the
    tiny-input expression APIs, wrong for corpus-scale operators)."""
    return _hashed_shingles_from_tokens(tokens(col), n, seed)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical documents by canonical fingerprint.

    Output: ``fingerprint, n_copies, keeper_id`` (min id wins —
    deterministic). Filtering the corpus to keepers is then a semi-join
    on (fingerprint, keeper_id).
    """
    return (
        df.select(
            doc_fingerprint(text_col).alias("fingerprint"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("_id").alias("keeper_id"),
        )
    )


def minhash_signature(
    text_col: str | Column,
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> Column:
    """MinHash signature as an ``array<bigint>`` column expression.

    Each hash function k is ``min over shingles of (a_k * h(shingle) +
    b_k) mod P`` where h is one shared 32-bit base hash — all JVM
    built-ins, no Python worker.

    Expression-form caveat: the K ``array_min`` lambdas each reference
    the inline shingle subtree, which HOF evaluation re-derives per
    hash function (~K-fold re-tokenization — fine for single rows /
    tiny inputs, wrong for a corpus). :func:`minhash_lsh_pairs`
    computes the same signatures map-only over a MATERIALIZED
    shingle-hash array; use that shape for anything at scale.
    """
    a, b = _minhash_coeffs(num_hashes, seed)
    hashed = F.transform(_hashed_shingles(text_col, shingle_n), _fold32)

    def min_hash_k(k: int) -> Column:
        # real closure: a default-arg lambda would change the lambda's
        # arity and PySpark would bind the element index to it
        return F.coalesce(
            F.array_min(
                F.transform(
                    hashed,
                    lambda h: F.pmod(
                        h * F.lit(a[k]) + F.lit(b[k]), F.lit(_MERSENNE_P)
                    ),
                )
            ),
            F.lit(_MERSENNE_P),  # empty text -> sentinel signature
        )

    return F.array(*[min_hash_k(k) for k in range(num_hashes)])


#: "auto" hot-key-cap rule (r7, distribution-derived): the cap is the
#: FAN-OUT-BUDGET KNEE of the key document-frequency distribution —
#: the largest DF value ``f`` such that the candidate pairs contributed
#: by every key of DF <= f, ``sum over f' in [2, f] of
#: cnt(f') * f'*(f'-1)/2``, stays within ``PAIR_BUDGET * n_docs`` —
#: clamped to [MIN, MAX]. This replaces the r6 proportional rule
#: ``ceil(n_docs / 200)``, which collapsed to the uncapped quadratic
#: tier on replica-family corpora: when duplicate-cluster size ALSO
#: grows with the corpus (the sf-scaling bench corpus; real-world
#: replica crawls), a cap proportional to n_docs widens exactly in
#: step with the clusters and the self-join fan-out goes quadratic
#: again (measured: heap exhaustion at sf10 pre-ceiling; excluded from
#: the sf10 subset post-ceiling). The budget rule bounds the
#: self-join's candidate-pair mass at ``PAIR_BUDGET * n_docs`` BY
#: CONSTRUCTION — linear in corpus size no matter how adversarial the
#: DF distribution — while on benign (hapax-dominated) corpora the
#: cumulative mass never reaches the budget, the knee sits at the max
#: OBSERVED DF, and nothing at all is dropped. The default budget of 128
#: candidate pairs per document admits duplicate families up to
#: ~sqrt(2*128) = 16 replicas (a family of F docs inherently costs
#: F*(F-1)/2 pairs per shared shingle — the OUTPUT is quadratic in F,
#: so any pair-emitting operator must budget for it); corpora with
#: larger replica clusters raise ``pair_budget`` explicitly. Integer
#: arithmetic throughout (f*(f-1) is always even, so the /2 is exact)
#: keeps the rule bit-mirrorable in a relational oracle.
JACCARD_AUTOCAP_MIN = 4
JACCARD_AUTOCAP_MAX = 1024
JACCARD_AUTOCAP_PAIR_BUDGET = 128


def fanout_autocap(
    dfreq: DataFrame,
    n_rows: int,
    pair_budget: int = JACCARD_AUTOCAP_PAIR_BUDGET,
    df_col: str = "_df",
) -> int:
    """Derive the "auto" hot-key cap from a key document-frequency
    table: the largest DF value ``f`` whose cumulative candidate-pair
    mass ``sum over f' in [2, f] of cnt(f') * f'*(f'-1)/2`` is within
    ``pair_budget * n_rows``, clamped to
    [``JACCARD_AUTOCAP_MIN``, ``JACCARD_AUTOCAP_MAX``].

    ``dfreq`` is one row per key with its document frequency in
    ``df_col`` (the aggregate both callers already build for the
    kept-band filter, so the derivation adds no new corpus pass). The
    DF histogram this aggregates to is tiny — at most one row per
    distinct DF value, bounded by the hottest key's DF — so the
    single-partition window cumsum and the 1-row max() collect are
    driver-negligible by construction.
    """
    budget = int(pair_budget) * int(n_rows)
    hist = (
        dfreq.where(F.col(df_col) >= 2)
        .groupBy(F.col(df_col).alias("_f"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    w = Window.orderBy("_f").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn(
        "_cum",
        F.sum(F.col("_cnt") * F.expr("_f * (_f - 1) DIV 2")).over(w),
    )
    row = cum.where(F.col("_cum") <= F.lit(budget)).agg(F.max("_f")).first()
    best = row[0] if row is not None else None
    if best is None:
        best = JACCARD_AUTOCAP_MIN
    return min(JACCARD_AUTOCAP_MAX, max(JACCARD_AUTOCAP_MIN, int(best)))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | str | None = None,
    sketch_prefilter: float | str | None = "auto",
    autocap_pair_budget: int = JACCARD_AUTOCAP_PAIR_BUDGET,
    sig_kernel: str = "numpy",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    Plan shape (the 100 TB shape):
      1. signature: narrow projection, no shuffle;
      2. explode to ``bands`` rows/doc, hash each band slice;
      3. self-join on (band, band_hash) with ``id < id``  — candidate
         generation; only same-bucket rows meet, so the shuffle key is
         the bucket, never the corpus;
      4. sketch pre-filter: estimate each candidate's Jaccard from the
         64-int signatures already in hand and drop candidates whose
         estimate is hopeless BEFORE the shingle-set join;
      5. exact Jaccard on distinct shingle sets for survivors only.

    ``sketch_prefilter`` is step 4's cutoff on the signature-estimated
    Jaccard (matching-minhash fraction — unbiased, σ = √(j(1-j)/K)).
    ``"auto"`` uses ``threshold - 3·(1/(2√num_hashes))`` (three
    worst-case sigmas below the verify threshold, ≈ threshold - 0.19
    at K=64), which prunes essentially nothing among true pairs
    (one-sided ≤3σ, <0.2% per pair on top of banding's own miss rate)
    while killing the borderline-similarity candidate mass that
    banding admits at ~j^rows per band. That mass is what blows up at
    scale: template/replica FAMILIES of F mutually-borderline docs
    emit O(F²·j^rows) candidates — measured 40x wall growth at 10x
    corpus on the sf100 checkpoint corpus (family size 1000) with the
    verify join eating it; the sketch filter restores ~true-pair-count
    verify input using arrays ~10x narrower than the shingle sets.
    ``None`` disables (audit form: verify everything banding admits).

    .. note:: **Default changed in r6** from ``None`` to ``"auto"``:
       out of the box this operator now PRUNES banding candidates by
       signature estimate before exact verify, so true pairs right at
       the threshold carry a one-sided ≤3σ (<0.2% per pair at K=64)
       extra miss risk on top of banding's own miss rate. Byte-exact
       r5 behavior (exactly verify every banding candidate) is
       ``sketch_prefilter=None``.

    Output: ``id_a, id_b, jaccard`` with ``jaccard >= threshold``.

    ``max_bucket_size`` caps degenerate LSH buckets: an adversarial (or
    just boilerplate-heavy) corpus can put B docs in one (band, hash)
    bucket, and the self-join then emits B² candidate rows — at 100 TB a
    single hot bucket is an OOM-sized straggler task. Buckets above the
    cap are dropped *before* the join, bounding per-bucket fan-out at
    max_bucket_size²; a pair sharing a dropped bucket is still found
    through any of its other ``bands-1`` bands, so recall degrades
    gracefully rather than the job dying. ``"auto"`` (r7) derives the
    cap from the BUCKET-SIZE distribution with the shared
    fan-out-budget knee (:func:`fanout_autocap`): total banding
    candidate pairs bounded at ``autocap_pair_budget`` (default 128)
    per document by construction — the same self-calibration as
    :func:`jaccard_pairs`' ``max_shingle_freq="auto"``, keyed on
    bucket sizes instead of shingle DF.

    Precondition: ``id_col`` values must be UNIQUE (it is the document
    key). A duplicated id yields one signature row per occurrence, and
    the verify joins then fan each of its candidate pairs out once per
    occurrence — exact-dedup or drop duplicate ids first (the r3
    explode+groupBy form silently merged duplicate ids' shingle sets
    instead, which was no more correct, just quieter).
    """
    if num_hashes % bands != 0:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    rows_per_band = num_hashes // bands

    # MAP-ONLY signatures: all K minhashes are array_min over transforms
    # of the per-doc shingle-hash array — no explode, no groupBy, so the
    # (doc, shingle) rows NEVER shuffle (the r3 explode + K-min-agg form
    # shuffled every shingle hash of the corpus; at 100 TB that shuffle
    # was the stage's cost — measured 2x even at sf0.1). The trick that
    # makes this viable is materializing the shingle and folded arrays
    # in their own projections first: HOF lambdas evaluate outside
    # codegen CSE, so the naive expression form (minhash_signature)
    # re-derives the shingle subtree K times, ~60x slower. The same
    # materialized 64-bit array feeds the exact-verify stage, so the
    # corpus is tokenized + hashed ONCE; the folded 32-bit registers
    # exist only inside the min expressions and emitted jaccards are
    # bit-identical to the aggregate form.
    a, b = _minhash_coeffs(num_hashes, seed)
    base = rebalance_for_compute(
        df, id_col, text_col, split_bytes=HEAVY_KERNEL_SPLIT_BYTES
    )
    # tokens in their own projection: the shingle lambda slices the
    # token array per index, and an inline split() would re-run per
    # shingle (HOF lambdas evaluate outside codegen CSE)
    tokd = base.select(F.col(id_col).alias("_id"), tokens(text_col).alias("_toks"))
    hdf = tokd.select(
        "_id", _hashed_shingles_from_tokens(F.col("_toks"), shingle_n).alias("_sh")
    )
    if sig_kernel not in ("numpy", "expr"):
        raise ValueError(f"unknown sig_kernel {sig_kernel!r}")
    if sig_kernel == "numpy":
        # vectorized K-permutation min (bit-identical — see
        # _signature_numpy; parity pinned by
        # test_minhash_numpy_kernel_parity). r14 quiet A/B at sf1:
        # the signature stage's 5-6.7 interpreted cpu-s collapse to a
        # numpy memory-bandwidth sweep.
        sig = _signature_numpy(hdf, num_hashes, a, b)
    else:
        fdf = hdf.select(
            "_id", "_sh", F.transform("_sh", lambda h: _fold32(h)).alias("_f")
        )

        # K nested-HOF signature columns built as ONE JVM-parsed
        # selectExpr instead of K py4j Column trees: semantically
        # identical (parity pinned by test_minhash_selectexpr_parity),
        # but the Column form cost ~3.3s of pure DRIVER time per
        # invocation at K=128 (~10 py4j round-trips per function x 128
        # — measured r13: 3.81s Column build vs 0.53s selectExpr
        # parse). The empty-array coalesce keeps the sentinel signature
        # for empty texts.
        p = _MERSENNE_P
        sig_exprs = [
            f"coalesce(array_min(transform(_f, h -> "
            f"pmod(h * {a[k]}L + {b[k]}L, {p}L))), {p}L) AS _h{k}"
            for k in range(num_hashes)
        ]
        sig = fdf.selectExpr("_id", "_sh", *sig_exprs)
    # materialize once, lineage-truncated: banding reads it, and the
    # verify joins read it twice more. A lazy localCheckpoint (not
    # persist) so the blocks are context-cleaned when the frame goes out
    # of scope instead of pinning executor storage for the session.
    sig = sig.localCheckpoint(eager=False)
    # band hashes as one JVM-parsed expression (same py4j-round-trip
    # economics as the signature block above; values unchanged)
    band_elems = ", ".join(
        "xxhash64(concat_ws(',', "
        + ", ".join(
            f"cast(_h{b * rows_per_band + j} as string)"
            for j in range(rows_per_band)
        )
        + "))"
        for b in range(bands)
    )
    banded = sig.selectExpr(
        "_id", f"posexplode(array({band_elems})) AS (band, band_hash)"
    )
    if isinstance(max_bucket_size, str):
        if max_bucket_size != "auto":
            raise ValueError(
                f"max_bucket_size must be an int, None, or 'auto' "
                f"(got {max_bucket_size!r})"
            )
        # self-calibrating cap (r7): the fan-out-budget knee of the
        # BUCKET-SIZE distribution — same rule, same rationale, same
        # bound as jaccard_pairs' "auto" shingle cap: total banding
        # candidate pairs <= autocap_pair_budget * n_docs by
        # construction, replica families up to ~sqrt(2*budget) kept
        sizes = banded.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).alias("_df")
        )
        max_bucket_size = fanout_autocap(
            sizes, df.count(), autocap_pair_budget
        )
    if max_bucket_size is not None:
        # count shares the join's (band, band_hash) clustering, so the
        # window adds no extra shuffle beyond what the self-join needs
        bucket_w = Window.partitionBy("band", "band_hash")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(bucket_w))
            .where(F.col("_bsz") <= F.lit(int(max_bucket_size)))
            .drop("_bsz")
        )
    # candidate ids only — the (possibly large) text joins back once per
    # candidate pair, not once per (doc, band)
    left = banded.select("band", "band_hash", F.col("_id").alias("id_a"))
    right = banded.select("band", "band_hash", F.col("_id").alias("id_b"))
    cand = (
        left.join(right, on=["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if sketch_prefilter is not None:
        if isinstance(sketch_prefilter, str):
            if sketch_prefilter != "auto":
                raise ValueError(
                    f"sketch_prefilter must be a float, None, or 'auto' "
                    f"(got {sketch_prefilter!r})"
                )
            import math

            sketch_prefilter = max(
                0.0, threshold - 1.5 / math.sqrt(num_hashes)
            )
        sigarr = sig.selectExpr(
            "_id",
            "array(" + ", ".join(f"_h{k}" for k in range(num_hashes)) + ") AS _sig",
        )
        cand = (
            cand.join(
                sigarr.select(F.col("_id").alias("id_a"), F.col("_sig").alias("_sa")),
                on="id_a",
            )
            .join(
                sigarr.select(F.col("_id").alias("id_b"), F.col("_sig").alias("_sb")),
                on="id_b",
            )
        )
        est_matches = F.size(
            F.filter(
                F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
                lambda v: v,
            )
        )
        cand = cand.where(
            est_matches >= F.lit(float(sketch_prefilter) * num_hashes)
        ).select("id_a", "id_b")
    # exact verify over hashed shingle sets: integer array_intersect /
    # array_union, identical Jaccard up to 64-bit hash collisions (the
    # string-set variant with a DuckDB oracle lives in jaccard_pairs).
    # The sets come from the checkpointed aggregate above — no second
    # pass over the text.
    sh = sig.select(F.col("_id").alias("_sid"), "_sh")
    cand = (
        cand.join(sh.select(F.col("_sid").alias("id_a"), F.col("_sh").alias("sh_a")), on="id_a")
        .join(sh.select(F.col("_sid").alias("id_b"), F.col("_sh").alias("sh_b")), on="id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    return (
        cand.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jaccard")
    )


def _apply_keeper(
    df: DataFrame, pairs: DataFrame, id_col: str, keeper: str
) -> DataFrame:
    """The ONE survivor-rule dispatcher both dedup twins share.

    - ``"component"``: transitive clusters via
      :func:`~mlx_vector_db_spark.operators.components.connected_components`
      — one min-id survivor per connected component. This is the correct
      corpus rule: with pairs (A,C) and (B,C) but no (A,B), all three are
      one group and only min(A,B,C) survives. Costs the component loop's
      few extra label-propagation shuffles over the (tiny) pair graph.
    - ``"pairwise"``: drop ``id_b`` of every pair — one pass, no
      iteration, but keeps any non-min node that only ever appeared as
      ``id_a`` (B above survives), so clusters can retain >1 member.
      Useful as the cheap first pass when pairs are known to be cliques
      (e.g. exact-dup groups).
    """
    if keeper == "component":
        from mlx_vector_db_spark.operators.components import dedup_keepers

        return dedup_keepers(df, pairs, id_col=id_col)
    if keeper == "pairwise":
        doomed = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(doomed, on=id_col, how="left_anti")
    raise ValueError(f"keeper must be 'component' or 'pairwise' (got {keeper!r})")


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keeper: str = "component",
    **kwargs,
) -> DataFrame:
    """Corpus minus near-duplicates. ``keeper`` picks the survivor rule
    applied to the near-dup pair graph — see :func:`_apply_keeper` for
    the ``"component"`` (default) vs ``"pairwise"`` semantics."""
    pairs = minhash_lsh_pairs(df, text_col=text_col, id_col=id_col, **kwargs)
    return _apply_keeper(df, pairs, id_col, keeper)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keeper: str = "component",
    **kwargs,
) -> DataFrame:
    """Corpus minus SimHash near-duplicates — the :func:`minhash_dedup`
    twin over Hamming-banded pairs (:func:`simhash_pairs` takes the
    ``max_hamming``/``shingle_n``/``seed``/``max_bucket_size`` kwargs).
    Keeper rules shared via :func:`_apply_keeper`."""
    pairs = simhash_pairs(df, text_col=text_col, id_col=id_col, **kwargs)
    return _apply_keeper(df, pairs, id_col, keeper)


def simhash(text_col: str | Column, shingle_n: int = 2, seed: int = 7) -> Column:
    """64-bit SimHash as a bigint column expression.

    Each shingle votes +1/-1 per bit of its xxhash64; the sign of each
    bit-sum forms the fingerprint. Implemented as a per-bit aggregate
    over the shingle array — pure JVM expressions.
    """
    hashed = _hashed_shingles(text_col, shingle_n, seed=seed)

    def bit_value(bit: int) -> Column:
        vote = F.aggregate(
            hashed,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        # bit 63 is the long's sign bit: setting it adds -2^63 in two's
        # complement (1 << 63 itself doesn't fit a JVM long literal)
        weight = -(1 << 63) if bit == 63 else (1 << bit)
        return F.when(vote > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    bits = [bit_value(bit) for bit in range(64)]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (popcount of XOR)."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    seed: int = 7,
) -> DataFrame:
    """SimHash fingerprints as (_id, _fp) — MAP-ONLY: 64 per-bit vote
    ``aggregate`` passes over the materialized per-doc shingle-hash
    array, so the (doc, shingle) rows never shuffle (the r3 form
    exploded them into a 64-sum groupBy — a corpus-wide shuffle whose
    only purpose was re-associating shingles with their own doc). The
    :func:`simhash` expression form recomputes the shingle subtree per
    bit and is only sensible for tiny inputs. ``id_col`` must be unique
    (a duplicated id yields one fingerprint row per occurrence — see
    the precondition note on :func:`minhash_lsh_pairs`)."""
    hdf = (
        rebalance_for_compute(
            df, id_col, text_col, split_bytes=HEAVY_KERNEL_SPLIT_BYTES
        )
        # materialized token projection — see _hashed_shingles_from_tokens
        .select(F.col(id_col).alias("_id"), tokens(text_col).alias("_toks"))
        .select(
            "_id",
            _hashed_shingles_from_tokens(
                F.col("_toks"), shingle_n, seed=seed
            ).alias("_sh"),
        )
    )

    def vote(bit: int) -> Column:
        def step(acc: Column, h: Column) -> Column:
            return acc + F.when(
                F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return F.aggregate(F.col("_sh"), F.lit(0), step)

    fp = None
    for bit in range(64):
        weight = -(1 << 63) if bit == 63 else (1 << bit)
        # empty docs: zero votes -> bit unset -> fp = 0, matching the
        # exploded form (NULL shingle voted -1 on every bit there)
        term = F.when(vote(bit) > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return hdf.select("_id", fp.alias("_fp"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 2,
    seed: int = 7,
    max_bucket_size: int | str | None = None,
    signatures: DataFrame | None = None,
    autocap_pair_budget: int = JACCARD_AUTOCAP_PAIR_BUDGET,
) -> DataFrame:
    """SimHash near-dup pairs with banded blocking.

    Pigeonhole: two fingerprints within Hamming distance d agree exactly
    on at least one of d+1 disjoint bit bands, so candidates are a
    self-equi-join per band — never a cross join.
    Output: ``id_a, id_b, hamming`` (<= max_hamming).

    ``max_bucket_size`` drops oversized (band, band_key) buckets before
    the self-join (e.g. all empty/boilerplate docs share fingerprint 0
    and land in every band's same bucket — B² blowup); see
    minhash_lsh_pairs for the rationale. Unlike MinHash, a dropped
    SimHash bucket *can* lose pairs whose only agreeing band it was —
    the cap trades bounded worst-case cost for that recall edge.
    ``"auto"`` derives the cap from the bucket-size distribution with
    the shared fan-out-budget knee (:func:`fanout_autocap`, bounded at
    ``autocap_pair_budget`` candidate pairs per document).
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands
    # callers that also consume the fingerprints (gates, audits) pass a
    # precomputed/checkpointed (_id, _fp) frame to avoid recomputing the
    # signature projection per consumer
    fp = (
        signatures
        if signatures is not None
        else simhash_signatures(df, text_col, id_col, shingle_n, seed)
    )
    bands = fp.select(
        "_id",
        "_fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_fp"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    if isinstance(max_bucket_size, str):
        if max_bucket_size != "auto":
            raise ValueError(
                f"max_bucket_size must be an int, None, or 'auto' "
                f"(got {max_bucket_size!r})"
            )
        sizes = bands.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("_df")
        )
        max_bucket_size = fanout_autocap(sizes, df.count(), autocap_pair_budget)
    if max_bucket_size is not None:
        bucket_w = Window.partitionBy("band", "band_key")
        bands = (
            bands.withColumn("_bsz", F.count(F.lit(1)).over(bucket_w))
            .where(F.col("_bsz") <= F.lit(int(max_bucket_size)))
            .drop("_bsz")
        )
    left = bands.select("band", "band_key", F.col("_id").alias("id_a"), F.col("_fp").alias("fp_a"))
    right = bands.select("band", "band_key", F.col("_id").alias("id_b"), F.col("_fp").alias("fp_b"))
    return (
        left.join(right, on=["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("fp_a"), F.col("fp_b")))
        .where(F.col("hamming") <= F.lit(int(max_hamming)))
        .select("id_a", "id_b", "hamming")
    )



def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | str | None = None,
    autocap_pair_budget: int = JACCARD_AUTOCAP_PAIR_BUDGET,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (all-pairs within ``block_col`` groups,
    or global when None), j >= ``threshold``.

    For ``threshold > 0`` the plan is the relational set-intersection:
    explode shingles, equi-join on the shingle value (+ block), count
    intersections per pair, derive the union from per-doc set sizes —
    only pairs sharing at least one shingle ever meet, which is exactly
    the j > 0 pairs, so results are identical to the naive quadratic
    scan while the shuffle key is the shingle, never the corpus. This
    makes EXACT Jaccard scale-shaped too.

    ``max_shingle_freq`` caps the one remaining 100x failure mode: a hot
    shingle shared by f documents (site boilerplate, license headers)
    contributes f² join rows — one straggler task at corpus scale.
    Shingles whose document frequency (within the block, when blocked)
    exceeds the cap are dropped *before* the self-join, bounding
    per-shingle fan-out at max_shingle_freq², exactly the
    ``max_bucket_size`` contract on :func:`minhash_lsh_pairs`. Recall
    then degrades gracefully instead of the job dying: a pair is still
    found through any surviving shared shingle, and because per-doc set
    sizes stay UNCAPPED the reported jaccard for a pair that shared a
    dropped shingle is an under-estimate — capped output is always a
    SUBSET of uncapped output (threshold precision is never hurt; pairs
    whose every shared shingle is hot are missed, like a dropped LSH
    bucket). The frequency count shares the join's shingle clustering,
    so the cap adds no extra shuffle.

    ``max_shingle_freq="auto"`` derives the cap from the SHINGLE-DF
    DISTRIBUTION itself (:func:`fanout_autocap`): the largest DF value
    whose cumulative candidate-pair mass stays within
    ``autocap_pair_budget`` pairs per document, clamped to [4, 1024].
    This is the self-calibrating form that survives BOTH failure
    regimes measured in SCALE.md: a fixed cap=4 zeroed recall at 10x
    the corpus (every shingle's DF grows with corpus size on a
    small-vocabulary corpus), and the r6 proportional rule
    ``ceil(n_docs/200)`` went quadratic on replica-family corpora
    (cluster size grows with n, so a cap proportional to n never
    excludes the clusters' own fan-out — measured heap exhaustion at
    sf10). The budget rule bounds the self-join's total candidate
    pairs at ``autocap_pair_budget * n_docs`` by construction — linear
    at any scale — while admitting duplicate families up to
    ``~sqrt(2 * autocap_pair_budget)`` replicas (16 at the default
    128; a family of F docs inherently emits F*(F-1)/2 pairs, so
    corpora with larger replica clusters must raise the budget to keep
    them joinable). Costs one count() of ``df`` plus a driver-
    negligible 1-row aggregate over the DF histogram the kept-band
    filter already builds.

    ``threshold <= 0`` keeps the literal all-pairs form (a zero-overlap
    pair has j = 0.0 and must be emitted) — audit scale only;
    ``max_shingle_freq`` is ignored there (no shingle join exists).

    Precondition: ``id_col`` values must be UNIQUE (it is the document
    key). A duplicated id yields one shingle-set row per occurrence; in
    the relational path the intersection count then double-counts every
    shared shingle and the two size joins fan each pair out once per
    occurrence — duplicated output rows with WRONG jaccard values (the
    quadratic path merely duplicates rows). Exact-dedup or drop
    duplicate ids first, as with :func:`minhash_lsh_pairs`.

    NULL ``text_col`` rows are treated as EMPTY documents (shingle set
    coalesced to []): they pair at 1.0 with other empty/NULL docs and
    with nothing else, in BOTH paths. (Without the coalesce, the
    quadratic form's NULL set propagates through array_union into a
    NULL union, pairing a NULL doc with EVERYTHING at 1.0, while the
    relational form pairs it with nothing — both wrong, and divergent.)
    """
    from mlx_vector_db_spark.functions.text import shingles_from_tokens

    blk = [block_col] if block_col else []
    base = (
        rebalance_for_compute(
            df, id_col, text_col, *blk, split_bytes=HEAVY_KERNEL_SPLIT_BYTES
        )
        # materialized token projection — see _hashed_shingles_from_tokens
        .select(
            F.col(id_col).alias("_id"),
            # NULL text -> empty token array (the empty-doc rule); an
            # un-coalesced NULL flows into a [NULL] shingle set
            F.coalesce(
                tokens(text_col), F.array().cast("array<string>")
            ).alias("_toks"),
            *([F.col(block_col).alias("_blk")] if block_col else []),
        )
        .select(
            "_id",
            shingles_from_tokens(F.col("_toks"), shingle_n).alias("_sh"),
            *(["_blk"] if block_col else []),
        )
    )
    bcols = ["_blk"] if block_col else []
    auto_cap = False
    if isinstance(max_shingle_freq, str):
        if max_shingle_freq != "auto":
            raise ValueError(
                f"max_shingle_freq must be an int, None, or 'auto' "
                f"(got {max_shingle_freq!r})"
            )
        auto_cap = True
        max_shingle_freq = None
    if threshold > 0:
        # shingle sets are reused by the exploded join side AND the two
        # size joins; truncate lineage so tokenization runs once
        base = base.localCheckpoint(eager=False)
        g = base.select("_id", *bcols, F.explode("_sh").alias("_tok"))
        if auto_cap or max_shingle_freq is not None:
            # doc-frequency filter BEFORE the self-join, as a semi-join
            # against the aggregated KEPT band 2 <= df <= cap rather
            # than a window count over every (doc, shingle) row: the
            # aggregate map-side combines to (shingle, df) — shuffle
            # volume is distinct-shingles-per-partition, not the corpus.
            # The df >= 2 bound is free extra pruning with ZERO output
            # change: a df-1 shingle meets only itself in the self-join
            # and id_a < id_b discards that row — but on a Zipf corpus
            # hapax shingles are the MAJORITY of g's rows, and at the
            # sf100 checkpoint dropping them ahead of the self-join is
            # the difference between shuffling the corpus' full shingle
            # explosion twice and shuffling only the mid-frequency band
            # that can actually produce pairs. (The previous anti-join
            # against the df > cap hot list kept every hapax row; its
            # "tiny hot list" assumption also inverts on replica-family
            # corpora, where most non-hapax shingles exceed the cap.)
            dfreq = g.groupBy("_tok", *bcols).agg(
                F.count(F.lit(1)).alias("_df")
            )
            if auto_cap:
                # the cap derivation reads the same DF aggregate the
                # kept band filters — materialize it once for both.
                # (r14: an IN-PLAN variant deriving the knee as a 1-row
                # broadcast — removing both eager driver jobs — was
                # built, oracle-verified, and A/B'd at sf0.1 and sf1:
                # par to slightly SLOWER both scales. AQE already
                # overlaps the eager cap jobs; the broadcast build of
                # the histogram/window subtree lands on the kept
                # filter's critical path instead. Reverted.)
                dfreq = dfreq.localCheckpoint(eager=False)
                max_shingle_freq = fanout_autocap(
                    dfreq, df.count(), autocap_pair_budget
                )
            kept = (
                dfreq.where(
                    (F.col("_df") >= F.lit(2))
                    & (F.col("_df") <= F.lit(int(max_shingle_freq)))
                )
                .select("_tok", *bcols)
                # checkpoint so BOTH self-join sides read one
                # materialized list instead of re-aggregating per side
                .localCheckpoint(eager=False)
            )
            g = g.join(kept, on=["_tok", *bcols], how="left_semi")
        inter = (
            g.select(F.col("_id").alias("id_a"), *bcols, "_tok")
            .join(
                g.select(F.col("_id").alias("id_b"), *bcols, "_tok"),
                on=["_tok", *bcols],
            )
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("double").alias("_inter"))
        )
        sz = base.select(F.col("_id"), F.size("_sh").cast("double").alias("_n"))
        nonempty = (
            inter.join(sz.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), on="id_a")
            .join(sz.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), on="id_b")
            .withColumn("jaccard", F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")))
            .where(F.col("jaccard") >= F.lit(float(threshold)))
            .select("id_a", "id_b", "jaccard")
        )
        # empty-empty pairs: J(∅, ∅) is defined as 1.0 here (two empty
        # texts ARE duplicates) but no shingle row exists to join them —
        # emit them from the (normally tiny) empty-doc slice. This IS a
        # degenerate all-pairs bucket: a corpus with millions of empty
        # docs should drop them (or exact_dedup them) first, exactly as
        # with any other boilerplate bucket.
        empties = base.where(F.size("_sh") == 0).select("_id", *bcols)
        ep = (
            empties.select(F.col("_id").alias("id_a"), *bcols)
            .join(empties.select(F.col("_id").alias("id_b"), *bcols), on=bcols or None, how="inner")
            if bcols
            else empties.select(F.col("_id").alias("id_a")).crossJoin(
                empties.select(F.col("_id").alias("id_b"))
            )
        )
        empty_pairs = ep.where(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b", F.lit(1.0).alias("jaccard")
        )
        return nonempty.unionByName(empty_pairs)
    on = bcols or None
    left = base.select(*bcols, F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    right = base.select(*bcols, F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    joined = left.join(right, on=on) if on else left.crossJoin(right)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jaccard")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bucket_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Without ``bucket_col``: exact all-pairs (self cross join) — correct
    at any size but O(N^2); fine for verification scale. With
    ``bucket_col`` (e.g. an LSH/IVF assignment from operators.ann): the
    join key is the bucket, which is the scale path — recall depends on
    the bucketer, so keep the exact variant as the audit oracle.
    Output: ``id_a, id_b, cosine`` (>= threshold).
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        *([F.col(bucket_col).alias("_blk")] if bucket_col else []),
    )
    on = ["_blk"] if bucket_col else None
    left = base.select(*(["_blk"] if bucket_col else []), F.col("_id").alias("id_a"), F.col("_vec").alias("vec_a"))
    right = base.select(*(["_blk"] if bucket_col else []), F.col("_id").alias("id_b"), F.col("_vec").alias("vec_b"))
    joined = left.join(right, on=on) if on else left.crossJoin(right)
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_similarity("vec_a", "vec_b"))
        .where(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cosine")
    )
