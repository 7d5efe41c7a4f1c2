"""Dedup suite vs pure-Python oracles: exact groups, MinHash-LSH recall +
precision (exact-verified), SimHash pigeonhole, Jaccard, embedding cosine.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from mlx_vector_db_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


def _mutate(text: str, n_edits: int, seed: int) -> str:
    rng = np.random.default_rng(seed)
    words = text.split()
    for _ in range(n_edits):
        i = int(rng.integers(0, len(words)))
        words[i] = f"w{int(rng.integers(0, 1000))}"
    return " ".join(words)


@pytest.fixture(scope="module")
def corpus():
    docs = []
    docs.append((0, BASE))
    docs.append((1, BASE))                      # exact dup of 0
    docs.append((2, _mutate(BASE, 2, 1)))       # near dup of 0
    docs.append((3, _mutate(BASE, 3, 2)))       # near dup of 0
    rng = np.random.default_rng(9)
    for i in range(4, 20):                      # unrelated docs
        docs.append((i, " ".join(f"tok{int(rng.integers(0, 5000))}" for _ in range(40))))
    return docs


@pytest.fixture(scope="module")
def corpus_df(spark, corpus):
    return spark.createDataFrame(corpus, "doc_id long, text string").cache()


def py_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        w = t.split()
        if len(w) < n:
            return {" ".join(w)} if w else set()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
    sa, sb = sh(a), sh(b)
    if not sa | sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(corpus_df):
    out = {r["fingerprint"]: r for r in D.exact_dedup(corpus_df).collect()}
    dup_groups = [r for r in out.values() if r["n_copies"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["n_copies"] == 2 and dup_groups[0]["keeper_id"] == 0
    assert sum(r["n_copies"] for r in out.values()) == 20


def test_minhash_pairs_recall_and_precision(corpus_df, corpus):
    got = D.minhash_lsh_pairs(corpus_df, threshold=0.5).collect()
    got_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got}
    texts = dict(corpus)
    true_pairs = {
        (a, b): py_jaccard(texts[a], texts[b])
        for a, b in itertools.combinations(sorted(texts), 2)
        if py_jaccard(texts[a], texts[b]) >= 0.5
    }
    # precision is exact (pairs are verify-filtered with true jaccard):
    for pair, j in got_pairs.items():
        assert j == pytest.approx(true_pairs[pair], abs=1e-9)
    # recall: high-similarity pairs must all be found at these params
    strong = {p for p, j in true_pairs.items() if j >= 0.7}
    assert strong <= set(got_pairs)


def test_minhash_dedup_removes_dupes(corpus_df):
    kept = D.minhash_dedup(corpus_df, threshold=0.5)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 in ids
    assert 1 not in ids            # exact dup dropped
    assert len(ids) < 20
    # unrelated docs survive
    assert set(range(4, 20)) <= ids


def test_minhash_dedup_chain_keeps_component_min(spark):
    """Transitive chain 1~3, 3~2 (but 1!~2): the component keeper must
    collapse all three to the single min id, while the greedy pairwise
    rule keeps 2 as well (it only ever appeared as a pair's id_a-side
    survivor) — the exact over-retention the component rule fixes."""
    toks = [f"t{i}" for i in range(1, 61)]
    a, mid, far = (
        " ".join(toks[0:40]),    # id 1
        " ".join(toks[8:48]),    # id 3: j(1,3)=j(2,3)=0.652 >= 0.5
        " ".join(toks[16:56]),   # id 2: j(1,2)=0.407 < 0.5
    )
    df = spark.createDataFrame(
        [(1, a), (2, far), (3, mid)], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    assert pairs == {(1, 3), (2, 3)}            # a chain, not a clique
    kept_comp = {
        r["doc_id"]
        for r in D.minhash_dedup(df, threshold=0.5, keeper="component").collect()
    }
    kept_pair = {
        r["doc_id"]
        for r in D.minhash_dedup(df, threshold=0.5, keeper="pairwise").collect()
    }
    assert kept_comp == {1}                     # min id of the component
    assert kept_pair == {1, 2}                  # greedy rule over-retains 2
    with pytest.raises(ValueError):
        D.minhash_dedup(df, keeper="nope")


def test_simhash_exact_dup_distance_zero(corpus_df):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             D.simhash_pairs(corpus_df, max_hamming=8).collect()}
    assert pairs[(0, 1)] == 0
    for (a, b), h in pairs.items():
        assert h <= 8


def test_jaccard_pairs_exact(corpus_df, corpus):
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           D.jaccard_pairs(corpus_df, threshold=0.3).collect()}
    texts = dict(corpus)
    exp = {
        (a, b): py_jaccard(texts[a], texts[b])
        for a, b in itertools.combinations(sorted(texts), 2)
        if py_jaccard(texts[a], texts[b]) >= 0.3
    }
    assert got.keys() == exp.keys()
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-9)


def test_embedding_neardup(spark):
    rng = np.random.default_rng(5)
    vecs = rng.random((30, 16)).astype(np.float32)
    vecs[7] = vecs[3]                     # identical
    vecs[9] = vecs[3] + 0.01 * rng.random(16).astype(np.float32)  # near
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in
           D.embedding_neardup_pairs(df, threshold=0.999).collect()}
    assert (3, 7) in got and got[(3, 7)] == pytest.approx(1.0, abs=1e-9)
    assert (3, 9) in got and (7, 9) in got
    # oracle: no other pair reaches 0.999
    v64 = vecs.astype(np.float64)
    n = v64 / np.linalg.norm(v64, axis=1, keepdims=True)
    S = n @ n.T
    exp = {
        (a, b)
        for a, b in itertools.combinations(range(30), 2)
        if S[a, b] >= 0.999
    }
    assert set(got) == exp


def test_minhash_max_bucket_size_caps_degenerate_buckets(spark):
    # 30 identical docs = one degenerate bucket per band (435 pairs);
    # plus one near-dup pair that lives in small buckets.
    clones = [(i, BASE) for i in range(30)]
    near = [(100, _mutate(BASE * 2, 2, 5)), (101, _mutate(BASE * 2, 2, 5))]
    rng = np.random.default_rng(11)
    other = [
        (200 + i, " ".join(f"tok{int(rng.integers(0, 5000))}" for _ in range(40)))
        for i in range(10)
    ]
    df = spark.createDataFrame(clones + near + other, "doc_id long, text string")

    uncapped = D.minhash_lsh_pairs(df, threshold=0.8)
    got_uncapped = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert (100, 101) in got_uncapped
    assert sum(1 for a, b in got_uncapped if a < 30 and b < 30) == 435

    capped = D.minhash_lsh_pairs(df, threshold=0.8, max_bucket_size=5)
    got_capped = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got_capped          # small buckets untouched
    assert not any(a < 30 and b < 30 for a, b in got_capped)  # blowup gone


def test_simhash_max_bucket_size(spark):
    clones = [(i, BASE) for i in range(20)]
    other = "completely different prose about ships and harbors " * 6
    near = [(100, other), (101, other)]
    df = spark.createDataFrame(clones + near, "doc_id long, text string")
    capped = D.simhash_pairs(df, max_hamming=3, max_bucket_size=4)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert not any(a < 20 and b < 20 for a, b in got)
    assert (100, 101) in got


def test_jaccard_pairs_relational_matches_quadratic(spark):
    """The threshold>0 relational set-intersection path must emit
    exactly the pairs the literal all-pairs form finds at the same
    threshold (filtering the threshold=0 audit form post-hoc)."""
    from mlx_vector_db_spark.operators.dedup import jaccard_pairs

    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),      # high overlap with 1
        (3, "p q r s t u v w"),      # disjoint
        (4, "a b c d e f g h"),      # identical to 1
        (5, ""),                      # empty text
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rel = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs(docs, threshold=0.4).collect()
    }
    quad = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs(docs, threshold=0.0).collect()
        if r["jaccard"] >= 0.4
    }
    assert rel == quad and (1, 4) in rel and rel[(1, 4)] == 1.0


def test_jaccard_pairs_empty_empty_pair(spark):
    """Two empty documents are duplicates (J(∅,∅) = 1.0) and must be
    emitted by BOTH the relational and the quadratic path."""
    from mlx_vector_db_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(1, ""), (2, "  "), (3, "a b c d")], "doc_id long, text string"
    )
    for thr in (0.5, 0.0):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(docs, threshold=thr).collect()
            if r["jaccard"] >= 0.5
        }
        assert got == {(1, 2): 1.0}, (thr, got)


def test_simhash_dedup_component_keeper(spark):
    """simhash_dedup with the component rule keeps exactly min-id per
    near-identical cluster (three docs differing by one rare token form
    one transitive cluster at max_hamming=3)."""
    from mlx_vector_db_spark.operators.dedup import simhash_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today "
    rows = [
        (10, base * 4),
        (11, base * 4 + "x"),
        (12, base * 4 + "y"),
        (50, "completely different content about spark shuffles and joins " * 4),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in simhash_dedup(docs, max_hamming=6).collect())
    assert kept == [10, 50]


def test_jaccard_pairs_null_text_is_empty_doc(spark):
    """NULL text behaves as an empty document in BOTH paths: it pairs
    at 1.0 with other empty/NULL docs and with nothing else (the
    quadratic form previously paired a NULL doc with EVERYTHING)."""
    from mlx_vector_db_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c d e")], "doc_id long, text string"
    )
    for thr in (0.5, 0.0):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(docs, threshold=thr).collect()
            if r["jaccard"] >= 0.5
        }
        assert got == {(1, 2): 1.0}, (thr, got)


def test_jaccard_pairs_paths_agree_on_random_corpus(spark):
    """Relational and quadratic paths must agree on a randomized corpus
    with a small vocabulary (heavy shingle sharing), empties, and
    varied lengths — one seeded corpus, one Spark job per path."""
    import numpy as np

    from mlx_vector_db_spark.operators.dedup import jaccard_pairs

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(40):
        n = int(rng.integers(0, 14))
        rows.append((i, " ".join(rng.choice(vocab, size=n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (0.3, 0.7):
        rel = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in jaccard_pairs(docs, threshold=thr).collect()
        }
        quad = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in jaccard_pairs(docs, threshold=0.0).collect()
            if r["jaccard"] >= thr
        }
        assert rel == quad, (thr, len(rel), len(quad))


def test_jaccard_pairs_max_shingle_freq_caps_boilerplate(spark):
    """A boilerplate shingle shared by 10x-median docs is dropped before
    the self-join: boilerplate-only pairs vanish (bounded fan-out) while
    pairs sharing non-hot shingles survive with UNCHANGED jaccard (per-doc
    set sizes stay uncapped)."""
    from mlx_vector_db_spark.operators.dedup import jaccard_pairs

    boiler = "copyright acme corp all rights reserved"
    rows = [(i, f"{boiler} u{i} v{i}") for i in range(20)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta theta x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs(docs, threshold=0.5, max_shingle_freq=5).collect()
    }
    # the hot shingles really did create pairs the cap must remove
    assert any(a < 20 and b < 20 for a, b in uncapped)
    # cap drops every boilerplate-only pair (their shared shingles all
    # have df=20 > 5) — bounded candidate fan-out
    assert not any(a < 20 and b < 20 for a, b in capped)
    # the genuine near-dup pair survives, value unchanged
    assert (100, 101) in capped
    assert capped[(100, 101)] == uncapped[(100, 101)]
    # graceful-degradation contract: capped results are a SUBSET
    assert set(capped) <= set(uncapped)
    # and never over-estimate: jaccard is a lower bound under the cap
    assert all(capped[p] <= uncapped[p] for p in capped)


def test_jaccard_pairs_capped_subset_randomized(spark):
    """Randomized parity: for any corpus and cap, capped pairs are a
    subset of uncapped pairs and capped jaccard never exceeds true."""
    from mlx_vector_db_spark.operators.dedup import jaccard_pairs

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(10)]
    rows = []
    for i in range(40):
        n = int(rng.integers(0, 12))
        rows.append((i, " ".join(rng.choice(vocab, size=n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in jaccard_pairs(docs, threshold=0.3).collect()
    }
    for cap in (2, 6):
        capped = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in jaccard_pairs(docs, threshold=0.3, max_shingle_freq=cap).collect()
        }
        assert set(capped) <= set(uncapped), cap
        assert all(capped[p] <= uncapped[p] for p in capped), cap


@pytest.mark.slow
def test_jaccard_cap_bounds_boilerplate_wall_time(spark):
    """Pathological boilerplate corpus: 3000 docs all sharing one
    header sentence (hot-shingle DF = 3000 -> ~9M join rows uncapped).
    The capped plan must finish fast and still find the genuine
    near-dup pair whose overlap is doc-specific."""
    import time

    from mlx_vector_db_spark.operators.dedup import jaccard_pairs

    boiler = "terms of service all rights reserved by the operator"
    rows = [(i, f"{boiler} u{i} v{i} w{i} x{i} y{i} z{i}") for i in range(3000)]
    rows += [
        (9000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (9001, "alpha beta gamma delta epsilon zeta eta theta iota kappa x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t0 = time.time()
    got = {(r["id_a"], r["id_b"]) for r in
           jaccard_pairs(df, threshold=0.5, max_shingle_freq=50).collect()}
    dt = time.time() - t0
    assert (9000, 9001) in got
    assert not any(a < 3000 and b < 3000 for a, b in got)
    assert dt < 60, f"capped boilerplate corpus took {dt:.0f}s"


def test_fanout_autocap_rule(spark):
    """The r7 self-calibrating cap is the fan-out-budget knee of the
    key-DF distribution: the largest DF value f whose cumulative
    candidate-pair mass sum(cnt(f') * f'*(f'-1)/2, f' in [2, f]) stays
    within pair_budget * n_rows, clamped to [4, 1024] — integral
    arithmetic throughout, so the DuckDB oracle's histogram/cumsum
    derivation is bit-identical."""
    from mlx_vector_db_spark.operators.dedup import fanout_autocap

    def dfreq_of(fs):
        return spark.createDataFrame([(i, f) for i, f in enumerate(fs)], "k long, _df long")

    # empty table / all-hapax: no f qualifies -> MIN clamp
    assert fanout_autocap(dfreq_of([]), 1000) == 4
    assert fanout_autocap(dfreq_of([1] * 50), 1000) == 4
    # benign corpus: total pair mass far under budget -> the knee sits
    # at the max OBSERVED DF (clamped up to MIN), i.e. nothing real is
    # dropped: 100 keys of DF 2 = 100 pairs <= 128*100
    assert fanout_autocap(dfreq_of([2] * 100), 100) == 4
    assert fanout_autocap(dfreq_of([2] * 50 + [9] * 10), 100) == 9
    # binding knee: n=10 -> budget 1280. 20 keys DF 5 (cum 200),
    # 30 keys DF 8 (cum 200+840=1040), 10 keys DF 20 (cum 2940 > 1280)
    fs = [5] * 20 + [8] * 30 + [20] * 10
    assert fanout_autocap(dfreq_of(fs), 10) == 8
    # even the first band over budget -> MIN clamp (never below 4)
    assert fanout_autocap(dfreq_of([2] * 100), 0) == 4
    # absolute ceiling: a within-budget DF past 1024 is still capped
    assert fanout_autocap(dfreq_of([2000]), 10**9) == 1024


def test_jaccard_pairs_auto_cap_binds_on_replica_families(spark):
    """max_shingle_freq='auto' derives the cap from the DF
    distribution: on a corpus of 10-replica families plus corpus-wide
    boilerplate, the knee lands exactly at the family size — families
    stay joinable (the r6 ceil(n/200) rule's blind spot was the
    reverse: replica growth widened the cap), boilerplate is dropped —
    and the output equals the explicitly-capped run. Rejects strings
    other than 'auto'."""
    import pytest as _pt

    from mlx_vector_db_spark.operators.dedup import jaccard_pairs

    # 20 families x 10 replicas: each family shares a distinctive
    # 12-word text (shingle DF = 10 inside the family); every doc also
    # carries the same boilerplate sentence (shingle DF = 200).
    boiler = "this content is licensed under the creative commons attribution"
    rows = []
    for fam in range(20):
        body = " ".join(f"fam{fam}tok{j}" for j in range(12))
        for rep in range(10):
            rows.append((fam * 10 + rep, body + " " + boiler))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # budget = 128*200 = 25600; family shingles (f=10) contribute
    # 45 pairs each (cum well under budget), boilerplate shingles
    # (f=200) contribute 19900 each (over budget) -> cap = 10
    auto = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in jaccard_pairs(docs, threshold=0.2, max_shingle_freq="auto").collect()
    }
    explicit = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in jaccard_pairs(docs, threshold=0.2, max_shingle_freq=10).collect()
    }
    assert auto == explicit
    # every within-family pair found (45 per family x 20 families)
    fam_pairs = {(a, b) for a, b, _ in auto if a // 10 == b // 10}
    assert len(fam_pairs) == 20 * 45
    # no cross-family pair: their only shared shingles are boilerplate,
    # dropped by the derived cap
    assert all(a // 10 == b // 10 for a, b, _ in auto)
    uncapped = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert {p[:2] for p in auto} <= {p[:2] for p in uncapped}
    with _pt.raises(ValueError, match="auto"):
        jaccard_pairs(docs, threshold=0.2, max_shingle_freq="automatic").collect()


def test_jaccard_pairs_auto_cap_benign_keeps_everything(spark):
    """On a benign (hapax-dominated, no replica families) corpus the
    knee rides the MAX clamp and 'auto' output equals UNCAPPED output
    — self-calibration never costs recall when there is nothing to
    protect against."""
    from mlx_vector_db_spark.operators.dedup import jaccard_pairs

    rng = __import__("numpy").random.default_rng(11)
    words = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(words, 12))) for i in range(60)],
        "doc_id long, text string",
    )
    auto = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in jaccard_pairs(docs, threshold=0.2, max_shingle_freq="auto").collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert auto == uncapped


def test_minhash_auto_bucket_cap_binds_on_boilerplate(spark):
    """max_bucket_size='auto' on the banding path: the budget knee
    derived from the BUCKET-SIZE distribution drops the corpus-wide
    boilerplate bucket (every doc bands identically on an
    all-same-text corpus slice) while identical-pair recall inside
    normal-size families survives via their own buckets; equals the
    explicitly-capped run and stays a subset of uncapped."""
    from mlx_vector_db_spark.operators.dedup import minhash_lsh_pairs

    rng = __import__("numpy").random.default_rng(5)
    words = [f"tok{i}" for i in range(400)]
    rows = []
    # 30 families x 4 replicas of distinctive text -> buckets of ~4
    for fam in range(30):
        body = " ".join(rng.choice(words, 20))
        for rep in range(4):
            rows.append((fam * 4 + rep, body))
    # 80 docs of identical boilerplate -> one bucket of 80 in EVERY band
    for i in range(80):
        rows.append((1000 + i, "all rights reserved please do not copy this page"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    auto = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, threshold=0.5, max_bucket_size="auto", sketch_prefilter=None
        ).collect()
    }
    # knee: family buckets (size 4, 6 pairs each) fit the 128*200
    # budget; the 80-doc boilerplate buckets (3160 pairs each x 16
    # bands) blow it -> cap lands in [4, 79]
    explicit = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, threshold=0.5, max_bucket_size=4, sketch_prefilter=None
        ).collect()
    }
    # family pairs all found in both (identical texts band identically)
    fams = {(a, b) for a, b in auto if a < 1000 and b < 1000}
    assert len(fams) == 30 * 6
    assert all(a // 4 == b // 4 for a, b in fams)
    # boilerplate's 80x79/2 pair clique is gone
    assert not any(a >= 1000 for a, _ in auto)
    assert auto == explicit
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, threshold=0.5, sketch_prefilter=None
        ).collect()
    }
    assert auto <= uncapped
    with __import__("pytest").raises(ValueError, match="auto"):
        minhash_lsh_pairs(docs, max_bucket_size="automatic").collect()


def test_simhash_auto_bucket_cap_matches_explicit(spark):
    """simhash_pairs max_bucket_size='auto': same knee, keyed on
    (band, band_key) bucket sizes; benign corpus -> auto == uncapped."""
    from mlx_vector_db_spark.operators.dedup import simhash_pairs

    rng = __import__("numpy").random.default_rng(9)
    words = [f"w{i}" for i in range(300)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(words, 15))) for i in range(80)],
        "doc_id long, text string",
    )
    auto = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, max_bucket_size="auto").collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs).collect()
    }
    assert auto == uncapped
    with __import__("pytest").raises(ValueError, match="auto"):
        simhash_pairs(docs, max_bucket_size="never").collect()


def test_minhash_selectexpr_parity(spark, corpus):
    """The r13 selectExpr rewrite of the signature/band columns must be
    bit-identical to the Column-API form (pmod universal hashing over
    folded shingle hashes) — pins the SQL-string semantics against the
    expression-API semantics it replaced."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    num_hashes, seed, shingle_n = 16, 42, 3
    a, b = D._minhash_coeffs(num_hashes, seed)
    p = D._MERSENNE_P

    # Column-API reference (the pre-r13 form)
    from mlx_vector_db_spark.functions.text import tokens

    base = df.select(F.col("doc_id"), tokens("text").alias("_toks"))
    hdf = base.select(
        "doc_id", D._hashed_shingles_from_tokens(F.col("_toks"), shingle_n).alias("_sh")
    )
    fdf = hdf.select(
        "doc_id", F.transform("_sh", lambda h: D._fold32(h)).alias("_f")
    )

    def min_hash_k(k):
        return F.coalesce(
            F.array_min(
                F.transform(
                    F.col("_f"),
                    lambda h: F.pmod(h * F.lit(a[k]) + F.lit(b[k]), F.lit(p)),
                )
            ),
            F.lit(p),
        ).alias(f"_h{k}")

    ref = fdf.select("doc_id", *[min_hash_k(k) for k in range(num_hashes)])

    # selectExpr form (what minhash_lsh_pairs builds)
    exprs = [
        f"coalesce(array_min(transform(_f, h -> "
        f"pmod(h * {a[k]}L + {b[k]}L, {p}L))), {p}L) AS _h{k}"
        for k in range(num_hashes)
    ]
    new = fdf.selectExpr("doc_id", *exprs)

    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, new.collect()))


def test_minhash_numpy_kernel_parity(spark, corpus):
    """The r14 numpy mapInArrow signature kernel must be bit-identical
    to the JVM selectExpr form — same fold32, same universal-hash
    multiply-add, same Mersenne modulus, same empty/NULL sentinel. The
    edge rows (empty string, NULL text, single token below shingle_n,
    all-identical tokens) exercise the kernel's empty-segment and
    null-mask paths explicitly."""
    from pyspark.sql import functions as F

    from mlx_vector_db_spark.functions.text import tokens

    rows = list(corpus) + [
        (9001, ""),
        (9002, None),
        (9003, "solo"),
        (9004, "rep rep rep rep rep rep"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    num_hashes, seed, shingle_n = 16, 42, 3
    a, b = D._minhash_coeffs(num_hashes, seed)
    p = D._MERSENNE_P

    base = df.select(F.col("doc_id").alias("_id"), tokens("text").alias("_toks"))
    hdf = base.select(
        "_id", D._hashed_shingles_from_tokens(F.col("_toks"), shingle_n).alias("_sh")
    )
    fdf = hdf.select(
        "_id", "_sh", F.transform("_sh", lambda h: D._fold32(h)).alias("_f")
    )
    exprs = [
        f"coalesce(array_min(transform(_f, h -> "
        f"pmod(h * {a[k]}L + {b[k]}L, {p}L))), {p}L) AS _h{k}"
        for k in range(num_hashes)
    ]
    ref = fdf.selectExpr("_id", *exprs)
    new = D._signature_numpy(hdf, num_hashes, a, b).drop("_sh")

    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, new.collect()))


@pytest.mark.parametrize("batch_rows", [10_000, 1, 3])
def test_minhash_numpy_kernel_trailing_empty_docs(spark, corpus, batch_rows):
    """A batch that ends in an empty doc and a NULL doc (empty and NULL
    shingle arrays): every signature still equals a pure-Python MinHash
    of the doc's shingle hashes, bit for bit, whether the frame is one
    Arrow batch or split into batches of 1 or 3 rows (3 makes a batch
    end on the empty doc right after non-empty ones). The doc before
    them has two shingles, so a segment cut short by one element shows
    in about half of the signature registers."""
    from pyspark.sql import functions as F

    from mlx_vector_db_spark.functions.text import tokens

    rows = list(corpus[:4]) + [(500, "one two three four"), (9001, ""), (9002, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    num_hashes, seed = 16, 7
    a, b = D._minhash_coeffs(num_hashes, seed)
    p = D._MERSENNE_P
    hdf = df.select(
        F.col("doc_id").alias("_id"), "text", tokens("text").alias("_toks")
    ).select(
        "_id",
        F.when(F.col("text").isNull(), F.lit(None).cast("array<bigint>"))
        .otherwise(D._hashed_shingles_from_tokens(F.col("_toks"), 3))
        .alias("_sh"),
    )
    want = {}
    for r in hdf.collect():
        hs = [h & 0xFFFFFFFF for h in (r["_sh"] or [])]
        want[r["_id"]] = tuple(
            min(((h * a[k] + b[k]) % p for h in hs), default=p)
            for k in range(num_hashes)
        )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(batch_rows))
    try:
        got = D._signature_numpy(hdf, num_hashes, a, b).drop("_sh").collect()
    finally:
        spark.conf.set(key, old)
    assert {r["_id"]: tuple(r[1:]) for r in got} == want
    assert want[9001] == want[9002] == (p,) * num_hashes


def test_minhash_pairs_kernel_parity(spark, corpus_df):
    """End-to-end: minhash_lsh_pairs(sig_kernel='numpy') emits exactly
    the rows of the expr form on a real corpus."""
    a = sorted(
        map(
            tuple,
            D.minhash_lsh_pairs(corpus_df, sig_kernel="expr").collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            D.minhash_lsh_pairs(corpus_df, sig_kernel="numpy").collect(),
        )
    )
    assert a == b
