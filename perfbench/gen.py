"""Seeded input generators for the benchmark.

Every generator takes the seed as its first argument and derives all
randomness from ``numpy.random.default_rng(seed)``, so the same seed
always yields identical inputs. The engine only ever sees what these
functions return.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

#: syllables per language; words are 1-3 syllable concatenations, so the
#: two vocabularies barely overlap and ``lang`` is recoverable from text
_SYLLABLES = {
    "en": ["th", "an", "er", "in", "on", "at", "ed", "or", "es", "is", "it",
           "al", "ar", "st", "to", "nt", "ng", "se", "ha", "ou"],
    "de": ["ei", "ch", "sch", "ie", "un", "ge", "be", "au", "ver", "zu",
           "lich", "keit", "ung", "ber", "mit", "der", "den", "wa", "ko", "ra"],
}

#: clustered vectors: gaussian centres, category labels, per-row spread
N_CLUSTERS = 64
N_CATEGORIES = 8
SPREAD = 0.35
#: noise added to the stored rows that perturbed queries copy
QUERY_NOISE = 0.05
#: corpus: words per language, planted shares and document lengths
VOCAB_SIZE = 3000
EXACT_SHARE = 0.05
NEAR_SHARE = 0.10
EMPTY_SHARE = 0.01
NULL_SHARE = 0.01
MIN_WORDS, MAX_WORDS = 20, 240
#: token tier: mean tokens per document and tokens per query
MEAN_TOKENS = 32
QUERY_TOKENS = 8


@dataclass
class Vectors:
    """Clustered float32 vectors with categorical metadata."""

    embedding: np.ndarray  # (n, dim) float32
    category: list[str]  # one of ``N_CATEGORIES`` labels per row
    priority: np.ndarray  # (n,) int64 in [0, 5)


def clustered_vectors(seed: int, n: int, dim: int) -> Vectors:
    """``n`` points around ``N_CLUSTERS`` gaussian centres. Categories
    are drawn independently of clusters, so a category filter keeps an
    eighth of every cluster."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((N_CLUSTERS, dim)).astype(np.float32)
    label = rng.integers(0, N_CLUSTERS, n)
    emb = centres[label] + SPREAD * rng.standard_normal((n, dim)).astype(np.float32)
    cats = rng.integers(0, N_CATEGORIES, n)
    return Vectors(
        embedding=emb.astype(np.float32),
        category=[f"c{c}" for c in cats],
        priority=rng.integers(0, 5, n).astype(np.int64),
    )


def perturbed_queries(seed: int, base: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` queries: the first half are perturbed copies of random
    ``base`` rows (returned as their row index), the second half fresh
    draws around the base mean/std (index -1)."""
    rng = np.random.default_rng(seed)
    n_near = n // 2
    src = rng.integers(0, len(base), n_near)
    near = base[src] + QUERY_NOISE * rng.standard_normal((n_near, base.shape[1]))
    fresh = base.mean(axis=0) + base.std(axis=0) * rng.standard_normal(
        (n - n_near, base.shape[1])
    )
    q = np.vstack([near, fresh]).astype(np.float32)
    return q, np.concatenate([src, np.full(n - n_near, -1)])


@dataclass
class Corpus:
    """A two-language document set with planted duplicates.

    ``exact_copies`` maps each planted exact copy's id to its original's
    id; ``near_copies`` does the same for one-word edits. ``empty_ids``
    hold ``""``/whitespace docs and ``null_ids`` hold NULL text."""

    doc_id: np.ndarray
    text: list[str | None]
    lang: list[str]
    exact_copies: dict[int, int]
    near_copies: dict[int, int]
    empty_ids: set[int]
    null_ids: set[int]


def _vocab(rng: np.random.Generator, lang: str, size: int) -> list[str]:
    syl = _SYLLABLES[lang]
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(1, 4))
        words.add("".join(syl[int(i)] for i in rng.integers(0, len(syl), k)))
    return [w for w in rng.permutation(sorted(words))]


def corpus(seed: int, n_docs: int) -> Corpus:
    """Zipfian two-language corpus (70% ``en``, 30% ``de``).

    Planted near-duplicates copy a base doc of at least 100 words and
    replace one word with a word the base lacks, so each planted pair's
    3-shingle Jaccard is at least ~0.94 — far above every near-dup
    threshold the benchmark uses, and LSH banding misses such a pair
    with probability below 1e-7. Empty and NULL docs sit at random
    positions, as in real crawls."""
    rng = np.random.default_rng(seed)
    vocab = {lang: _vocab(rng, lang, VOCAB_SIZE) for lang in _SYLLABLES}
    ranks = np.arange(1, VOCAB_SIZE + 1)
    zipf = 1.0 / ranks**1.1
    zipf /= zipf.sum()

    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_empty = int(n_docs * EMPTY_SHARE)
    n_null = int(n_docs * NULL_SHARE)
    n_base = n_docs - n_exact - n_near - n_empty - n_null

    base_lang = ["en" if u < 0.7 else "de" for u in rng.random(n_base)]
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, n_base)
    word_idx = rng.choice(VOCAB_SIZE, size=int(n_words.sum()), p=zipf)
    cuts = np.cumsum(n_words)[:-1]
    base_text = [
        " ".join(vocab[lang][i] for i in idx)
        for lang, idx in zip(base_lang, np.split(word_idx, cuts))
    ]

    long_bases = [i for i, t in enumerate(base_text) if t.count(" ") >= 99]
    kinds: list[tuple[str, int]] = [("base", i) for i in range(n_base)]
    kinds += [("exact", int(rng.integers(0, n_base))) for _ in range(n_exact)]
    kinds += [("near", int(rng.choice(long_bases))) for _ in range(n_near)]
    kinds += [("empty", -1)] * n_empty + [("null", -1)] * n_null
    order = rng.permutation(len(kinds))

    text: list[str | None] = [None] * n_docs
    lang_out = [""] * n_docs
    id_of_base = {}
    for doc_id, j in enumerate(order):
        kind, src = kinds[j]
        if kind == "base":
            id_of_base[src] = doc_id
    exact_copies: dict[int, int] = {}
    near_copies: dict[int, int] = {}
    empty_ids: set[int] = set()
    null_ids: set[int] = set()
    for doc_id, j in enumerate(order):
        kind, src = kinds[j]
        if kind == "base":
            text[doc_id], lang_out[doc_id] = base_text[src], base_lang[src]
        elif kind == "exact":
            text[doc_id], lang_out[doc_id] = base_text[src], base_lang[src]
            exact_copies[doc_id] = id_of_base[src]
        elif kind == "near":
            words = base_text[src].split(" ")
            present = set(words)
            pos = int(rng.integers(1, len(words) - 1))
            fresh = [w for w in vocab[base_lang[src]][-50:] if w not in present]
            words[pos] = fresh[int(rng.integers(0, len(fresh)))]
            text[doc_id], lang_out[doc_id] = " ".join(words), base_lang[src]
            near_copies[doc_id] = id_of_base[src]
        elif kind == "empty":
            text[doc_id] = "" if rng.random() < 0.5 else "   "
            lang_out[doc_id] = "en"
            empty_ids.add(doc_id)
        else:
            lang_out[doc_id] = "en"
            null_ids.add(doc_id)
    return Corpus(
        doc_id=np.arange(n_docs, dtype=np.int64),
        text=text,
        lang=lang_out,
        exact_copies=exact_copies,
        near_copies=near_copies,
        empty_ids=empty_ids,
        null_ids=null_ids,
    )


@dataclass
class TokenDocs:
    """Multi-vector documents: ``doc_of[i]`` owns token row ``i``."""

    doc_of: np.ndarray  # (n_tokens,) int64
    tokens: np.ndarray  # (n_tokens, dim) float32, unit norm


def token_docs(seed: int, n_docs: int, dim: int) -> TokenDocs:
    """``n_docs`` docs of ``MEAN_TOKENS`` +- 8 unit-norm tokens drawn
    around per-doc topic vectors."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(MEAN_TOKENS - 8, MEAN_TOKENS + 9, n_docs)
    topics = rng.standard_normal((n_docs, dim))
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    toks = topics[doc_of] + 0.8 * rng.standard_normal((len(doc_of), dim))
    toks /= np.linalg.norm(toks, axis=1, keepdims=True)
    return TokenDocs(doc_of=doc_of, tokens=toks.astype(np.float32))


def token_queries(seed: int, docs: TokenDocs, n_queries: int) -> tuple[np.ndarray, np.ndarray]:
    """``(query_of, tokens)``: ``QUERY_TOKENS`` tokens per query; half
    the queries perturb tokens of one random doc, half are fresh topics."""
    rng = np.random.default_rng(seed)
    dim = docs.tokens.shape[1]
    n_docs = int(docs.doc_of[-1]) + 1
    starts = np.searchsorted(docs.doc_of, np.arange(n_docs + 1))
    rows = []
    for q in range(n_queries):
        if q < n_queries // 2:
            d = int(rng.integers(0, n_docs))
            own = docs.tokens[starts[d]:starts[d + 1]]
            pick = own[rng.integers(0, len(own), QUERY_TOKENS)]
            rows.append(pick + 0.1 * rng.standard_normal((QUERY_TOKENS, dim)))
        else:
            topic = rng.standard_normal(dim)
            rows.append(topic + 0.8 * rng.standard_normal((QUERY_TOKENS, dim)))
    qt = np.vstack(rows)
    qt /= np.linalg.norm(qt, axis=1, keepdims=True)
    return (
        np.repeat(np.arange(n_queries, dtype=np.int64), QUERY_TOKENS),
        qt.astype(np.float32),
    )
