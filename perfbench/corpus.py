"""``corpus_ingest``: a two-language corpus through the curation chain,
then its embedded chunks into a fresh store through streaming ingest.

The chain runs one action per operator. The embed step writes the
embedded chunks as several parquet files; a file-source stream with one
file per trigger then appends them to the store, with an operations log
(the idempotency ledger) and inline compaction. Only whole passes are
measured.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time
from collections import Counter
from itertools import combinations

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import (
    Ctx, cosine_topk, input_bytes, median_by_type, op_latency_ms, rows_hash,
    topk_agreement, write_parquet,
)

N_DOCS = 800
DIM = 128
MICRO_BATCHES = 2
COMPACT_MAX_FILES = 1
SETUP_REPS = 3
THRESHOLD = 0.5
SHINGLE_N = 3
WINNOW_K, WINNOW_W, WINNOW_MIN_SHARED = 4, 4, 2
MAX_HAMMING = 3
#: ingested chunks queried back for recall@K after each pass
RECALL_QUERIES = 16
K = 10
USER = "bench"

CHAIN = ["chunk", "embed", "exact", "minhash", "jaccard", "winnow", "simhash",
         "lm", "bpe", "vocab", "dsir", "dq"]


def run(ctx: Ctx) -> dict:
    from mlx_vector_db_spark.store import VectorStoreCatalog

    spark, tr = ctx.spark, ctx.tracer
    c = gen.corpus(ctx.seed, N_DOCS)
    truth = _Truth(c)
    setup_s = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        src = write_parquet(
            ctx.tmp / f"corpus{rep}" / "docs.parquet",
            doc_id=c.doc_id, text=c.text, lang=c.lang,
        )
        docs = spark.read.parquet(src)
        catalog = VectorStoreCatalog(spark, ctx.tmp / f"stores{rep}")
        store = catalog.create_store(
            USER, "chunks", dimension=DIM, promoted_keys={"document_id": "long"}
        )
        setup_s.append(time.perf_counter() - t)

    ops = _ops()
    undo = _wrap_layers(ctx, store) if tr.traced else []
    lat: dict[str, list[float]] = {k: [] for k in CHAIN + ["ingest"]}
    hashes: list[dict] = []
    n_pass = 0
    chain_s = ingest_s = 0.0
    n_chunks = 0
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:
        n_pass += 1
        if n_pass > 1:  # every pass ingests into an empty store
            store.clear()
        out, hs = {}, {}
        t_chain = time.perf_counter()
        for name in CHAIN:
            t = time.perf_counter()
            out[name] = ctx.op(name, lambda: ops[name](ctx, docs, n_pass))
            lat[name].append(time.perf_counter() - t)
        chain_s += time.perf_counter() - t_chain - lat["embed"][-1]
        t = time.perf_counter()
        out["ingest"] = ctx.op("ingest", lambda: _ingest(ctx, store, n_pass))
        lat["ingest"].append(time.perf_counter() - t)
        ingest_s += lat["embed"][-1] + lat["ingest"][-1]
        n_chunks = _check_pass(ctx, truth, store, docs, out, hs)
        hashes.append(hs)
    for u in undo:
        u()

    for h in hashes[1:]:
        for k, want in hashes[0].items():
            ctx.check(f"{k}.hash_repeat_in_run", h.get(k) == want, f"{h.get(k)} != {want}")
    _check_hash_across_runs(ctx, c, hashes[0])

    live = input_bytes(store.to_df())
    user_bytes = max(1, n_chunks) * (DIM * 4 + 8)
    space_amp = live / user_bytes
    meds = median_by_type(lat)
    ctx.notes["n_pass"] = n_pass
    return {
        "setup_s": statistics.median(setup_s),
        "op_latency_ms": op_latency_ms(lat),
        "items_per_s": N_DOCS * n_pass / sum(sum(v) for v in lat.values()),
        "recall_at_10": statistics.mean(ctx.notes.get("recall", [0.0])),
        "space_amp": space_amp,
        "detail": {
            "named": {
                "curate_docs_per_s": N_DOCS * n_pass / chain_s,
                "ingest_vectors_per_s": n_chunks * n_pass / ingest_s,
                "space_amp": space_amp,
            },
            "passes": n_pass,
            "median_ms": {k: round(x * 1000, 1) for k, x in meds.items()},
            "chunks": n_chunks,
        },
    }


# -- the chain -------------------------------------------------------------


def _collect(ctx: Ctx, df_fn):
    """Plan inside a child span (eager jobs land in the op's group),
    then run the action under the op's exec group."""
    with ctx.tracer.span("plan"):
        df = df_fn()
    ctx.tracer.switch_group("exec")
    return df.collect()


def _chunks(docs):
    from mlx_vector_db_spark.functions.text import chunk_documents

    return chunk_documents(docs, chunk_size=400, overlap=50)


def _embed(ctx: Ctx, docs, n_pass: int):
    from pyspark.sql import functions as F

    from mlx_vector_db_spark.pipeline import RandomProjectionEncoder, embed_texts

    dest = ctx.tmp / f"embedded{n_pass}"
    with ctx.tracer.span("plan"):
        emb = embed_texts(_chunks(docs), RandomProjectionEncoder(DIM), DIM).select(
            (F.col("document_id") * 10_000 + F.col("chunk_index")).alias("id"),
            "document_id", "embedding",
        )
    ctx.tracer.switch_group("exec")
    emb.repartition(MICRO_BATCHES, "id").write.parquet(str(dest))
    return dest


def _en(docs):
    from pyspark.sql import functions as F

    return docs.where(F.col("lang") == "en")


def _dq(docs):
    from mlx_vector_db_spark.operators.dq import Check, dq_audit

    return dq_audit(docs, Check(
        completeness=["text"], uniqueness=["doc_id"],
        accepted_values={"lang": ["en", "de"]},
    ))


def _op(build):
    return lambda ctx, docs, n_pass: _collect(ctx, lambda: build(docs))


def _ops():
    from mlx_vector_db_spark.operators import dedup, dsir, quality, tokenizer

    return {
        "chunk": _op(_chunks),
        "embed": _embed,
        "exact": _op(dedup.exact_dedup),
        "minhash": _op(lambda d: dedup.minhash_lsh_pairs(
            d, threshold=THRESHOLD, shingle_n=SHINGLE_N)),
        "jaccard": _op(lambda d: dedup.jaccard_pairs(
            d, threshold=THRESHOLD, shingle_n=SHINGLE_N, max_shingle_freq="auto")),
        "winnow": _op(lambda d: quality.winnow_crossdoc_pairs(
            d, k=WINNOW_K, w=WINNOW_W, min_shared=WINNOW_MIN_SHARED, max_fp_docs="auto")),
        "simhash": _op(lambda d: dedup.simhash_pairs(d, max_hamming=MAX_HAMMING)),
        "lm": _op(lambda d: quality.unigram_lm_scores(d, ref_df=_en(d))),
        "bpe": _op(lambda d: tokenizer.bpe_pair_counts(d, min_count=2)),
        "vocab": _op(lambda d: tokenizer.vocab_coverage(d, vocab_size=1000)),
        "dsir": _op(lambda d: dsir.dsir_log_weights(d, _en(d), n_buckets=4096)),
        "dq": _op(_dq),
    }


def _ingest(ctx: Ctx, store, n_pass: int) -> dict:
    """Stream the embed step's files into the store, one per trigger."""
    from mlx_vector_db_spark.streaming import job_status, streaming_ingest_vectors

    spark = ctx.spark
    src = ctx.tmp / f"embedded{n_pass}"
    stream = (
        spark.readStream.schema("id long, document_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    ops_log = str(ctx.tmp / f"ops_log{n_pass}")
    q = streaming_ingest_vectors(
        stream, store, str(ctx.tmp / f"ckpt{n_pass}"),
        query_name=f"ingest_{n_pass}", operations_log=ops_log,
        compact_max_files=COMPACT_MAX_FILES,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    status = job_status(spark, ops_log).collect()
    return {
        "batch_ms": [p["durationMs"].get("triggerExecution", 0) for p in progress],
        "status": [r.asDict() for r in status],
    }


# -- correctness -----------------------------------------------------------


def _shingles(text: str | None, n: int) -> set:
    toks = (text or "").split()
    if not toks:
        return set()
    if len(toks) < n:
        return {tuple(toks)}
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _by_query(rows) -> dict[int, list[float]]:
    out: dict[int, list[float]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(r["similarity"])
    return out


def _jaccard(a: set, b: set) -> float:
    """Exact Jaccard; two empty sets count as identical (1.0), the
    engine's documented rule for empty and NULL documents."""
    return len(a & b) / len(a | b) if (a or b) else 1.0


class _Truth:
    """What the generator planted, and exact recomputations over it."""

    def __init__(self, c: gen.Corpus):
        self.c = c
        self.sh = [_shingles(t, SHINGLE_N) for t in c.text]
        self.grams = [_shingles(t, WINNOW_K) for t in c.text]
        fam: dict[int, set] = {}
        for cp, orig in list(c.exact_copies.items()) + list(c.near_copies.items()):
            fam.setdefault(orig, {orig}).add(cp)
        self.family_pairs = {
            (a, b) for members in fam.values() for a, b in combinations(sorted(members), 2)
        }
        self.identical_pairs = {
            (a, b) for a, b in self.family_pairs
            if c.text[a] == c.text[b] and (c.text[a] or "").strip()
        }
        groups: dict = {}
        for i, t in enumerate(c.text):
            key = None if t is None else " ".join(t.split()).lower()
            groups.setdefault(key, []).append(i)
        self.dup_groups = {min(g): len(g) for g in groups.values() if len(g) > 1}
        self.n_tokens = [len((t or "").split()) for t in c.text]
        words = Counter(w for t in c.text if t for w in t.split())
        pairs: Counter = Counter()
        for w, f in words.items():
            for i in range(len(w) - 1):
                pairs[(w[i], w[i + 1])] += f
        self.bpe = {k: v for k, v in pairs.items() if v >= 2}


def _check_pass(ctx: Ctx, truth: _Truth, store, docs, out: dict, hs: dict) -> int:
    """Check every op's output of one pass; return the chunks embedded."""
    c = truth.c
    check = ctx.check
    rows = out.get("chunk")
    chunk_ids: set = set()
    if rows is not None:
        hs["chunk"] = rows_hash(tuple(r) for r in rows)
        ok = all(
            r["chunk_text"] in (c.text[r["document_id"]] or "")
            and r["chunk_length"] == len(r["chunk_text"])
            for r in rows
        )
        check("chunk.substrings", ok)
        chunk_ids = {r["document_id"] * 10_000 + r["chunk_index"] for r in rows}
        with_text = {i for i, t in enumerate(c.text) if t and t.strip()}
        check("chunk.covers_docs", with_text <= {r["document_id"] for r in rows})

    dest = out.get("embed")
    n_emb = 0
    if dest is not None:
        t = pq.read_table(str(dest)).sort_by("id")
        ids = t.column("id").to_numpy()
        emb = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
        n_emb = len(ids)
        check("embed.rows", set(ids.tolist()) == chunk_ids, f"{n_emb} vs {len(chunk_ids)}")
        norms = np.linalg.norm(emb, axis=1)
        check("embed.unit_norm", bool(np.all((np.abs(norms - 1) < 1e-3) | (norms < 1e-6))))
        hs["embed"] = hashlib.blake2b(
            ids.tobytes() + np.round(emb, 5).tobytes(), digest_size=8).hexdigest()

    rows = out.get("exact")
    if rows is not None:
        hs["exact"] = rows_hash(tuple(r) for r in rows)
        got = {r["keeper_id"]: r["n_copies"] for r in rows if r["n_copies"] > 1}
        check("exact.planted_copies", got == truth.dup_groups,
              f"{len(got)} groups vs {len(truth.dup_groups)}")

    for name in ("minhash", "jaccard"):
        rows = out.get(name)
        if rows is None:
            continue
        hs[name] = rows_hash(tuple(r) for r in rows)
        found = {(r["id_a"], r["id_b"]) for r in rows}
        check(f"{name}.planted_found", truth.family_pairs <= found,
              f"missing {sorted(truth.family_pairs - found)[:5]}")
        bad = []
        for r in rows:
            j = _jaccard(truth.sh[r["id_a"]], truth.sh[r["id_b"]])
            rep = r["jaccard"]
            ok = j >= THRESHOLD - 1e-9 and (
                abs(rep - j) <= 1e-6 if name == "minhash" else rep <= j + 1e-6)
            if not ok:
                bad.append((r["id_a"], r["id_b"], rep, j))
        check(f"{name}.threshold_exact", not bad, f"{bad[:3]}")
        ctx.notes[f"{name}.pair_yield"] = (
            len(found & truth.family_pairs) / len(found) if found else 0.0)

    rows = out.get("winnow")
    if rows is not None:
        hs["winnow"] = rows_hash(tuple(r) for r in rows)
        found = {(r["doc_a"], r["doc_b"]) for r in rows}
        check("winnow.planted_found", truth.family_pairs <= found,
              f"missing {sorted(truth.family_pairs - found)[:5]}")
        bad = [tuple(r) for r in rows
               if r["n_shared"] < WINNOW_MIN_SHARED
               or len(truth.grams[r["doc_a"]] & truth.grams[r["doc_b"]]) < WINNOW_MIN_SHARED]
        check("winnow.shared_spans", not bad, f"{bad[:3]}")

    rows = out.get("simhash")
    if rows is not None:
        hs["simhash"] = rows_hash(tuple(r) for r in rows)
        found = {(r["id_a"], r["id_b"]) for r in rows}
        check("simhash.identical_found", truth.identical_pairs <= found,
              f"missing {sorted(truth.identical_pairs - found)[:5]}")
        # the reported distance is the popcount of the fingerprints' XOR
        from mlx_vector_db_spark.operators.dedup import simhash_signatures

        fp = {r["_id"]: r["_fp"] for r in simhash_signatures(docs).collect()}
        bad = [tuple(r) for r in rows
               if r["hamming"] > MAX_HAMMING
               or r["hamming"] != bin((fp[r["id_a"]] ^ fp[r["id_b"]]) & (2**64 - 1)).count("1")]
        check("simhash.hamming_exact", not bad, f"{bad[:3]}")
        ctx.notes["simhash.pair_yield"] = (
            len(found & truth.family_pairs) / len(found) if found else 0.0)

    for name in ("lm", "vocab"):
        rows = out.get(name)
        if rows is None:
            continue
        hs[name] = rows_hash(tuple(r) for r in rows)
        got = {r["doc_id"]: r["n_tokens"] for r in rows}
        want = dict(enumerate(truth.n_tokens))
        check(f"{name}.token_counts", got == want, f"{len(got)} rows")

    rows = out.get("bpe")
    if rows is not None:
        hs["bpe"] = rows_hash(tuple(r) for r in rows)
        got = {(r["lhs"], r["rhs"]): r["n_pairs"] for r in rows}
        check("bpe.pair_counts", got == truth.bpe, f"{len(got)} vs {len(truth.bpe)}")

    rows = out.get("dsir")
    if rows is not None:
        hs["dsir"] = rows_hash(tuple(r) for r in rows)
        want = {i for i, n in enumerate(truth.n_tokens) if n}
        check("dsir.rows", {r["doc_id"] for r in rows} == want, f"{len(rows)} rows")
        check("dsir.finite", all(np.isfinite(r["log_weight"]) for r in rows))

    rows = out.get("dq")
    if rows is not None:
        hs["dq"] = rows_hash(tuple(r) for r in rows)
        got = {(r["constraint"], r["column"]): r["violations"] for r in rows}
        want_null = len(c.null_ids)
        ok = any(col == "text" and v == want_null for (_, col), v in got.items()) and all(
            v == 0 for (_, col), v in got.items() if col in ("doc_id", "lang"))
        check("dq.violations", ok, f"{got} (want text nulls {want_null})")

    res = out.get("ingest")
    if res is not None and dest is not None:
        stored = sorted(r["id"] for r in store.to_df().select("id").collect())
        check("ingest.no_lost_or_doubled", stored == sorted(chunk_ids),
              f"{len(stored)} rows vs {len(chunk_ids)} chunks")
        rows_total = sum(r["rows_total"] or 0 for r in res["status"])
        check("ingest.ledger_rows", rows_total == len(chunk_ids), f"{rows_total}")
        ctx.notes.setdefault("batch_ms", []).extend(res["batch_ms"])
        # sampled chunks, queried back, find the numpy top-10 of the
        # embedded file; duplicate chunks embed identically, so recall
        # compares similarities and the top hit may be a twin
        live = np.flatnonzero(np.linalg.norm(emb, axis=1) > 1e-6)
        pick = np.random.default_rng(ctx.seed).choice(
            live, min(RECALL_QUERIES, len(live)), replace=False)
        qdf = ctx.spark.read.parquet(write_parquet(
            ctx.tmp / f"probe-{dest.name}.parquet",
            query_id=np.arange(len(pick), dtype=np.int64), embedding=emb[pick]))
        got = _by_query(ctx.op("ingest.recall_query", lambda: store.batch_query(
            qdf, k=K, blocked=True).collect()) or [])
        unit = emb / np.maximum(np.linalg.norm(emb, axis=1, keepdims=True), 1e-12)
        rec = ctx.notes.setdefault("recall", [])
        for q, row in enumerate(pick):
            sims = got.get(q, [])
            want = cosine_topk(unit, np.ones(len(unit), bool), unit[row], K)
            exact, r = topk_agreement(sims, want)
            rec.append(r)
            check("ingest.query_topk", exact, f"chunk {ids[row]}: {sorted(sims)[-3:]}")
            check("ingest.self_hit", bool(sims) and max(sims) > 0.999, f"chunk {ids[row]}")
    return n_emb


def _check_hash_across_runs(ctx: Ctx, c: gen.Corpus, hs: dict) -> None:
    """Each op's order-insensitive output hash must repeat whenever the
    same inputs and operator settings run again in this checkout."""
    key = hashlib.blake2b(repr((
        c.text, DIM, MICRO_BATCHES, THRESHOLD, SHINGLE_N,
        WINNOW_K, WINNOW_W, WINNOW_MIN_SHARED, MAX_HAMMING,
    )).encode(), digest_size=8).hexdigest()
    path = ctx.state / f"corpus_ingest-{key}.json"
    if path.exists():
        prev = json.loads(path.read_text())
        for k, want in prev.items():
            if k in hs:
                ctx.check(f"{k}.hash_repeat_across_runs", hs[k] == want, f"{hs[k]} != {want}")
    else:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(hs, sort_keys=True))


# -- layers ----------------------------------------------------------------


def _wrap_layers(ctx: Ctx, store) -> list:
    """Traced runs: time the ledgered batch append and the inline
    compaction inside the stream's foreachBatch callback."""
    from mlx_vector_db_spark.streaming import ingest as ingest_mod

    tr = ctx.tracer
    undo = [
        tr.wrap(ingest_mod, "ingest_batch", "streaming.ingest_batch"),
        tr.wrap(store, "add_vectors", "store.add_vectors"),
    ]
    orig_opt = store.maybe_optimize

    def maybe_optimize(*a, **kw):
        with tr.span("store.maybe_optimize") as s:
            n = orig_opt(*a, **kw)
        s.attrs["compacted"] = n is not None
        return n

    store.maybe_optimize = maybe_optimize
    undo.append(lambda: setattr(store, "maybe_optimize", orig_opt))
    return undo


def layer_events(ctx: Ctx, groups: dict) -> dict:
    from perfbench.spans import GroupStats, merge, self_times, skew

    tr = ctx.tracer
    none = GroupStats()

    def stats(name: str) -> tuple[GroupStats, GroupStats, list]:
        """(plan, exec, op spans) merged over every pass."""
        ops = [s for s in tr.spans if s.name == name and s.group]
        plan = merge([groups.get(s.group, none) for s in ops])
        ex = merge([groups.get(f"{s.group}:exec", none) for s in ops])
        return plan, ex, ops

    n = max(1, ctx.notes.get("n_pass", 1))
    m: dict[str, float] = {}

    def put(prefix: str, name: str, *fields: str) -> None:
        plan, ex, ops = stats(name)
        both = merge([plan, ex])
        vals = {
            "exec_s": ex.job_s / n,
            "cpu_s": both.cpu_s / n,
            "shuffle_mb": both.shuffle_write_mb / n,
            "spill_mb": both.spill_mb / n,
            "eager_jobs": sum(
                c.jobs for c in tr.spans
                if c.name == "plan" and c.parent is not None and tr.spans[c.parent] in ops
            ) / n,
            "tasks": float(len(ex.kernel_stage())),
            "skew": skew(ex.kernel_stage()),
        }
        for f in fields:
            m[f"{prefix}.{f}"] = vals[f]

    put("text.chunk", "chunk", "exec_s", "cpu_s", "eager_jobs")
    put("pipeline.embed", "embed", "exec_s", "cpu_s")
    for op in ("exact", "minhash", "jaccard", "simhash"):
        put(f"dedup.{op}", op, "exec_s", "cpu_s", "shuffle_mb")
    put("dedup.minhash", "minhash", "eager_jobs")
    put("dedup.jaccard", "jaccard", "eager_jobs", "spill_mb")
    put("quality.winnow", "winnow", "exec_s", "cpu_s", "shuffle_mb", "spill_mb", "eager_jobs")
    put("quality.lm", "lm", "exec_s", "cpu_s")
    put("tokenizer.bpe", "bpe", "exec_s", "cpu_s", "shuffle_mb")
    put("tokenizer.vocab", "vocab", "exec_s", "cpu_s")
    put("dsir", "dsir", "exec_s", "cpu_s", "shuffle_mb")
    put("dq", "dq", "exec_s", "cpu_s")
    for prefix, op in (("rebalance.chunk", "chunk"), ("rebalance.embed", "embed"),
                       ("rebalance.minhash", "minhash")):
        put(prefix, op, "tasks", "skew")
    for op in ("minhash", "jaccard", "simhash"):
        m[f"dedup.{op}.pair_yield"] = ctx.notes.get(f"{op}.pair_yield", 0.0)

    selfs = self_times(tr.spans)
    ledger = [selfs[i] for i, s in enumerate(tr.spans) if s.name == "streaming.ingest_batch"]
    batch_ms = ctx.notes.get("batch_ms", [])
    m["streaming.ingest.batches"] = len(batch_ms) / n
    m["streaming.ingest.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
    m["streaming.ingest.ledger_ms"] = statistics.median(ledger) * 1000.0 if ledger else 0.0
    m["store.ingest.compactions"] = sum(
        1 for s in tr.spans if s.name == "store.maybe_optimize" and s.attrs.get("compacted")
    ) / n
    return m
