"""``batch_search``: read-only query batches against an indexed store.

Each round runs three batches: exact blocked search, IVF-PQ search with
exact re-rank, and late-interaction (MaxSim) search over the token tier.
Half of the vector queries perturb stored rows, half are fresh draws.
The first WARM_ROUNDS rounds are unmeasured (all but round 0 without
the IVF-PQ batch); then whole rounds are measured, and each path is
reported at its median round.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from perfbench import gen
from perfbench.common import (
    SCORE_TOL, Ctx, ids_agree, input_bytes, median_by_type, op_latency_ms,
    topk_agreement, write_parquet,
)

N_ROWS = 8_000
DIM = 128
K = 10
NLIST = 4
PQ_M = 8
N_TOKEN_DOCS = 500
EXACT_QUERIES = 256
#: ANN queries: the store's saturation guard skips the compressed pass
#: once 4 * queries * k * overfetch exceeds the row count, so the batch
#: stays under N_ROWS / 160
ANN_QUERIES = 48
MAXSIM_QUERIES = 64
#: exact and MaxSim answers checked against numpy per batch
CHECKED = 16
#: unmeasured rounds. Per-path latency falls over the first rounds of a
#: fresh JVM (1.3-2x above the steady state in round 1). Round 0 runs
#: every path; the later warm-up rounds skip the IVF-PQ batch, the
#: costliest
WARM_ROUNDS = 3
#: measured rounds in every run, whatever ``--seconds`` allows
MIN_MEASURED = 2
USER = "bench"


def run(ctx: Ctx) -> dict:
    from mlx_vector_db_spark.store import VectorStoreCatalog

    spark, tr = ctx.spark, ctx.tracer
    v = gen.clustered_vectors(ctx.seed, N_ROWS, DIM)
    docs = gen.token_docs(ctx.seed + 7, N_TOKEN_DOCS, DIM)
    vec_src = write_parquet(
        ctx.tmp / "batch_vectors.parquet",
        id=np.arange(N_ROWS, dtype=np.int64), embedding=v.embedding, category=v.category,
    )
    tok_src = write_parquet(
        ctx.tmp / "batch_tokens.parquet", doc_id=docs.doc_of, embedding=docs.tokens,
    )

    # the index and PQ builds cost tens of seconds, so setup runs once
    catalog = VectorStoreCatalog(spark, ctx.tmp / "stores")
    t = time.perf_counter()
    with tr.span("setup"):
        store = catalog.create_store(
            USER, "batch", dimension=DIM, promoted_keys={"category": "string"}
        )
        with tr.span("store.add_vectors"):
            store.add_vectors(spark.read.parquet(vec_src))
        with tr.span("store.build_index"):
            store.build_index(nlist=NLIST)
        with tr.span("store.build_pq"):
            store.build_pq(m=PQ_M)
        with tr.span("store.add_token_vectors"):
            store.add_token_vectors(spark.read.parquet(tok_src))
    setup_s = time.perf_counter() - t

    def round_inputs(rnd: int):
        qseed = ctx.seed * 1000 + rnd
        qv, _ = gen.perturbed_queries(qseed, v.embedding, EXACT_QUERIES)
        qa, _ = gen.perturbed_queries(qseed + 500, v.embedding, ANN_QUERIES)
        q_of, qt = gen.token_queries(qseed, docs, MAXSIM_QUERIES)
        dfs = [
            spark.read.parquet(write_parquet(
                ctx.tmp / f"{tag}{rnd}.parquet", query_id=ids, embedding=emb))
            for tag, ids, emb in (
                ("q", np.arange(EXACT_QUERIES, dtype=np.int64), qv),
                ("a", np.arange(ANN_QUERIES, dtype=np.int64), qa),
                ("m", q_of, qt),
            )
        ]
        return qv, qa, q_of, qt, dfs

    # the warm-up rounds are unmeasured: the measured rounds then time
    # the search paths, not their first uses and warm-up in a fresh JVM.
    # They run full-size batches: a much smaller MaxSim batch was seen
    # to take a far slower first-use path, which would leave the
    # measured path cold. Their answers are checked like any other.
    # ANN recall is taken over the rounds that always run the ANN batch
    # (0 and the first MIN_MEASURED measured ones), so it depends on the
    # seed alone, never on timing.
    bn = v.embedding / np.linalg.norm(v.embedding, axis=1, keepdims=True)
    undo = []
    lat: dict[str, list[float]] = {"exact": [], "ann": [], "maxsim": []}
    ann_recall: list[float] = []
    rnd, t_end = 0, float("inf")
    while rnd < WARM_ROUNDS + MIN_MEASURED or time.perf_counter() < t_end:
        if rnd == WARM_ROUNDS:
            t_end = time.perf_counter() + ctx.seconds
            undo = _wrap_layers(ctx) if tr.traced else []
        qv, qa, q_of, qt, (qdf, adf, mdf) = round_inputs(rnd)

        t = time.perf_counter()
        rows = ctx.op("exact", lambda: store.batch_query(qdf, k=K, blocked=True).collect())
        dt_exact = time.perf_counter() - t
        if rows is not None:
            ids = _by_query(rows, "query_id", "id")
            for q in range(CHECKED):
                ctx.check("exact.topk", ids_agree(ids.get(q, []), bn @ _unit(qv[q]), K),
                          f"round {rnd} query {q}")

        rows = None
        if rnd == 0 or rnd >= WARM_ROUNDS:
            t = time.perf_counter()
            rows = ctx.op("ann", lambda: store.batch_query(
                adf, k=K, use_quantized=True, blocked=True).collect())
            dt_ann = time.perf_counter() - t
        if rows is not None:
            got = _by_query(rows, "query_id", "similarity")
            ids = _by_query(rows, "query_id", "id")
            truth = ctx.notes.setdefault("ann_truth", {})
            for q in range(ANN_QUERIES):
                sims = bn @ _unit(qa[q])
                want = np.sort(np.partition(sims, -K)[-K:])[::-1]
                _, rec = topk_agreement(got.get(q, []), want)
                if rnd < WARM_ROUNDS + MIN_MEASURED:
                    ann_recall.append(rec)
                if rnd == WARM_ROUNDS:
                    truth[q] = set(np.argpartition(-sims, K)[:K].tolist())
                # re-ranked scores are the exact cosines of the ids returned
                ctx.check("ann.rerank_exact",
                          np.allclose(sorted(got.get(q, [])), sorted(sims[ids.get(q, [])]),
                                      atol=SCORE_TOL),
                          f"round {rnd} query {q}")

        t = time.perf_counter()
        rows = ctx.op("maxsim", lambda: store.maxsim_query(mdf, k=K).collect())
        dt_maxsim = time.perf_counter() - t
        if rows is not None:
            ids = _by_query(rows, "query_id", "doc_id")
            for q in range(CHECKED):
                ctx.check("maxsim.topk",
                          ids_agree(ids.get(q, []), _maxsim_scores(docs, qt[q_of == q]), K),
                          f"round {rnd} query {q}")
        if rnd >= WARM_ROUNDS:
            lat["exact"].append(dt_exact)
            lat["ann"].append(dt_ann)
            lat["maxsim"].append(dt_maxsim)
        rnd += 1
    for u in undo:
        u()

    vec_bytes = input_bytes(store.to_df()) + input_bytes(store.token_df())
    user_bytes = N_ROWS * (DIM * 4 + 2) + len(docs.doc_of) * (DIM * 4 + 8)
    meds = median_by_type(lat)
    recall = statistics.mean(ann_recall) if ann_recall else 0.0
    if tr.traced:
        ctx.layers.update(_span_metrics(ctx))
    return {
        "setup_s": setup_s,
        "op_latency_ms": op_latency_ms(lat),
        # one round's queries over the sum of the per-path medians
        "items_per_s": (EXACT_QUERIES + ANN_QUERIES + MAXSIM_QUERIES) / sum(meds.values()),
        "recall_at_10": recall,
        "space_amp": vec_bytes / user_bytes,
        "detail": {
            "named": {
                "exact_qps": EXACT_QUERIES / meds["exact"],
                "ann_qps": ANN_QUERIES / meds["ann"],
                "maxsim_qps": MAXSIM_QUERIES / meds["maxsim"],
                "ann_recall_at_10": recall,
            },
            "rounds": rnd - WARM_ROUNDS,
            "median_ms": {k: round(x * 1000, 1) for k, x in meds.items()},
            "round_ms": {k: [round(x * 1000) for x in xs] for k, xs in lat.items()},
        },
    }


def _unit(x: np.ndarray) -> np.ndarray:
    return x / max(float(np.linalg.norm(x)), 1e-12)


def _by_query(rows, qcol: str, vcol: str) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r[qcol]), []).append(r[vcol])
    return out


def _maxsim_scores(docs: gen.TokenDocs, q: np.ndarray) -> np.ndarray:
    """Brute-force MaxSim of every doc: the sum over query tokens of the
    best cosine with any of the doc's tokens."""
    sims = docs.tokens @ q.T  # (n_tokens, q_tokens), all unit norm
    n_docs = int(docs.doc_of[-1]) + 1
    best = np.full((n_docs, q.shape[0]), -np.inf)
    np.maximum.at(best, docs.doc_of, sims)
    return best.sum(axis=1)


def _wrap_layers(ctx: Ctx) -> list:
    """Traced runs: split each batch call into its planning (with eager
    probe jobs) and the action, and capture IVF-PQ candidates."""
    from mlx_vector_db_spark import store as store_mod
    from mlx_vector_db_spark.operators import pq as pq_mod

    tr = ctx.tracer
    cls = store_mod.VectorStore
    undo = []
    for meth, name in (("batch_query", "store.batch_query"), ("maxsim_query", "maxsim.plan")):
        orig = getattr(cls, meth)

        def planned(self, *a, __orig=orig, __name=name, **kw):
            with tr.span(__name):
                df = __orig(self, *a, **kw)
            tr.switch_group("exec")
            return df

        setattr(cls, meth, planned)
        undo.append(lambda meth=meth, orig=orig: setattr(cls, meth, orig))

    captured = ctx.notes.setdefault("pq_candidates", [])
    orig_ivfpq = pq_mod.ivfpq_search_batch

    def ivfpq(*a, **kw):
        cand = orig_ivfpq(*a, **kw)
        captured.append(cand)
        return cand

    pq_mod.ivfpq_search_batch = ivfpq
    undo.append(lambda: setattr(pq_mod, "ivfpq_search_batch", orig_ivfpq))
    return undo


def _span_metrics(ctx: Ctx) -> dict:
    tr = ctx.tracer
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    plan = [s for s in tr.spans if s.name == "store.batch_query"]
    msp = [s for s in tr.spans if s.name == "maxsim.plan"]
    # candidate yield: true top-10 ids found among the IVF-PQ candidates
    per_query, found = [], 0
    truth = ctx.notes.get("ann_truth", {})
    for cand in ctx.notes.get("pq_candidates", [])[:1]:  # the first round's
        with tr.span("pq.candidates", group=True):
            rows = cand.select("query_id", "id").collect()
        by_q: dict[int, set] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), set()).add(int(r["id"]))
        per_query = [len(ids) for ids in by_q.values()]
        found = sum(len(truth.get(q, set()) & ids) for q, ids in by_q.items())
    return {
        "store.build_index.s": med(tr.durations("store.build_index")),
        "store.build_pq.s": med(tr.durations("store.build_pq")),
        "store.add_token_vectors.s": med(tr.durations("store.add_token_vectors")),
        "store.batch_query.plan_ms": med([s.duration for s in plan]) * 1000.0,
        "store.batch_query.eager_jobs": med([s.jobs for s in plan]),
        "maxsim.plan_ms": med([s.duration for s in msp]) * 1000.0,
        "maxsim.eager_jobs": med([s.jobs for s in msp]),
        "pq.candidates_per_query": med(per_query),
        "pq.candidate_yield": found / sum(per_query) if per_query else 0.0,
    }


def layer_events(ctx: Ctx, groups: dict) -> dict:
    from perfbench.spans import merge, skew

    tr = ctx.tracer

    def execs(name):  # measured rounds only: warm-up rounds run unwrapped
        return [groups[f"{s.group}:exec"] for s in tr.spans
                if s.name == name and f"{s.group}:exec" in groups]

    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    ex, an, ms = execs("exact"), execs("ann"), execs("maxsim")
    knn_s = med([g.job_s for g in ex])
    flop = 2.0 * EXACT_QUERIES * N_ROWS * DIM
    return {
        "knn.blocked.exec_s": knn_s,
        "knn.blocked.cpu_s": med([g.cpu_s for g in ex]),
        "knn.blocked.gflop_per_s": flop / knn_s / 1e9 if knn_s else 0.0,
        "knn.blocked.shuffle_mb": med([g.shuffle_write_mb for g in ex]),
        "knn.blocked.skew": skew(merge(ex[:1]).kernel_stage()) if ex else 0.0,
        "pq.exec_s": med([g.job_s for g in an]),
        "pq.cpu_s": med([g.cpu_s for g in an]),
        "pq.input_mb": med([g.input_mb for g in an]),
        "pq.shuffle_mb": med([g.shuffle_write_mb for g in an]),
        "maxsim.exec_s": med([g.job_s for g in ms]),
        "maxsim.cpu_s": med([g.cpu_s for g in ms]),
        "maxsim.shuffle_mb": med([g.shuffle_write_mb for g in ms]),
    }
