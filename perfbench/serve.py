"""``serve_mixed``: one closed-loop client against one store.

Reads are 80% of operations (half unfiltered, half with a category
filter), writes 20% (add, upsert, delete in equal shares). Operations
run in cycles of 15 in a fixed order and only whole cycles are
measured, so every run sees the same mix and its compactions land on
the same operations. Each write is followed by ``maybe_optimize`` at a
fixed file threshold, so compaction runs during the run.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from perfbench import gen
from perfbench.common import (
    Ctx, cosine_topk, input_bytes, median_by_type, op_latency_ms,
    topk_agreement, write_parquet,
)
from perfbench.spans import percentile

N_ROWS = 20_000
DIM = 128
K = 10
ADD_ROWS = 256
UPSERT_ROWS = 32
DELETE_ROWS = 32
SETUP_REPS = 3
#: ``maybe_optimize`` after every write compacts to TARGET_FILES files
#: once the store holds more than MAX_FILES: every write that adds a
#: file compacts, so a cycle compacts more than once
MAX_FILES = TARGET_FILES = 4
CYCLE = [*["query", "query_filtered"] * 2, "add",
         *["query", "query_filtered"] * 2, "upsert",
         *["query", "query_filtered"] * 2, "delete"]
USER = "bench"
#: bytes a user supplies per row: the vector plus category and priority
META_BYTES = 2 + 8


def run(ctx: Ctx) -> dict:
    from mlx_vector_db_spark.client import VectorDBClient

    spark, tr = ctx.spark, ctx.tracer
    pool = 40 * ADD_ROWS
    v = gen.clustered_vectors(ctx.seed, N_ROWS + pool, DIM)
    src = write_parquet(
        ctx.tmp / "serve_vectors.parquet",
        id=np.arange(N_ROWS, dtype=np.int64),
        embedding=v.embedding[:N_ROWS],
        category=v.category[:N_ROWS],
        priority=v.priority[:N_ROWS],
    )
    client = VectorDBClient(spark, str(ctx.tmp / "stores"), default_dimension=DIM)

    setup_s = []
    for rep in range(SETUP_REPS):
        model = f"serve{rep}"
        t = time.perf_counter()
        client.create_store(
            USER, model, dimension=DIM,
            promoted_keys={"category": "string", "priority": "long"},
        )
        store = client.catalog.get_store(USER, model)
        store.add_vectors(spark.read.parquet(src))
        setup_s.append(time.perf_counter() - t)
        if rep < SETUP_REPS - 1:
            client.delete_store(USER, model)
    model = f"serve{SETUP_REPS - 1}"

    # numpy mirror of the store, for the brute-force oracle
    vecs = v.embedding[:N_ROWS].copy()
    cats = np.array(v.category[:N_ROWS])
    alive = np.ones(N_ROWS, dtype=bool)
    known = np.ones(N_ROWS, dtype=bool)  # rows whose id is their index
    deleted: set[int] = set()
    expected_count = N_ROWS
    next_pool = N_ROWS

    rng = np.random.default_rng(ctx.seed + 1)
    lat: dict[str, list[float]] = {k: [] for k in set(CYCLE)}
    recall: list[float] = []
    files_seen: list[int] = []
    n_ops = n_compactions = n_written = 0

    def live_known_id() -> int:
        while True:
            i = int(rng.integers(0, N_ROWS))
            if alive[i] and known[i]:
                return i

    def take_pool(n: int):
        nonlocal next_pool
        lo, next_pool = next_pool, next_pool + n
        if next_pool > len(v.embedding):  # long runs recycle the pool
            lo, next_pool = N_ROWS, N_ROWS + n
        return v.embedding[lo:next_pool], v.category[lo:next_pool], v.priority[lo:next_pool]

    def check_read(name, resp, q, cat=None, self_id=None):
        if resp is None:
            return
        ids = [r.id for r in resp.results]
        sims = [r.similarity_score for r in resp.results]
        mask = alive if cat is None else alive & (cats == cat)
        exact, rec = topk_agreement(sims, cosine_topk(vecs, mask, q, K))
        recall.append(rec)
        ctx.check(f"{name}.topk", exact, f"scores {sims[:3]}...")
        ctx.check(f"{name}.no_deleted", not deleted.intersection(ids), f"{ids}")
        if self_id is not None:
            ctx.check(
                "query.self_rank1",
                bool(ids) and ids[0] == self_id and sims[0] > 0.999,
                f"want {self_id} got {ids[:1]} {sims[:1]}",
            )
        if cat is not None:
            got = [r.metadata.get("category") for r in resp.results]
            ctx.check("query_filtered.filter", all(c == cat for c in got), f"{got}")

    def step(kind: str, measured: bool = True) -> None:
        """Run one operation, check its answer and keep the mirror in
        step; a measured one also records its latency. Unmeasured ones
        run under other span names, so layer figures skip them."""
        nonlocal vecs, cats, alive, known, expected_count, n_ops, n_compactions, n_written
        name = kind if measured else f"warmup.{kind}"
        maintain = "store.maybe_optimize" if measured else "warmup.maybe_optimize"
        t = time.perf_counter()
        if kind == "query":
            i = live_known_id()
            q = vecs[i]
            resp = ctx.op(name, lambda: client.query(USER, model, q.tolist(), k=K))
            dt = time.perf_counter() - t
            check_read(kind, resp, q, self_id=i)
        elif kind == "query_filtered":
            i = live_known_id()
            q = vecs[i] + 0.05 * rng.standard_normal(DIM).astype(np.float32)
            cat = f"c{int(rng.integers(0, gen.N_CATEGORIES))}"
            resp = ctx.op(name, lambda: client.query(
                USER, model, q.tolist(), k=K, filter_metadata={"category": cat}))
            dt = time.perf_counter() - t
            check_read(kind, resp, q, cat=cat)
        else:
            written = 0
            if kind == "add":
                emb, cat_l, pri = take_pool(ADD_ROWS)
                meta = [{"category": c, "priority": int(p)} for c, p in zip(cat_l, pri)]
                out = ctx.op(name, lambda: _write_then_maintain(
                    ctx, store, maintain,
                    lambda: client.add_vectors(USER, model, emb.tolist(), meta)))
                if out is not None:
                    ctx.check("add.count", out[0]["vectors_added"] == ADD_ROWS, str(out[0]))
                    vecs = np.vstack([vecs, emb])
                    cats = np.concatenate([cats, np.array(cat_l)])
                    alive = np.concatenate([alive, np.ones(ADD_ROWS, bool)])
                    known = np.concatenate([known, np.zeros(ADD_ROWS, bool)])
                    expected_count += ADD_ROWS
                    written = ADD_ROWS
            elif kind == "upsert":
                ids = sorted({live_known_id() for _ in range(UPSERT_ROWS)})
                emb, cat_l, pri = take_pool(len(ids))
                meta = [{"category": c, "priority": int(p)} for c, p in zip(cat_l, pri)]
                out = ctx.op(name, lambda: _write_then_maintain(
                    ctx, store, maintain,
                    lambda: client.upsert_vectors(USER, model, emb.tolist(), ids, meta)))
                if out is not None:
                    res = out[0]
                    ctx.check("upsert.counts",
                              (res["vectors_updated"], res["vectors_inserted"]) == (len(ids), 0),
                              str(res))
                    vecs[ids] = emb
                    cats[ids] = cat_l
                    written = len(ids)
            else:
                ids = sorted({live_known_id() for _ in range(DELETE_ROWS)})
                out = ctx.op(name, lambda: _write_then_maintain(
                    ctx, store, maintain, lambda: store.delete_vectors(ids=ids)))
                if out is not None:
                    ctx.check("delete.count", out[0] == len(ids), f"{out[0]} != {len(ids)}")
                    alive[ids] = False
                    deleted.update(ids)
                    expected_count -= len(ids)
            dt = time.perf_counter() - t
            if measured and out is not None:
                n_compactions += int(out[1])
                n_written += written
        if measured:
            lat[kind].append(dt)
            n_ops += 1

    # one unmeasured cycle first: the measured cycles then time the
    # client paths and compaction, not their first use in a fresh JVM
    for kind in CYCLE:
        step(kind, measured=False)

    undo = _wrap_layers(ctx, store) if tr.traced else []
    end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < end:
        # whole cycles only: every run measures the same op mix
        for kind in CYCLE:
            if tr.traced and kind.startswith("query"):
                files_seen.append(len(store.to_df().inputFiles()))
            step(kind)
    for u in undo:
        u()

    final = store.count()
    ctx.check("final_count", final == expected_count, f"{final} != {expected_count}")
    user_bytes = expected_count * (DIM * 4 + META_BYTES)
    space_amp = input_bytes(store.to_df()) / user_bytes

    meds = median_by_type(lat)
    # every op at its kind's median: one stalled call moves it little
    items_per_s = n_ops / sum(len(lat[k]) * m for k, m in meds.items())
    reads = lat["query"] + lat["query_filtered"]
    writes = lat["add"] + lat["upsert"] + lat["delete"]
    ctx.layers.update(_layer_metrics(ctx, files_seen, n_compactions))
    ctx.notes["user_write_mb"] = n_written * (DIM * 4 + META_BYTES) / 2**20
    return {
        "setup_s": statistics.median(setup_s),
        "op_latency_ms": op_latency_ms(lat),
        "items_per_s": items_per_s,
        "recall_at_10": statistics.mean(recall) if recall else 0.0,
        "space_amp": space_amp,
        "detail": {
            "named": {
                "read_p50_ms": _ms(percentile(reads, 50, 1)),
                "read_p90_ms": _ms(percentile(reads, 90, 100)),
                "write_p50_ms": _ms(percentile(writes, 50, 1)),
                "serve_ops_per_s": items_per_s,
                "space_amp": space_amp,
            },
            "ops": n_ops,
            "reads": len(reads),
            "median_ms": {k: round(x * 1000, 1) for k, x in meds.items()},
            "compactions": n_compactions,
            "setup_runs_s": [round(s, 3) for s in setup_s],
        },
    }


def _ms(seconds: float | None) -> float | None:
    return None if seconds is None else seconds * 1000.0


def _write_then_maintain(ctx: Ctx, store, span: str, write):
    """A client write followed by the small-file maintenance call (timed
    as ``span``); returns (write result, whether a compaction ran)."""
    res = write()
    with ctx.tracer.span(span, group=True) as s:
        n = store.maybe_optimize(max_files=MAX_FILES, target_files=TARGET_FILES)
    s.attrs["compacted"] = n is not None
    return res, n is not None


def _wrap_layers(ctx: Ctx, store) -> list:
    """Traced runs: time the store layer underneath the client."""
    from mlx_vector_db_spark import store as store_mod

    tr = ctx.tracer
    cls = store_mod.VectorStore
    undo = []
    orig_query = cls.query

    def query(self, *a, **kw):
        with tr.span("store.query"):
            df = orig_query(self, *a, **kw)
        tr.switch_group("exec")  # the action the client runs next
        return df

    cls.query = query
    undo.append(lambda: setattr(cls, "query", orig_query))
    for name in ("add_vectors", "upsert_vectors", "delete_vectors"):
        undo.append(tr.wrap(cls, name, f"store.{name}"))
    return undo


def _layer_metrics(ctx, files_seen, n_compactions) -> dict:
    """Per-layer figures known from spans; :func:`layer_events` adds the
    event-log figures after the session stops."""
    tr = ctx.tracer
    if not tr.traced:
        return {}
    ms = lambda xs: statistics.median(xs) * 1000.0 if xs else 0.0  # noqa: E731
    return {
        "store.query.plan_ms": ms(tr.durations("store.query")),
        "store.add_vectors.ms": ms(tr.durations("store.add_vectors")),
        "store.upsert_vectors.ms": ms(tr.durations("store.upsert_vectors")),
        "store.delete_vectors.ms": ms(tr.durations("store.delete_vectors")),
        "store.maybe_optimize.ms": ms(tr.durations("store.maybe_optimize")),
        "store.compactions": float(n_compactions),
        "store.files": statistics.median(files_seen) if files_seen else 0.0,
        "store.write.jobs": statistics.median(
            [s.jobs for s in tr.spans if s.name in WRITE_SPANS]
        ) if any(s.name in WRITE_SPANS for s in tr.spans) else 0.0,
    }


WRITE_SPANS = ("store.add_vectors", "store.upsert_vectors", "store.delete_vectors")


def layer_events(ctx: Ctx, groups: dict) -> dict:
    """Event-log figures: per read, the jobs, tasks, input and action
    time; per write, the bytes written by writes and compactions."""
    from perfbench.spans import GroupStats

    tr = ctx.tracer
    none = GroupStats()
    reads = [s for s in tr.spans if s.name in ("query", "query_filtered") and s.group]
    jobs, tasks, input_mb, exec_ms, self_ms = [], [], [], [], []
    for s in reads:
        plan = groups.get(s.group, none)
        ex = groups.get(f"{s.group}:exec", none)
        jobs.append(plan.jobs + ex.jobs)
        tasks.append(plan.tasks + ex.tasks)
        input_mb.append(plan.input_mb + ex.input_mb)
        exec_ms.append(ex.job_s * 1000.0)
        plan_s = sum(c.duration for c in tr.spans
                     if c.name == "store.query" and c.parent is not None
                     and tr.spans[c.parent] is s)
        self_ms.append(max(0.0, s.duration - plan_s - ex.job_s) * 1000.0)
    writes = [s for s in tr.spans if s.name in ("add", "upsert", "delete") and s.group]
    write_mb = sum(groups.get(s.group, none).output_mb for s in writes)
    compaction_mb = sum(
        groups.get(s.group, none).output_mb for s in tr.spans
        if s.name == "store.maybe_optimize" and s.attrs.get("compacted")
    )
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    user_mb = ctx.notes.get("user_write_mb", 0.0)
    return {
        "client.query.self_ms": med(self_ms),
        "store.query.jobs": med(jobs),
        "store.query.exec_ms": med(exec_ms),
        "store.query.tasks": med(tasks),
        "store.query.input_mb": med(input_mb),
        "store.compaction_mb": compaction_mb,
        "store.write_amp": (write_mb + compaction_mb) / user_mb if user_mb else 0.0,
    }
