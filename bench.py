#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall time of all benchmarked queries. The
``queries`` map carries per-query seconds only; the top-level
``knn_batch_qps`` is a throughput figure (batched queries/sec — the
BASELINE.md comparison point; the reference reports serial single-query
QPS, we report the batch-throughput equivalent per SURVEY.md §6
caveats).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from mlx_vector_db_spark.queries import QUERIES, prewarm  # noqa: E402
from mlx_vector_db_spark.session import get_spark, release_intermediates  # noqa: E402

#: the per-round benchmark set: the vector hot path (both physical
#: strategies), the heaviest relational plans, and the pipeline ops
BENCH_QUERIES = [
    "knn_cosine_topk",
    "knn_cosine_filtered",
    "ivf_knn",
    "pq_knn",
    "bq_knn",
    "mmr_rerank_topk",
    # r11: the late-interaction flagship (expression strategy at the
    # catalog shape; the blocked sweep's decade rows live in
    # BENCH_r11_maxsim_decades.json)
    "maxsim_topk",
    # r12: the PLAID-shaped funnel over persisted artifacts — search
    # only (build amortized in prewarm), giving the sf100 finding a
    # tracked sf0.1 band
    "maxsim_funnel_topk",
    "pricing_summary",
    "top_orders",
    "region_revenue",
    "top_customers_per_nation",
    "events_hourly",
    "events_sliding",
    "events_asof_purchase",
    "text_stats",
    "dedup_exact",
    "minhash_neardup_pairs",
    "text_jaccard_pairs",
    "text_jaccard_capped",
    "text_jaccard_autocap",
    "curation_pipeline",
    "chunk_documents",
    "embed_docs_384",
    "doc_repetition",
    "doc_perplexity",
    "ngram_contamination",
    "bm25_topk",
    "hybrid_rrf",
    "winnow_crossdoc_pairs",
    "bpe_pair_counts",
    "vocab_coverage",
    "dsir_weights",
    "doc_perplexity_bigram",
    "dq_audit",
]


def _consume(df) -> None:
    """Force full execution of every output column without collecting to
    the driver (a bare count() would let Catalyst prune projection-only
    plans down to nothing)."""
    df.write.format("noop").mode("overwrite").save()


#: timed repetitions per query — the reported figure is the MEDIAN, so a
#: concurrently loaded host (the round driver runs other work) doesn't
#: alias one unlucky run into a plan-regression signal
N_REPS = 3

#: jiffies per second for /proc/stat deltas (Linux USER_HZ is 100
#: everywhere this runs; the value only scales a diagnostic)
_JIFFIES_HZ = 100.0


def _steal_jiffies() -> int:
    """Cumulative hypervisor-steal jiffies from /proc/stat (column 9 of
    the aggregate cpu line), 0 when unreadable (non-Linux, bare metal
    reporting no steal). Two samples bracket the bench run; the delta
    converts rows that look like engine regressions into attributable
    host weather."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if len(parts) > 8 else 0
    except Exception:
        return 0

#: noise sentinel: one fixed, plan-stable query re-timed at the start,
#: middle, and end of the bench. Its medians move ONLY with host load
#: (the plan never changes within a run), so the ratio max/min of the
#: three is an in-artifact estimate of the session's environmental
#: noise band — a cross-round delta inside the recorded band is
#: weather, not a plan regression (the r6 driver run inflated every
#: untouched query ~1.2x vs a flat same-machine sidecar, which made
#: regressions unreadable without this).
SENTINEL = "region_revenue"

#: second sentinel for the PYTHON-WORKER regime: a fixed Arrow-batched
#: mapInPandas plan (the chunker over a 256-doc slice). The JVM
#: sentinel is blind to Python-worker slowdowns — observed same-day
#: local runs where every mapInPandas-heavy query ran 2-3x slower
#: while region_revenue (and vmstat idle%) stayed flat — so the noise
#: band must watch both execution regimes.
PY_SENTINEL = "chunk_256"


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    return xs[len(xs) // 2] if len(xs) % 2 else (xs[len(xs) // 2 - 1] + xs[len(xs) // 2]) / 2


def main() -> int:
    """Per-query error isolation everywhere: one broken plan must never
    zero the round's bench artifact (round 2 lost ALL its numbers to a
    single AnalysisException in the warm-up loop). Failed queries record
    -1 with an error marker; the JSON line always prints. Returns the
    exit code: 0 when clean, 1 when any query or warm-up step errored
    (consumers keying off the exit code see breakage; the JSON still
    carries every number that survived)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    errors: dict[str, str] = {}
    steal0 = _steal_jiffies()

    # steady-state measurement: warm the JVM/codegen and the page cache
    # (one pass over each input table + one tiny windowed query) before
    # any timer starts — round-over-round numbers then compare plans,
    # not first-touch costs
    for t in ["embeddings", "documents", "events", "lineitem", "orders",
              "customer", "supplier", "part", "nation", "region"]:
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        except Exception as exc:  # noqa: BLE001 — isolation by design
            errors[f"warm_scan:{t}"] = repr(exc)[:300]
    # spin up one Python worker per core so pandas-UDF queries measure
    # compute, not daemon fork/Arrow-init (workers are reused after):
    # the chunker repartitions to defaultParallelism internally, so a
    # tiny slice touches every worker slot
    try:
        from mlx_vector_db_spark.functions.text import chunk_documents

        docs_warm = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(256)
        chunk_documents(docs_warm, chunk_size=400, overlap=50).count()
    except Exception as exc:  # noqa: BLE001
        errors["warm_chunker"] = repr(exc)[:300]
    # index BUILDS are one-time persisted artifacts (store.build_index /
    # queries._ivf_artifact), not per-query work: build them here so the
    # timed ivf_knn below measures index *search*, matching the
    # reference's search-vs-build split (performance/hnsw_index.py:79-129).
    try:
        prewarm(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        errors["prewarm"] = repr(exc)[:300]
    # one untimed warm pass per benchmarked query: whole-stage codegen
    # compilation and Python-worker spin-up are per-PLAN first-touch
    # costs (multi-second on a slow-JIT host), not per-run costs — a
    # steady-state benchmark measures the plan, so pay them off-clock
    for name in BENCH_QUERIES:
        try:
            _consume(QUERIES[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            errors[name] = repr(exc)[:300]

    def _sentinel_median() -> float:
        try:
            reps = []
            for _ in range(N_REPS):
                t0 = time.perf_counter()
                _consume(QUERIES[SENTINEL](spark, sf_dir))
                reps.append(time.perf_counter() - t0)
            return round(_median(reps), 4)
        except Exception as exc:  # noqa: BLE001 — isolation by design
            errors[f"sentinel:{SENTINEL}"] = repr(exc)[:300]
            return -1.0

    def _py_sentinel_median() -> float:
        try:
            from mlx_vector_db_spark.functions.text import chunk_documents

            docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(256)
            reps = []
            for _ in range(N_REPS):
                t0 = time.perf_counter()
                _consume(chunk_documents(docs, chunk_size=400, overlap=50))
                reps.append(time.perf_counter() - t0)
            return round(_median(reps), 4)
        except Exception as exc:  # noqa: BLE001
            errors[f"sentinel:{PY_SENTINEL}"] = repr(exc)[:300]
            return -1.0

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    sentinel_meds: list[float] = [_sentinel_median()]
    py_sentinel_meds: list[float] = [_py_sentinel_median()]
    total = 0.0
    for i, name in enumerate(BENCH_QUERIES):
        if i == len(BENCH_QUERIES) // 2:
            sentinel_meds.append(_sentinel_median())
            py_sentinel_meds.append(_py_sentinel_median())
        if name in errors:
            timings[name] = -1.0  # broke in warm-up: don't re-crash
            continue
        try:
            fn = QUERIES[name]
            reps: list[float] = []
            for _ in range(N_REPS):
                t0 = time.perf_counter()
                _consume(fn(spark, sf_dir))
                reps.append(time.perf_counter() - t0)
            dt = _median(reps)
            timings[name] = round(dt, 3)
            spreads[name] = round(max(reps) - min(reps), 3)
            total += dt
        except Exception as exc:  # noqa: BLE001
            timings[name] = -1.0
            errors[name] = repr(exc)[:300]
        # off-clock: free dead checkpoint blocks between queries so a
        # long bench measures plans, not cumulative storage pressure
        release_intermediates(spark)
    sentinel_meds.append(_sentinel_median())
    py_sentinel_meds.append(_py_sentinel_median())

    # batched-throughput figure: every embedding row queries the whole
    # table at once (N x N scoring + per-query top-10), the batch
    # equivalent of the reference's QPS benchmarks
    knn_batch_qps = -1.0
    try:
        from mlx_vector_db_spark.operators.knn import knn_join_blocked

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n_q = emb.count()
        queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
        _consume(  # warm this plan too before timing it
            knn_join_blocked(emb, queries, k=10, vec_col="embedding", id_col="vec_id")
        )
        # off-clock GC fence: drop dead checkpoint blocks and take the
        # full-GC hit NOW so the session's periodic cleaner GC (5min
        # interval, session.py) is less likely to land inside a timed
        # rep of the longest query in the bench (the r7 sf1 artifact's
        # +45% on this row had no spread recorded to rule that out)
        release_intermediates(spark)
        reps = []
        for _ in range(N_REPS):
            t0 = time.perf_counter()
            _consume(
                knn_join_blocked(emb, queries, k=10, vec_col="embedding", id_col="vec_id")
            )
            reps.append(time.perf_counter() - t0)
        dt = _median(reps)
        timings["knn_batch_all_vs_all"] = round(dt, 3)
        spreads["knn_batch_all_vs_all"] = round(max(reps) - min(reps), 3)
        knn_batch_qps = round(n_q / dt, 1)
        total += dt
    except Exception as exc:  # noqa: BLE001
        timings["knn_batch_all_vs_all"] = -1.0
        errors["knn_batch_all_vs_all"] = repr(exc)[:300]

    good = [m for m in sentinel_meds if m > 0]
    out = {
        "metric": "bench_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "reps_per_query": N_REPS,
        "queries": timings,
        # batched queries/sec of knn_batch_all_vs_all — its own key, as
        # every value in ``queries`` is seconds
        "knn_batch_qps": knn_batch_qps,
        # max-min over the N_REPS of each query, in seconds: how much a
        # single query's repetitions wobbled within this session
        "spread": spreads,
        # the same plan timed at bench start/middle/end: drift here is
        # host weather, not code — cross-round per-query deltas within
        # noise_band (= max/min of the three medians) are not plan
        # regressions
        "sentinel": {"query": SENTINEL, "medians": sentinel_meds},
        "py_sentinel": {"query": PY_SENTINEL, "medians": py_sentinel_meds},
        "noise_band": round(max(good) / min(good), 3) if good else -1.0,
        # Python-worker-regime band: mapInPandas/Arrow queries can slow
        # 2-3x while the JVM band stays flat (observed same-day) — a
        # cross-round delta on a Python-heavy query is weather when it
        # sits inside THIS band
        "py_noise_band": (
            round(max(g) / min(g), 3)
            if (g := [m for m in py_sentinel_meds if m > 0])
            else -1.0
        ),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # hypervisor steal accumulated across the whole bench run, in
        # CPU-seconds (0.0 on bare metal / when unreadable): the r10
        # sf1 session saw a weather window where steal alone pushed the
        # flagship row 15x off its quiet-host band — a nonzero value
        # here is the direct evidence that a wild row is the HOST's
        # doing, complementing the two sentinels (which sample only
        # three instants)
        "steal_cpu_sec": round((_steal_jiffies() - steal0) / _JIFFIES_HZ, 1),
    }
    if errors:
        out["errors"] = errors
    line = json.dumps(out)
    print(line)
    # defensive copy of the SAME line beside stdout: the r12 round lost
    # its whole PERF comparison to a truncated stdout tail
    # (BENCH_r12.json parsed: null). Best-effort — never fail the bench
    # over it.
    try:
        sidecar = os.environ.get("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_last_line.json")
        with open(sidecar, "w") as fh:
            fh.write(line + "\n")
    except OSError:
        pass
    return 1 if errors else 0


if __name__ == "__main__":
    try:
        rc = main()
    except Exception as exc:  # noqa: BLE001 — last-resort: still emit a line
        print(
            json.dumps(
                {
                    "metric": "bench_total_wall",
                    "value": -1.0,
                    "unit": "sec",
                    "queries": {},
                    "sf": -1,
                    "errors": {"fatal": repr(exc)[:500]},
                }
            )
        )
        rc = 1
    sys.exit(rc)
