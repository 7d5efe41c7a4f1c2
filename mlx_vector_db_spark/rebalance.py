"""Parallelism guard for CPU-bound per-row operators.

Compute-heavy projections (shingling, hashing, chunking) inherit the
scan's partitioning. A table packed into fewer files than the session
has cores — a single-file local table, or an over-compacted dimension
at scale — serializes that work onto a handful of tasks regardless of
cluster size. The guard shuffles the *narrow* projection (a few MB of
id + text) out to the default parallelism only when the input is
under-partitioned; any real wide scan (a 100 TB table is thousands of
splits) passes through untouched, shuffle-free.

Known hazard (found r4): the guard protects PROJECTIONS, but predicate
pushdown can hop over the repartition — a ``where()`` on expensive
computed columns gets its aliases inlined into a Filter BELOW this
exchange, serializing exactly the compute the rebalance spreads onto
the raw scan's few input partitions. When filtering on heavy signals,
wrap the signal projection in :func:`pushdown_barrier` first (see
``q_curation_pipeline``) — pushdown cannot cross an RDD scan.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame

__all__ = [
    "rebalance_for_compute",
    "pushdown_barrier",
    "LIGHT_KERNEL_SPLIT_BYTES",
    "HEAVY_KERNEL_SPLIT_BYTES",
]


def _split_preset(env: str, default: int) -> int:
    """Per-kernel-class bytes/task presets, env-overridable so a
    deployment can retune them to its hardware (cpu-s per compressed MB
    is a hardware constant, not a scale constant) without a code edit.
    The defaults are the values measured on this host."""
    try:
        return max(1, int(os.environ.get(env, default)))
    except ValueError:
        return default


#: ``split_bytes`` preset for tokenize-class kernels (lowercase + regex
#: split + explode): ~0.5-1 cpu-s per compressed MB, so 256 KB/task
#: keeps tasks in the tens-of-ms range where per-task fixed cost stays
#: small relative to compute.
LIGHT_KERNEL_SPLIT_BYTES = _split_preset(
    "SPARK_GRAFT_LIGHT_SPLIT_BYTES", 256 << 10
)

#: ``split_bytes`` preset for the HEAVY per-row kernels (md5 n-gram
#: hashing, K=128 minhash permutation HOFs, 64-bit simhash votes:
#: several cpu-s per compressed MB). r13 ran these at unconditional
#: full width on the claim "strictly faster even at 0.6 MB", but the
#: r13 driver's 8-core sidecar contradicted it: minhash 8c/32c ratio
#: 0.28, dsir 0.35 — 32 narrow tasks over a sub-MB corpus pay more
#: fixed per-task cost and host-jitter exposure than the extra cores
#: return (the r13 A/B had only compared serial-vs-full-width, never
#: an intermediate). ~48 KB/task puts a 0.6 MB corpus at ~13 tasks
#: (measured r14: at or faster than full width at sf0.1 with a
#: fraction of the spread) and anything >=1.5 MB at full width, so
#: sf1/sf10 behavior is unchanged.
HEAVY_KERNEL_SPLIT_BYTES = _split_preset(
    "SPARK_GRAFT_HEAVY_SPLIT_BYTES", 48 << 10
)


def pushdown_barrier(df: DataFrame, cache: bool = True) -> DataFrame:
    """Stop predicate pushdown from hopping below this point.

    Use when a downstream ``where()`` references EXPENSIVE computed
    columns over a rebalanced frame: Catalyst inlines deterministic
    aliases into the pushed filter, which then executes below the
    rebalance exchange — on the raw scan's (few) input partitions,
    serializing exactly the compute :func:`rebalance_for_compute`
    spreads.

    ``cache=True`` (default): a lazy ``localCheckpoint`` truncates the
    lineage to an RDD scan, which no rule pushes through; it also caches
    the frame, which is what a multiply-consumed signal table wants.
    TRADEOFFS the caller owns: the cached blocks live until the
    DataFrame is garbage-collected (repeated pipeline builds in a long
    session accumulate executor storage until the context cleaner runs),
    and a localCheckpoint is NOT recomputable — losing an executor fails
    the job instead of recomputing lineage.

    ``cache=False``: a JVM-side RDD round-trip — same pushdown fence
    (an RDD scan boundary), but nothing is cached, lineage stays
    recomputable on executor loss, and rows never cross into Python.
    Cost: the frame is deserialized from Tungsten rows once and the
    codegen stage splits at the boundary; re-consuming the result
    recomputes it. Pick this for single-consumer fences in long-lived
    sessions.
    """
    if cache:
        return df.localCheckpoint(eager=False)
    spark = df.sparkSession
    try:
        jdf = df._jdf
        fenced = spark._jsparkSession.createDataFrame(jdf.javaRDD(), jdf.schema())
        return DataFrame(fenced, spark)
    except Exception:  # pragma: no cover — connect / internal-API drift
        # the caller opted OUT of caching (long-session block pinning,
        # non-recomputable lineage); falling back silently would
        # reintroduce exactly that — make the substitution visible
        import warnings

        warnings.warn(
            "pushdown_barrier(cache=False): JVM RDD fence unavailable "
            "(Spark Connect or internal-API drift); falling back to a "
            "caching localCheckpoint — blocks stay resident until GC "
            "and lineage is not recomputable on executor loss",
            RuntimeWarning,
            stacklevel=2,
        )
        return df.localCheckpoint(eager=False)


#: (applicationId, analyzed-plan semanticHash, target) ->
#: under-partitioned? Bounded; cleared wholesale rather than LRU — the
#: probe it saves is cheap enough that a cold restart costs one plan
#: conversion per shape. Keying on the applicationId means a session
#: restart can never serve the previous application's decisions; within
#: one application a table whose FILE COUNT changed under an identical
#: plan (semanticHash canonicalizes the plan, not the listing) can still
#: serve one stale decision — consequence is a missing or extra
#: repartition of a narrow projection, never wrong results.
_PROBE_CACHE: dict[tuple[str, int, int], bool] = {}
_PROBE_CACHE_MAX = 1024


def _row_group_starved(narrow: DataFrame, target: int) -> bool:
    """True when ``narrow`` scans parquet files whose TOTAL row-group
    count is below ``target`` — partition-count blindness found r12:
    file splits are byte ranges, but a parquet ROW GROUP is the atomic
    read unit, so a table of few fat-row-group files PLANS ``target``
    splits while only the row-group-owning splits carry any rows. A
    5-file store (500k rows/file, single default-128 MB row group each)
    planned 32 splits for the 100k x 2M blocked kNN sweep; FOUR tasks
    carried 484k rows each and 28 read nothing — the 25-TFLOP GEMM ran
    4-way and the stage took ~5x its fair-share time
    (BENCH_r12_saturation.json). Engine-written tables now bound row
    groups at 32 MB (session.py), but foreign tables can still arrive
    fat — this probe reads ONLY footer metadata, driver-side, no Spark
    job, and only when the scan has fewer files than ``target`` (a real
    wide table short-circuits on file count alone).
    """
    try:
        files = narrow.inputFiles()
    except Exception:  # pragma: no cover — connect / non-file plans
        return False
    if not files or len(files) >= target:
        return False
    try:
        import urllib.parse

        import pyarrow.parquet as papq

        groups = 0
        for f in files:
            if not f.endswith(".parquet"):
                return False
            parsed = urllib.parse.urlparse(f)
            if parsed.scheme not in ("", "file"):
                # remote FS: footer reads need a remote client; the
                # writer-side row-group bound is the defense there
                return False
            groups += papq.ParquetFile(
                urllib.parse.unquote(parsed.path)
            ).metadata.num_row_groups
            if groups >= target:
                return False
        return True
    except Exception:  # pragma: no cover — unreadable footer
        return False


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _planned_partitions(narrow: DataFrame) -> int:
    """How many partitions ``narrow`` will run with, read from its
    physical plan: one planning pass and no Spark job.

    ``df.rdd.getNumPartitions()`` answers exactly but is not free: under
    AQE, building the RDD materialises every shuffle stage in the plan,
    so on a computed frame (a scan semi-joined against a candidate set)
    the probe ran the whole pipeline once while planning and again at
    the action. The walk reads the node that decides the count instead:

    - a leaf builds its RDD (driver-side file splits, no job); a cached
      frame reads its cached plan;
    - a ``repartition(n)`` exchange keeps ``n``, and a single-partition
      node is 1;
    - any other shuffle is coalesced by AQE from its map-output size.
      Parallelism-first coalescing keeps ``target`` partitions once the
      shuffle holds ``minPartitionSize`` per core (``advisoryPartition
      SizeInBytes`` otherwise), so the planner's size estimate of the
      frame stands in for the run-time size;
    - a union sums its children; a broadcast side never sets the count.
    """
    spark = narrow.sparkSession
    qe = narrow._jdf.queryExecution()

    def coalesced(n: int) -> int:
        conf = spark.conf
        if (
            conf.get("spark.sql.adaptive.enabled") != "true"
            or conf.get("spark.sql.adaptive.coalescePartitions.enabled") != "true"
        ):
            return n
        per_part = conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize"
            if conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
            == "true"
            else "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        )
        per_part = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            per_part
        )
        est = int(qe.optimizedPlan().stats().sizeInBytes())
        return max(1, min(n, est // max(1, per_part)))

    def walk(node) -> int:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name == "InMemoryTableScanExec":
            return walk(node.relation().cachedPlan())
        if node.outputPartitioning().numPartitions() == 1:
            return 1
        if name == "ShuffleExchangeExec":
            n = node.numPartitions()
            if node.shuffleOrigin().toString() == "REPARTITION_BY_NUM":
                return n
            return coalesced(n)
        kids = [
            c for c in _children(node)
            if c.outputPartitioning().getClass().getSimpleName()
            != "BroadcastPartitioning"
        ]
        if not kids:
            return node.execute().getNumPartitions()
        if name == "UnionExec":
            return sum(walk(c) for c in kids)
        n = walk(kids[0])
        return min(n, node.numPartitions()) if name == "CoalesceExec" else n

    return walk(qe.executedPlan())


def _under_partitioned(narrow: DataFrame, target: int) -> bool:
    """True when ``narrow`` plans to fewer than ``target`` partitions —
    or plans enough SPLITS but scans fewer than ``target`` parquet row
    groups (see :func:`_row_group_starved`), which starves compute just
    the same.

    The count comes from :func:`_planned_partitions`: one physical
    planning pass, no job. Planning is cheap but nonzero, and this
    guard sits inside every signature/curation operator, so the
    decision is memoized on the ANALYZED plan's semanticHash: same
    logical plan + same parallelism → same answer, and repeated
    invocations over the same table (bench reps, multi-stage pipelines
    re-deriving a projection) skip the planning. A table whose file
    count changed under an identical plan can serve one stale decision;
    the consequence is a missing or extra repartition of a narrow
    projection, never wrong results. Where the plan cannot be read
    (Spark Connect, internal-API drift) the guard stays off.
    """
    try:
        key = (
            narrow.sparkSession.sparkContext.applicationId,
            narrow._jdf.queryExecution().analyzed().semanticHash(),
            target,
        )
    except Exception:  # pragma: no cover — connect / internal-API drift
        return False
    hit = _PROBE_CACHE.get(key)
    if hit is None:
        try:
            hit = _planned_partitions(narrow) < target
        except Exception:  # pragma: no cover — internal-API drift
            hit = False
        hit = hit or _row_group_starved(narrow, target)
        if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
            _PROBE_CACHE.clear()
        _PROBE_CACHE[key] = hit
    return hit


def _input_bytes(narrow: DataFrame) -> int | None:
    """Total size of the local files the plan scans, or None when the
    inputs are not local files (remote FS, RDD lineage, views over
    non-file sources). Driver-side metadata only — no job."""
    try:
        import urllib.parse
        from pathlib import Path

        files = narrow.inputFiles()
        if not files:
            return None
        total = 0
        for f in files:
            parsed = urllib.parse.urlparse(f)
            if parsed.scheme not in ("", "file"):
                return None
            total += Path(urllib.parse.unquote(parsed.path)).stat().st_size
        return total
    except Exception:  # pragma: no cover — connect / listing drift
        return None


def rebalance_for_compute(
    df: DataFrame, *cols: str | Column, split_bytes: int | None = None
) -> DataFrame:
    """Project ``df`` down to ``cols`` (all columns when omitted) and,
    if the plan has fewer partitions than ``defaultParallelism``, round-
    robin repartition it so the downstream per-row compute uses every
    core. The partition-count probe plans the query but launches no job
    (see :func:`_planned_partitions`), and is memoized per plan
    fingerprint (see :func:`_under_partitioned`).

    ``split_bytes`` makes the width SCALE-ADAPTIVE for lighter kernels:
    the repartition width becomes ``clamp(input_bytes / split_bytes, 2,
    defaultParallelism)`` instead of always the full core count. Measured
    r13 (paired fresh-process A/B): full-width rebalance of the
    tokenize-class LM passes pays ~50 ms of fixed per-task CPU x 32
    tasks x N stages, which at a 0.6 MB corpus costs MORE than the
    serial scan it replaces (doc_perplexity 1.48 -> 2.26 s at sf0.1)
    while the same rebalance wins 1.9x at sf1 (2.86 -> 1.48 s). A
    bytes-proportional width keeps both regimes: tiny input -> a couple
    of tasks (~serial, no overhead cliff), big input -> full width.
    Tokenize-class callers pass ``LIGHT_KERNEL_SPLIT_BYTES``; callers
    whose per-byte compute is heavy (md5 n-gram hashing, K=128 minhash
    permutations, simhash votes) pass ``HEAVY_KERNEL_SPLIT_BYTES``, which
    reaches full width from ~1.5 MB (measured r14). A caller that omits
    it (the vector kernels do) gets full width whenever the frame is
    under-partitioned. When
    the input bytes cannot be read (remote FS, non-file lineage) the
    width falls back to full parallelism — at cluster scale the guard
    is a no-op anyway (any real wide table passes the partition-count
    check)."""
    narrow = df.select(*cols) if cols else df
    sc = narrow.sparkSession.sparkContext
    target = sc.defaultParallelism
    if _under_partitioned(narrow, target):
        width = target
        if split_bytes:
            b = _input_bytes(narrow)
            if b is not None:
                width = max(2, min(target, -(-b // int(split_bytes))))
        narrow = narrow.repartition(width)
    return narrow
