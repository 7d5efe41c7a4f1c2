"""What every workload shares: the run context, correctness
bookkeeping, input staging, brute-force oracles and metric reducers."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.spans import Tracer

#: similarity tolerance when comparing engine scores to numpy's: the
#: engine scores in float32/float64 kernels whose summation order differs
SCORE_TOL = 1e-4


@dataclass
class Ctx:
    """One benchmark run."""

    spark: object
    tracer: Tracer
    tmp: Path  # scratch directory inside the checkout, removed at exit
    state: Path  # survives runs: output hashes keyed by seed
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    #: per-layer metrics (traced runs); filled by each workload
    layers: dict = field(default_factory=dict)
    #: values a workload hands from its run to its event-log reduction
    notes: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Count one correctness check; a failure is recorded, not raised."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{name}: {detail}"[:300])
        return ok

    def op(self, name: str, fn):
        """Run one user operation inside a grouped span. An exception is
        a failed operation: counted, recorded, and returned as None."""
        self.attempted += 1
        try:
            with self.tracer.span(name, group=True):
                return fn()
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return None


def write_parquet(path: Path, **cols) -> str:
    """Stage generated columns as one parquet file (2-D float arrays
    become ``array<float>`` columns)."""
    arrays = {}
    for name, col in cols.items():
        if isinstance(col, np.ndarray) and col.ndim == 2:
            flat = pa.array(np.ascontiguousarray(col, dtype=np.float32).reshape(-1))
            arrays[name] = pa.FixedSizeListArray.from_arrays(flat, col.shape[1]).cast(
                pa.list_(pa.float32())
            )
        else:
            arrays[name] = pa.array(col)
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(arrays), str(path))
    return str(path)


def input_bytes(df) -> int:
    """Bytes on disk of the files a DataFrame reads."""
    total = 0
    for uri in df.inputFiles():
        p = Path(uri.split(":", 1)[1] if uri.startswith("file:") else uri)
        try:
            total += p.stat().st_size
        except OSError:
            continue
    return total


def cosine_topk(base: np.ndarray, alive: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """The k best cosine similarities of ``q`` over the alive rows."""
    bn = base / np.maximum(np.linalg.norm(base, axis=1, keepdims=True), 1e-12)
    s = bn @ (q / max(np.linalg.norm(q), 1e-12))
    s = s[alive]
    if len(s) <= k:
        return np.sort(s)[::-1]
    return np.sort(np.partition(s, -k)[-k:])[::-1]


def ids_agree(got_ids, scores: np.ndarray, k: int) -> bool:
    """Are the engine's top-k ids numpy's top-k over ``scores`` (one
    per row id, ``-inf`` for rows that must not come back), ties broken
    by id? Ids whose true score lies within SCORE_TOL of the k-th best
    may trade places: the engine sums in another order."""
    order = np.lexsort((np.arange(len(scores)), -scores))[: min(k, int(np.isfinite(scores).sum()))]
    if len(order) == 0:
        return len(got_ids) == 0
    kth = scores[order[-1]]
    got = [int(i) for i in got_ids]
    sure = {int(i) for i in order if scores[i] > kth + SCORE_TOL}
    return (
        len(got) == len(order) == len(set(got))
        and sure <= set(got)
        and all(0 <= i < len(scores) and scores[i] >= kth - SCORE_TOL for i in got)
    )


def topk_agreement(got: list[float], want: np.ndarray) -> tuple[bool, float]:
    """(exact?, recall): does the engine's score list equal the
    brute-force top-k (within SCORE_TOL), and what share of the true
    top-k scores does it reproduce."""
    got_sorted = sorted(got, reverse=True)
    exact = len(got_sorted) == len(want) and all(
        abs(a - b) <= SCORE_TOL for a, b in zip(got_sorted, want)
    )
    if len(want) == 0:
        return exact, 1.0
    floor = want[-1] - SCORE_TOL
    hits = sum(1 for s in got_sorted[: len(want)] if s >= floor)
    return exact, hits / len(want)


def op_latency_ms(samples: dict[str, list[float]]) -> float:
    """Geometric mean latency (ms) over the operation types, each type
    at its median and weighted by its share of the operations: every
    type counts as often as it runs, and one stalled call moves the
    figure little."""
    meds = {k: statistics.median(v) for k, v in samples.items() if v}
    n = sum(len(samples[k]) for k in meds)
    if not n:
        return 0.0
    return math.exp(sum(len(samples[k]) * math.log(m) for k, m in meds.items()) / n) * 1000.0


def median_by_type(samples: dict[str, list[float]]) -> dict[str, float]:
    return {k: statistics.median(v) for k, v in samples.items() if v}


def row_hash(values) -> int:
    """Order-insensitive digest contribution of one output row; floats
    are rounded to 6 significant digits so summation order cannot move
    the hash."""
    import hashlib

    def norm(v):
        if isinstance(v, float):
            return float(f"{v:.6g}") if math.isfinite(v) else str(v)
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in sorted(v.items())}
        return v

    h = hashlib.blake2b(repr(norm(list(values))).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big")


def rows_hash(rows) -> str:
    return f"{sum(row_hash(r) for r in rows) % (1 << 64):016x}"
