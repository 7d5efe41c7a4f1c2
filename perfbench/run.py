#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from ``--seed``, measures for at least
``--seconds`` seconds on ``local[nproc]``, checks every output, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` turns on the
Spark event log, job groups and layer wrappers and reports the
per-layer metrics instead. ``setup_s`` is the session start plus the
workload's own set-up (the median of its repetitions). One JSON record
on stderr carries the workload's user-facing figures by name, unit and
direction (``named``; ``fail_ratio`` among them), the host-noise record
(hypervisor steal and a fixed sentinel timing at start and end), per-op
medians and the first failures.

Runs from any working directory: the repository root is the parent of
this file's directory. Scratch files live under ``.perfbench/`` in that
root and are removed at exit; ``.perfbench/state`` keeps per-seed output
hashes and the last untraced result of each workload.

The engine runs with its own session defaults (driver heap included);
the benchmark adds only the event log and its scratch paths. At that
default G1 sizes the JVM heap from GC timing, so the JVM's resident
memory is reported per layer (``jvm.peak_rss_mb``) and in the named
whole-tree ``peak_rss_mb``, while the gated ``py_peak_rss_mb`` covers
the Python processes. ``perfbench/layers.json`` lists which per-layer
metrics and user-facing figures each workload must report, and every
run is checked against it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("serve_mixed", "batch_search", "corpus_ingest")


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover — non-Linux
        return os.cpu_count() or 1


def _prepare_env(tmp: Path) -> None:
    """Everything the session and its Python workers need, set before
    the JVM starts: workers import the package through PYTHONPATH, and
    every scratch path points inside the checkout."""
    for d in ("local", "warehouse", "tmp"):
        (tmp / d).mkdir(parents=True, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + py_path if py_path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(tmp / "warehouse")
    os.environ["TMPDIR"] = str(tmp / "tmp")


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to kill
            proc.kill()
            proc.wait()


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _expected(workload: str) -> tuple[set, dict]:
    """(per-layer metric names, user-facing figures by name with unit and
    direction) that ``perfbench/layers.json`` lists for the workload."""
    doc = json.loads((ROOT / "perfbench" / "layers.json").read_text())
    layers = {m for e in doc["layers"] if workload in e["workloads"] for m in e["metrics"]}
    named = {k: e for k, e in doc["named"].items() if workload in e["workloads"]}
    return layers, named


def _metrics(declared: list[dict], values: dict) -> dict:
    """The result line's metrics: every declared metric with its unit."""
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}


def _overhead_pct(state: Path, workload: str, seed: int, traced_ms: float) -> float:
    """Traced vs untraced op latency, against the untraced run of the
    same seed if this checkout has one, else the workload's latest."""
    best = None
    for path in sorted(state.glob(f"untraced-{workload}-*.json"), key=os.path.getmtime):
        rec = json.loads(path.read_text())
        if best is None or rec["seed"] == seed or best["seed"] != seed:
            best = rec
    if not best or not best.get("op_latency_ms"):
        return 0.0
    return 100.0 * (traced_ms / best["op_latency_ms"] - 1.0)


def _named(expected: dict, named: dict, values: dict, peak_rss_mb: float, ctx) -> dict:
    """The workload's user-facing figures by name, unit and direction;
    a value of None means the run had too few samples for it."""
    named = dict(named, setup_s=values["setup_s"], peak_rss_mb=peak_rss_mb,
                 fail_ratio=ctx.failed / max(1, ctx.attempted))
    if set(named) != set(expected):
        raise RuntimeError(f"named figures {sorted(named)}, not {sorted(expected)}")
    return {
        k: {"value": named[k], "unit": e["unit"], "better": e["better"]}
        for k, e in expected.items()
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "mlx_vector_db_spark" / "__init__.py").is_file():
        print(f"perfbench: no mlx_vector_db_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    tmp = ROOT / ".perfbench" / f"run-{os.getpid()}"
    state = ROOT / ".perfbench" / "state"
    state.mkdir(parents=True, exist_ok=True)
    _prepare_env(tmp)
    sys.path.insert(0, str(ROOT))

    from perfbench import batch, corpus, serve, spans
    from perfbench.common import Ctx

    module = {"serve_mixed": serve, "batch_search": batch, "corpus_ingest": corpus}[args.workload]
    steal0, sent0 = spans.steal_jiffies(), spans.sentinel_ms()
    extra = {
        # the engine's own -Xss16m (this key replaces it), plus options
        # that keep the JVM's files inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Xss16m -XX:-UsePerfData -Djava.io.tmpdir={tmp / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        (tmp / "events").mkdir()
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = (tmp / "events").as_uri()
        extra["spark.eventLog.compress"] = "false"
    try:
        with spans.RssSampler() as rss:
            from mlx_vector_db_spark.session import get_spark

            t = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
            session_s = time.perf_counter() - t
            try:
                tracer = spans.Tracer(spark if args.trace else None)
                ctx = Ctx(spark, tracer, tmp, state, args.seed, args.seconds)
                values = module.run(ctx)
            finally:
                _stop_spark(spark)
        steal1, sent1 = spans.steal_jiffies(), spans.sentinel_ms()
        detail = values.pop("detail", {})
        values["py_peak_rss_mb"] = rss.py_peak_mb
        if set(values) != {m["name"] for m in spec["end_to_end"]}:
            raise RuntimeError(f"{args.workload} end-to-end metrics {sorted(values)}")
        values["setup_s"] += session_s  # starting the session is set-up too
        want_layers, want_named = _expected(args.workload)
        named = _named(want_named, detail.pop("named"), values, rss.peak_mb, ctx)
        if args.trace:
            groups = spans.parse_event_log(str(tmp / "events"))
            layers = dict(ctx.layers)
            layers.update(module.layer_events(ctx, groups))
            layers["session.start_s"] = session_s
            layers["jvm.peak_rss_mb"] = rss.jvm_peak_mb
            layers["trace.overhead_pct"] = _overhead_pct(
                state, args.workload, args.seed, values["op_latency_ms"])
            if set(layers) != want_layers:
                raise RuntimeError(f"{args.workload} layers differ from perfbench/layers.json: "
                                   f"{sorted(set(layers) ^ want_layers)}")
            # layers this workload does not exercise did no work: 0
            metrics = _metrics(spec["per_layer"], {**dict.fromkeys(
                (m["name"] for m in spec["per_layer"]), 0.0), **layers})
        else:
            (state / f"untraced-{args.workload}-{args.seed}.json").write_text(json.dumps(
                {"seed": args.seed, "op_latency_ms": values["op_latency_ms"]}))
            metrics = _metrics(spec["end_to_end"], values)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session_s": round(session_s, 3), "named": named, "detail": detail,
        "host": {
            "steal_s": (steal1 - steal0) / 100.0,
            "sentinel_ms": [round(sent0, 2), round(sent1, 2)],
        },
        "failures": ctx.failures,
    }, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
