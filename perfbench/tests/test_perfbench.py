"""Unit tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import common, corpus, gen, run, spans  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- generators ------------------------------------------------------------


def test_vectors_are_deterministic_per_seed():
    a, b = gen.clustered_vectors(5, 500, 16), gen.clustered_vectors(5, 500, 16)
    assert np.array_equal(a.embedding, b.embedding)
    assert a.category == b.category and np.array_equal(a.priority, b.priority)
    assert not np.array_equal(a.embedding, gen.clustered_vectors(6, 500, 16).embedding)
    q1, src1 = gen.perturbed_queries(9, a.embedding, 20)
    q2, src2 = gen.perturbed_queries(9, a.embedding, 20)
    assert np.array_equal(q1, q2) and np.array_equal(src1, src2)


def test_token_docs_and_queries_are_deterministic():
    d1, d2 = gen.token_docs(3, 50, 8), gen.token_docs(3, 50, 8)
    assert np.array_equal(d1.tokens, d2.tokens) and np.array_equal(d1.doc_of, d2.doc_of)
    assert np.allclose(np.linalg.norm(d1.tokens, axis=1), 1.0, atol=1e-5)
    a, b = gen.token_queries(4, d1, 6), gen.token_queries(4, d1, 6)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    assert a[1].shape == (6 * gen.QUERY_TOKENS, 8)


def test_corpus_is_deterministic_and_plants_what_it_claims():
    c1, c2 = gen.corpus(7, 400), gen.corpus(7, 400)
    assert c1.text == c2.text and c1.lang == c2.lang
    assert c1.exact_copies == c2.exact_copies and c1.near_copies == c2.near_copies
    assert gen.corpus(8, 400).text != c1.text
    assert len(c1.exact_copies) == 20 and len(c1.near_copies) == 40
    assert all(c1.text[i] is None for i in c1.null_ids)
    assert all(not c1.text[i].strip() for i in c1.empty_ids)
    assert {"en", "de"} <= set(c1.lang)
    for copy, orig in c1.exact_copies.items():
        assert c1.text[copy] == c1.text[orig]
    for copy, orig in c1.near_copies.items():
        j = corpus._jaccard(
            corpus._shingles(c1.text[copy], 3), corpus._shingles(c1.text[orig], 3))
        assert 0.9 <= j < 1.0


# -- metric names, units, limits ---------------------------------------------


def test_benchmark_json_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    assert [w["name"] for w in SPEC["workloads"]] == ["serve_mixed", "batch_search",
                                                       "corpus_ingest"]
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit_re = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    seen = set()
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert name_re.match(m["name"]) and m["name"] not in seen
        seen.add(m["name"])
        assert unit_re.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


LAYERS_DOC = json.loads((ROOT / "perfbench" / "layers.json").read_text())


def test_layer_map_lists_every_layer_metric_once():
    listed = [m for entry in LAYERS_DOC["layers"] for m in entry["metrics"]]
    assert sorted(listed) == sorted(m["name"] for m in SPEC["per_layer"])
    assert set(LAYERS_DOC["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    workloads = {w["name"] for w in SPEC["workloads"]}
    for entry in LAYERS_DOC["layers"]:
        assert set(entry["moves"]) <= set(LAYERS_DOC["named"])
        assert set(entry["workloads"]) <= workloads
    for name, entry in LAYERS_DOC["named"].items():
        assert entry["better"] in ("lower", "higher") and entry["unit"]
        assert set(entry["workloads"]) <= workloads
        assert entry["feeds"] in LAYERS_DOC["end_to_end"] or name == "fail_ratio"


def test_emitted_metrics_carry_benchmark_json_names_and_units():
    declared = SPEC["end_to_end"] + SPEC["per_layer"]
    out = run._metrics(declared, {m["name"]: 1 for m in declared})
    assert out == {m["name"]: {"value": 1.0, "unit": m["unit"]} for m in declared}
    with pytest.raises(KeyError):  # a declared metric the run did not produce
        run._metrics(declared, {})
    per_workload = [run._expected(w["name"])[0] for w in SPEC["workloads"]]
    assert set().union(*per_workload) == {m["name"] for m in SPEC["per_layer"]}


def test_named_figures_get_unit_and_direction_from_the_layer_map():
    class Run:
        failed, attempted = 1, 4

    _, want = run._expected("serve_mixed")
    own = {"read_p50_ms": 1.0, "read_p90_ms": None, "write_p50_ms": 2.0,
           "serve_ops_per_s": 3.0, "space_amp": 1.5}
    named = run._named(want, own, {"setup_s": 9.0}, 800.0, Run)
    assert named["fail_ratio"] == {"value": 0.25, "unit": "ratio", "better": "lower"}
    assert named["serve_ops_per_s"] == {"value": 3.0, "unit": "1/s", "better": "higher"}
    assert named["peak_rss_mb"] == {"value": 800.0, "unit": "MB", "better": "lower"}
    with pytest.raises(RuntimeError):  # a figure the map does not list
        run._named(want, dict(own, exact_qps=1.0), {"setup_s": 9.0}, 800.0, Run)


@pytest.mark.parametrize("metric", SPEC["per_layer"] + SPEC["end_to_end"],
                         ids=lambda m: m["name"])
def test_units_follow_the_metric_name(metric):
    name, unit = metric["name"], metric["unit"]
    last = name.rsplit(".", 1)[-1]
    if last == "ms" or last.endswith("_ms"):
        assert unit == "ms"
    elif last.endswith("_mb"):
        assert unit == "MB"
    elif last.endswith("per_s"):
        assert unit.endswith("/s")  # a rate is never reported in seconds
    elif last == "s" or last.endswith("_s"):
        assert unit == "s"
    elif last.endswith("_pct"):
        assert unit == "%"


# -- statistics ------------------------------------------------------------


def test_no_tail_percentile_without_enough_samples():
    xs = [float(i) for i in range(1, 100)]
    assert spans.percentile(xs, 90, 100) is None
    xs.append(100.0)
    assert spans.percentile(xs, 90, 100) == 90.0
    assert spans.percentile(xs, 50, 1) == 50.0
    assert spans.percentile([], 50, 1) is None


def test_span_self_time_subtracts_the_union_of_children():
    S = spans.Span
    tree = [
        S("root", 0.0, 10.0),
        S("a", 1.0, 3.0, parent=0),
        S("b", 2.0, 5.0, parent=0),  # overlaps a: union 1..5
        S("c", 9.0, 12.0, parent=0),  # runs past the parent: clipped to 9..10
        S("a.1", 1.5, 2.5, parent=1),  # a grandchild is a's business only
    ]
    assert spans.self_times(tree) == pytest.approx([5.0, 1.0, 3.0, 3.0, 1.0])


def test_ids_agree_breaks_ties_by_id_and_allows_near_ties():
    scores = np.array([0.5, 0.9, 0.9, 0.1, -np.inf, 0.7])
    assert common.ids_agree([1, 2, 5], scores, 3)
    assert common.ids_agree([2, 1, 5], scores, 3)  # order within a tie is free
    assert not common.ids_agree([1, 2, 0], scores, 3)  # 0.5 is not top-3
    assert not common.ids_agree([1, 2, 4], scores, 3)  # a row that must not return
    assert not common.ids_agree([1, 2], scores, 3)
    near = np.array([0.9, 0.5, 0.5 + common.SCORE_TOL / 2])
    assert common.ids_agree([0, 1], near, 2) and common.ids_agree([0, 2], near, 2)
    assert common.ids_agree([], np.array([-np.inf]), 3)


def test_topk_agreement_and_op_latency():
    want = np.array([0.9, 0.8, 0.7])
    assert common.topk_agreement([0.7, 0.9, 0.8], want) == (True, 1.0)
    exact, rec = common.topk_agreement([0.9, 0.8, 0.1], want)
    assert not exact and rec == pytest.approx(2 / 3)
    # medians per type, weighted by how often each type ran
    lat = {"read": [1.0, 1.0, 9.0], "write": [8.0]}
    assert common.op_latency_ms(lat) == pytest.approx(1000.0 * 8.0 ** 0.25)


def test_rows_hash_ignores_order_and_float_noise():
    rows = [(1, 0.1234567), (2, "x")]
    assert common.rows_hash(rows) == common.rows_hash(list(reversed(rows)))
    assert common.rows_hash([(1, 0.1234567 + 1e-15), (2, "x")]) == common.rows_hash(rows)
    assert common.rows_hash([(1, 0.2), (2, "x")]) != common.rows_hash(rows)


def test_event_log_aggregates_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g#1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
         "Stage IDs": [1, 2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1400},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 2e8,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576},
                          "Input Metrics": {"Bytes Read": 2097152}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1100},
         "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 1e8,
                          "Disk Bytes Spilled": 1048576}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 0, "Finish Time": 50}, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
    ]
    (tmp_path / "app").mkdir()
    (tmp_path / "app" / "events_1").write_text("\n".join(json.dumps(e) for e in events))
    g = spans.parse_event_log(str(tmp_path))
    assert set(g) == {"g#1"}
    s = g["g#1"]
    assert (s.jobs, s.tasks) == (1, 2)
    assert s.job_s == pytest.approx(1.5) and s.cpu_s == pytest.approx(0.3)
    assert s.shuffle_write_mb == 1.0 and s.input_mb == 2.0 and s.spill_mb == 1.0
    assert s.kernel_stage() == pytest.approx([0.4])
    assert spans.skew([1.0, 1.0, 4.0]) == 4.0


def test_tree_memory_splits_jvm_from_python(monkeypatch):
    # driver 1 -> JVM 2 -> {unexec'd spawn 3, Python daemon 4 -> worker 5, helper 6}
    kids = {1: [2], 2: [3, 4, 6], 4: [5]}
    names = {1: "python3", 2: "java", 3: "java", 4: "python3", 5: "python3", 6: "bash"}
    kb = {1: 100 * 1024, 2: 2000 * 1024, 3: 2000 * 1024, 4: 30 * 1024, 5: 70 * 1024,
          6: 1024}
    monkeypatch.setattr(spans, "_children_map", lambda: kids)
    monkeypatch.setattr(spans, "_comm", names.get)
    monkeypatch.setattr(spans, "_resident_kb", kb.get)
    assert spans.tree_rss_mb(1) == (2201.0, 2000.0, 200.0)


# -- the command -----------------------------------------------------------


def test_fails_without_printing_when_only_the_benchmark_is_present(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
