"""Store lifecycle — mirrors the reference's integration workflow
(tests/test_integration.py:46-173): create -> add -> query (self-match,
filtered) -> stats -> delete, plus the surface the reference declared but
never implemented (batch_query, delete_vectors, optimize, health_check).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mlx_vector_db_spark.store import VectorStoreCatalog

DIM = 32
RNG = np.random.default_rng(3)


@pytest.fixture()
def catalog(spark, tmp_path):
    return VectorStoreCatalog(spark, tmp_path / "stores")


@pytest.fixture()
def store(catalog):
    st = catalog.create_store(
        "u1", "m1", dimension=DIM, metric="cosine",
        promoted_keys={"category": "string", "priority": "int"},
    )
    vecs = RNG.random((50, DIM)).astype(np.float32)
    meta = [
        {"category": "A" if i % 2 == 0 else "B", "priority": i % 3, "note": f"n{i}"}
        for i in range(50)
    ]
    st.add_vectors(vecs.tolist(), meta)
    st._test_vecs = vecs
    return st


def test_create_duplicate_raises(catalog):
    catalog.create_store("u", "m", dimension=8)
    with pytest.raises(FileExistsError):
        catalog.create_store("u", "m", dimension=8)
    assert catalog.create_store("u", "m", dimension=8, exist_ok=True) is not None


def test_bad_config_rejected(catalog):
    with pytest.raises(ValueError):
        catalog.create_store("u", "m2", dimension=0)
    with pytest.raises(ValueError):
        catalog.create_store("u", "m3", dimension=8, metric="manhattan")


def test_add_and_count(store):
    assert store.count() == 50
    assert store.stats()["vector_count"] == 50


def test_dimension_mismatch_rejected(store):
    with pytest.raises(ValueError, match="dimension"):
        store.add_vectors([[1.0, 2.0]])
    with pytest.raises(ValueError, match="dimension"):
        store.query([1.0] * (DIM + 1))


def test_misaligned_metadata_rejected(store):
    with pytest.raises(ValueError, match="lengths differ"):
        store.add_vectors([[0.0] * DIM] * 3, [{}] * 2)


def test_self_query_rank1(store):
    res = store.query(store._test_vecs[7].tolist(), k=3).collect()
    assert res[0]["id"] == 7
    assert res[0]["similarity"] > 0.999


def test_filtered_query_soundness(store):
    res = store.query(
        store._test_vecs[0].tolist(), k=5,
        filter_metadata={"category": "A", "priority": 1},
    ).collect()
    assert res, "expected matches"
    for r in res:
        assert r["category"] == "A" and r["priority"] == 1


def test_map_metadata_filter(store):
    res = store.query(
        store._test_vecs[0].tolist(), k=5, filter_metadata={"note": "n4"}
    ).collect()
    assert [r["id"] for r in res] == [4]


def test_empty_store_query_returns_empty(catalog):
    st = catalog.create_store("u2", "m1", dimension=DIM)
    assert st.query([0.5] * DIM, k=5).collect() == []


def test_append_no_rewrite(store):
    more = RNG.random((10, DIM)).astype(np.float32)
    store.add_vectors(more.tolist())
    assert store.count() == 60
    # appended ids continue after the existing ones
    ids = {r["id"] for r in store.to_df().select("id").collect()}
    assert ids == set(range(60))


def test_batch_query(store, spark):
    q = spark.createDataFrame(
        [(i, store._test_vecs[i].tolist()) for i in range(4)],
        "query_id long, embedding array<float>",
    )
    res = store.batch_query(q, k=2).collect()
    top = {r["query_id"]: r["id"] for r in res if r["rank"] == 1}
    assert top == {0: 0, 1: 1, 2: 2, 3: 3}


def test_delete_by_filter_and_ids(store):
    removed = store.delete_vectors(filter_metadata={"category": "B"})
    assert removed == 25
    assert store.count() == 25
    removed = store.delete_vectors(ids=[0, 2])
    assert removed == 2
    res = store.query(store._test_vecs[0].tolist(), k=50).collect()
    assert all(r["category"] == "A" for r in res)
    assert {r["id"] for r in res}.isdisjoint({0, 2})


def test_optimize_compacts_files(store):
    for _ in range(3):
        store.add_vectors(RNG.random((5, DIM)).astype(np.float32).tolist())
    before = store.stats()["files"]
    n_files = store.optimize(target_files=1)
    assert n_files == 1 and n_files <= before
    assert store.count() == 65


def test_clear_and_delete_store(catalog, store):
    store.clear()
    assert store.count() == 0
    catalog.delete_store("u1", "m1")
    assert not catalog.store_exists("u1", "m1")
    with pytest.raises(KeyError):
        catalog.get_store("u1", "m1")


def test_fleet_stats(catalog):
    a = catalog.create_store("t1", "m", dimension=8)
    b = catalog.create_store("t2", "m", dimension=8)
    a.add_vectors([[1.0] * 8] * 3)
    b.add_vectors([[2.0] * 8] * 2)
    fs = catalog.fleet_stats()
    assert fs["total_stores"] == 2
    assert fs["total_vectors"] == 5
    assert fs["stores"] == {"t1_m": 3, "t2_m": 2}


def test_health_check(store):
    assert store.health_check()["healthy"] is True


def test_fleet_query_all(catalog):
    """Federated per-store top-k in one plan; dimension-mismatched
    stores are skipped."""
    a = catalog.create_store("t1", "m1", dimension=8)
    b = catalog.create_store("t1", "m2", dimension=8)
    c = catalog.create_store("t2", "m1", dimension=8)
    other = catalog.create_store("t9", "odd", dimension=4)
    base = [float(x) for x in range(8)]
    a.add_vectors([base, [9.0] * 8])
    b.add_vectors([[x + 0.1 for x in base]])
    c.add_vectors([[x + 5 for x in base]])
    other.add_vectors([[1.0] * 4])

    res = catalog.query_all(base, k=1).collect()
    got = {(r["user_id"], r["model_id"]): (r["id"], r["rank"]) for r in res}
    assert set(got) == {("t1", "m1"), ("t1", "m2"), ("t2", "m1")}
    assert got[("t1", "m1")] == (0, 1)  # exact match wins in its store

    only_t1 = catalog.query_all(base, k=1, user_id="t1").collect()
    assert {r["user_id"] for r in only_t1} == {"t1"}


def test_upsert_updates_and_inserts(store):
    # replace id=10's embedding with id=0's vector, and add a brand-new id
    v0 = store._test_vecs[0].tolist()
    updated, inserted = store.upsert_vectors(
        [v0, RNG.random(DIM).astype(np.float32).tolist()],
        [{"category": "Z"}, {"category": "Z"}],
        ids=[10, 999],
    )
    assert (updated, inserted) == (1, 1)
    assert store.count() == 51
    row = store.to_df().where("id = 10").collect()[0]
    assert row["category"] == "Z"
    assert np.allclose(row["embedding"], v0, atol=1e-6)
    # the updated row now ties with id=0 on a self-query
    top = store.query(v0, k=2).collect()
    assert {r["id"] for r in top} == {0, 10}


def test_upsert_requires_ids_and_rejects_dup_ids(store):
    with pytest.raises(ValueError, match="merge key"):
        store.upsert_vectors([[0.0] * DIM])
    with pytest.raises(ValueError, match="duplicate ids"):
        store.upsert_vectors([[0.0] * DIM, [1.0] * DIM], ids=[7, 7])
    assert store.count() == 50  # nothing partially applied


def test_client_upsert(catalog):
    from mlx_vector_db_spark.client import VectorDBClient

    client = VectorDBClient(catalog.spark, str(catalog.root))
    client.create_store("cu", "cm", dimension=4)
    client.add_vectors("cu", "cm", [[1, 0, 0, 0], [0, 1, 0, 0]])
    out = client.upsert_vectors(
        "cu", "cm", [[0, 0, 1, 0], [0, 0, 0, 1]], ids=[1, 5]
    )
    assert out["vectors_updated"] == 1 and out["vectors_inserted"] == 1
    assert client.count_vectors("cu", "cm").vectors == 3


def test_auto_ids_never_collide_after_delete(catalog):
    """Auto-assigned ids derive from max(id)+1, not row count — after a
    delete shrinks the store, new rows must not reuse surviving ids
    (duplicate ids would corrupt delete/upsert/query, all id-keyed)."""
    st = catalog.create_store("aid", "m", dimension=4)
    st.add_vectors([[float(i), 0, 0, 0] for i in range(10)])  # ids 0..9
    assert st.delete_vectors(ids=list(range(5))) == 5         # keep 5..9
    st.add_vectors([[float(i), 1, 0, 0] for i in range(3)])   # must be 10..12
    ids = [r["id"] for r in st.to_df().select("id").collect()]
    assert len(ids) == len(set(ids)) == 8
    assert set(ids) == {5, 6, 7, 8, 9, 10, 11, 12}


def test_auto_ids_dataframe_input_no_collision(catalog, spark):
    """DataFrame input without an id column gets store-unique ids too
    (monotonic ids are offset by the next free id, not started at 0)."""
    st = catalog.create_store("aid2", "m", dimension=2)
    st.add_vectors([[1.0, 0.0], [0.0, 1.0]])  # ids 0, 1
    df = spark.createDataFrame(
        [([2.0, 2.0],), ([3.0, 3.0],)], "embedding array<float>"
    )
    st.add_vectors(df)
    ids = [r["id"] for r in st.to_df().select("id").collect()]
    assert len(ids) == len(set(ids)) == 4
    assert {0, 1} <= set(ids) and all(i >= 2 for i in set(ids) - {0, 1})


def test_fleet_query_all_promoted_filter(catalog):
    """filter_metadata keys that are PROMOTED in a store must still
    filter the federated view (promoted keys are popped out of the meta
    map at ingest, so the fleet view has to carry the promoted columns)."""
    a = catalog.create_store(
        "pf", "m1", dimension=4, promoted_keys={"category": "string"}
    )
    b = catalog.create_store("pf", "m2", dimension=4)  # meta-map only
    a.add_vectors(
        [[1.0, 0, 0, 0], [0, 1.0, 0, 0]],
        [{"category": "news"}, {"category": "spam"}],
    )
    b.add_vectors([[1.0, 0, 0, 0]], [{"category": "news"}])
    res = catalog.query_all(
        [1.0, 0, 0, 0], k=5, filter_metadata={"category": "news"}
    ).collect()
    got = {(r["user_id"], r["model_id"], r["id"]) for r in res}
    # promoted store matched its news row; meta-map store matched too
    assert got == {("pf", "m1", 0), ("pf", "m2", 0)}


def test_fleet_query_all_typed_promoted_filter(catalog):
    """Per-store filtering keeps NATIVE promoted types in the federated
    path: an int filter value matches a double promoted column exactly
    like store.query() does (no string-rendering mismatch)."""
    a = catalog.create_store(
        "tf", "m1", dimension=4, promoted_keys={"weight": "double"}
    )
    a.add_vectors(
        [[1.0, 0, 0, 0], [0, 1.0, 0, 0]], [{"weight": 5.0}, {"weight": 7.5}]
    )
    res = catalog.query_all(
        [1.0, 0, 0, 0], k=5, filter_metadata={"weight": 5}
    ).collect()
    assert [(r["user_id"], r["id"]) for r in res] == [("tf", 0)]


# -- pruned rewrite + job budget (SCALE.md: stats-pruned MERGE/DELETE) ----


def _data_files(st):
    # the LIVE snapshot, not the directory glob: replaced originals stay
    # on disk as retained time-travel history until vacuum, so surgical-
    # rewrite assertions must compare manifest-resolved sets
    return sorted(st._data_files())


def test_upsert_pruned_rewrite_preserves_untouched_files(catalog):
    """Only files whose footer id-range intersects the batch ids are
    rewritten: untouched files survive byte-for-byte (same path, same
    mtime) — the plain-parquet analog of a manifest-stats-pruned MERGE."""
    st = catalog.create_store("pr", "m", dimension=4)
    # three disjoint-id files (each add coalesces to one file)
    for base in (0, 1000, 2000):
        st.add_vectors(
            [[float(base + i), 0.0, 0.0, 0.0] for i in range(100)],
            ids=list(range(base, base + 100)),
        )
    files_before = {str(f): f.stat().st_mtime_ns for f in _data_files(st)}
    assert len(files_before) == 3
    # touch only the middle file's id range: update 1005, insert 1500
    updated, inserted = st.upsert_vectors(
        [[9.0, 9.0, 9.0, 9.0], [8.0, 8.0, 8.0, 8.0]], ids=[1005, 1500]
    )
    assert (updated, inserted) == (1, 1)
    assert st.count() == 301
    survivors = {str(f): f.stat().st_mtime_ns for f in _data_files(st)}
    untouched = {p: m for p, m in files_before.items() if p in survivors}
    # the two non-overlapping files are still there, byte-identical
    assert len(untouched) == 2
    for p, m in untouched.items():
        assert survivors[p] == m
    row = st.to_df().where("id = 1005").first()
    assert list(row["embedding"]) == [9.0, 9.0, 9.0, 9.0]
    assert st.to_df().where("id = 1500").count() == 1
    # ids outside every file's range: pure append, ALL files untouched
    files_before2 = {str(f): f.stat().st_mtime_ns for f in _data_files(st)}
    updated, inserted = st.upsert_vectors([[1.0, 2.0, 3.0, 4.0]], ids=[9999])
    assert (updated, inserted) == (0, 1)
    survivors2 = {str(f): f.stat().st_mtime_ns for f in _data_files(st)}
    for p, m in files_before2.items():
        assert survivors2[p] == m
    assert st.count() == 302


def test_delete_pruned_rewrite_preserves_untouched_files(catalog):
    st = catalog.create_store("dl", "m", dimension=4)
    for base in (0, 1000):
        st.add_vectors(
            [[float(i), 0.0, 0.0, 0.0] for i in range(50)],
            ids=list(range(base, base + 50)),
        )
    files_before = {str(f): f.stat().st_mtime_ns for f in _data_files(st)}
    assert len(files_before) == 2
    assert st.delete_vectors(ids=[1003, 1007]) == 2
    survivors = {str(f): f.stat().st_mtime_ns for f in _data_files(st)}
    untouched = {p: m for p, m in files_before.items() if p in survivors}
    assert len(untouched) == 1  # the id<50 file was never rewritten
    for p, m in untouched.items():
        assert survivors[p] == m
    assert st.count() == 98
    # ids no file can contain: zero-job no-op
    files_before2 = {str(f): f.stat().st_mtime_ns for f in _data_files(st)}
    assert st.delete_vectors(ids=[555, 77777]) == 0
    assert {str(f): f.stat().st_mtime_ns for f in _data_files(st)} == files_before2


def test_add_vectors_job_budget(catalog, spark):
    """High-frequency micro-batch ingest: a wire-format add with explicit
    ids is exactly one Spark job (the write — count and dims are known
    driver-side), and steady-state auto-id adds are too (the max-id scan
    runs once per store handle, then the cache advances driver-side)."""
    st = catalog.create_store("jb", "m", dimension=4)
    sc = spark.sparkContext
    sc.setJobGroup("jb-explicit", "add with explicit ids")
    st.add_vectors([[1.0, 0.0, 0.0, 0.0]] * 8, ids=list(range(8)))
    explicit_jobs = sc.statusTracker().getJobIdsForGroup("jb-explicit")
    st.add_vectors([[2.0, 0.0, 0.0, 0.0]] * 8)  # warms the max-id cache
    sc.setJobGroup("jb-auto", "steady-state add with auto ids")
    st.add_vectors([[3.0, 0.0, 0.0, 0.0]] * 8)
    auto_jobs = sc.statusTracker().getJobIdsForGroup("jb-auto")
    sc.setJobGroup("jb-done", "")
    assert len(explicit_jobs) <= 2, f"expected <=2 jobs, got {len(explicit_jobs)}"
    assert len(auto_jobs) <= 2, f"expected <=2 jobs, got {len(auto_jobs)}"
    assert st.count() == 24
    # auto ids continued past both earlier batches — no collisions
    assert st.to_df().select("id").distinct().count() == 24


def _jobs_in(sc, group: str, build):
    """Run ``build()`` under its own job group; return (result, jobs)."""
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(f"{group}-done", "")
    return out, jobs


@pytest.fixture()
def indexed(catalog, spark, tmp_path):
    """IVF + residual PQ over 400 rows, a token tier of 30 docs, and
    parquet-backed query frames (so every query collect is a real scan).
    The NULL rows sit at query ids 90 and 91."""
    rng = np.random.default_rng(29)
    dim = 16
    st = catalog.create_store("jbq", "m", dimension=dim)
    vecs = rng.normal(size=(400, dim)).astype(np.float32)
    st.add_vectors(vecs.tolist(), ids=list(range(400)))
    st.build_index(nlist=4)
    st.build_pq(m=4, nbits=6)
    assert st.config.pq.get("residual")
    toks = rng.normal(size=(30 * 4, dim)).astype(np.float32)
    st.add_token_vectors(spark.createDataFrame(
        [(i // 4, toks[i].tolist()) for i in range(len(toks))],
        "doc_id long, embedding array<float>",
    ))
    qv = vecs[::50][:5] + rng.normal(scale=0.05, size=(5, dim)).astype(np.float32)
    nulls = [(90, None), (91, [1.0] + [None] * (dim - 1))]
    q_rows = [(i, qv[i].tolist()) for i in range(len(qv))] + nulls
    qt = toks[[1, 5, 9, 13, 17, 21]] + rng.normal(scale=0.05, size=(6, dim)).astype(np.float32)
    qt_owner = [0, 0, 1, 1, 2, 2]
    t_rows = [(qt_owner[i], qt[i].tolist()) for i in range(len(qt))] + nulls
    frames = {}
    for name, rows in (("q", q_rows), ("t", t_rows)):
        path = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(
            rows, "query_id long, embedding array<float>"
        ).coalesce(1).write.parquet(path)
        frames[name] = spark.read.parquet(path)
    return st, vecs, toks, qv, qt, np.asarray(qt_owner), frames["q"], frames["t"]


def _unit(x):
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _batch_calls(st, queries, qtoks):
    return {
        "exact": lambda: st.batch_query(queries, k=3, blocked=True),
        "ivfpq": lambda: st.batch_query(
            queries, k=3, use_quantized=True, blocked=True, overfetch=2
        ),
        "maxsim": lambda: st.maxsim_query(qtoks, k=3),
    }


def test_batch_plans_job_budget(spark, indexed):
    """Planning a batch search collects its query block once and
    launches no other job: the partition probe reads the physical plan
    instead of materialising the candidate pipeline, and every kernel
    the call reaches reuses the one block. Steady state: the first call
    warms the memoized store-size probe, as in a serving loop."""
    st, *_, queries, qtoks = indexed
    sc = spark.sparkContext
    for name, call in _batch_calls(st, queries, qtoks).items():
        call().collect()
        out, jobs = _jobs_in(sc, f"plan-{name}", call)
        assert jobs <= 1, f"{name}: planning fired {jobs} jobs"
        assert out.count() > 0


def test_rebalance_probe_over_shuffle_runs_no_job(spark, tmp_path):
    """A frame whose plan holds shuffles (a semi-join against a
    distinct()) is probed from its physical plan: no job, where building
    its RDD under AQE would run every shuffle stage."""
    from pyspark.sql import functions as F

    from mlx_vector_db_spark.rebalance import _PROBE_CACHE, rebalance_for_compute

    path = str(tmp_path / "t.parquet")
    spark.range(2000).select(
        "id", (F.col("id") % 37).alias("g")
    ).write.parquet(path)
    t = spark.read.parquet(path)
    frame = t.join(t.select(F.col("g").alias("id")).distinct(), "id", "left_semi")
    _PROBE_CACHE.clear()
    out, jobs = _jobs_in(spark.sparkContext, "probe-shuffle",
                         lambda: rebalance_for_compute(frame, "id", "g"))
    assert jobs == 0
    assert sorted(r["id"] for r in out.collect()) == list(range(37))


def test_batch_null_query_rows_yield_nothing(indexed):
    """A NULL query vector, or one with a NULL element, produces no
    output rows on every batch path; the other queries still answer."""
    st, *_, queries, qtoks = indexed
    for name, call in _batch_calls(st, queries, qtoks).items():
        got = {r["query_id"] for r in call().collect()}
        assert not got & {90, 91}, name
        assert got, name


def test_batch_empty_query_set_raises(spark, indexed):
    st, *_, queries, _ = indexed
    empty = queries.where("query_id < 0")
    with pytest.raises(ValueError, match="empty query set"):
        st.batch_query(empty, k=3, blocked=True)
    with pytest.raises(ValueError, match="empty query set"):
        st.batch_query(empty, k=3, use_quantized=True, blocked=True, overfetch=2)


def test_batch_results_match_numpy_one_row_batches(spark, indexed):
    """Arrow batches of one row: exact and MaxSim answers equal a numpy
    oracle, and IVF-PQ answers equal the default layout's with exact
    re-ranked scores."""
    st, vecs, toks, qv, qt, qt_owner, queries, qtoks = indexed
    calls = _batch_calls(st, queries, qtoks)
    ivfpq_default = sorted(map(tuple, calls["ivfpq"]().select(
        "query_id", "id", "rank").collect()))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        exact = calls["exact"]().collect()
        ivfpq = calls["ivfpq"]().collect()
        maxsim = calls["maxsim"]().collect()
    finally:
        spark.conf.set(key, old)
    sims = _unit(qv.astype(np.float64)) @ _unit(vecs.astype(np.float64)).T
    want = {q: list(np.argsort(-sims[q], kind="stable")[:3]) for q in range(len(qv))}
    got = {}
    for r in sorted(exact, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(r["id"])
        assert r["similarity"] == pytest.approx(sims[r["query_id"], r["id"]], abs=1e-9)
    assert got == want
    assert sorted((r["query_id"], r["id"], r["rank"]) for r in ivfpq) == ivfpq_default
    for r in ivfpq:
        assert r["similarity"] == pytest.approx(sims[r["query_id"], r["id"]], abs=1e-9)
    tok_sims = _unit(qt.astype(np.float64)) @ _unit(toks.astype(np.float64)).T
    doc_of = np.arange(len(toks)) // 4
    for q in range(3):
        per_doc = np.full((30, int((qt_owner == q).sum())), -np.inf)
        np.maximum.at(per_doc, doc_of, tok_sims[qt_owner == q].T)
        scores = per_doc.sum(axis=1)
        top = [r for r in maxsim if r["query_id"] == q]
        assert [r["doc_id"] for r in sorted(top, key=lambda r: r["rank"])] == list(
            np.argsort(-scores, kind="stable")[:3]
        )
        for r in top:
            assert r["score"] == pytest.approx(scores[r["doc_id"]], abs=1e-9)


def test_catalog_vacuum_removes_orphaned_staging(catalog):
    st = catalog.create_store("vac", "m", dimension=4)
    st.add_vectors([[1.0, 0.0, 0.0, 0.0]] * 4, ids=[0, 1, 2, 3])
    # a crashed swap leaves a staging dir next to the data dir
    orphan = st.data_dir.parent / ".staging-deadbeef"
    orphan.mkdir()
    (orphan / "part-x.parquet").write_bytes(b"junk")
    # young staging dirs are never raced
    assert catalog.vacuum(min_age_seconds=3600) == 0
    assert orphan.exists()
    assert catalog.vacuum(min_age_seconds=0) == 1
    assert not orphan.exists()
    # live data untouched
    assert st.count() == 4


# -- manifest snapshot commit: crash-atomicity of mutations ---------------


def test_mutation_crash_before_commit_keeps_old_snapshot(catalog, monkeypatch):
    """Kill the swap after the staged files moved in but before the
    pointer flip: readers must still resolve the pre-mutation snapshot,
    vacuum must reap the stranded staged files, and a retry must land."""
    import mlx_vector_db_spark.store as S

    st = catalog.create_store("crash1", "m", dimension=4)
    st.add_vectors([[float(i), 0.0, 0.0, 0.0] for i in range(50)],
                   ids=list(range(50)))
    before_ids = {r["id"] for r in st.to_df().select("id").collect()}
    n_files_before = len(st._data_files())

    def boom(self, files, **kw):
        raise OSError("simulated crash before manifest commit")

    with monkeypatch.context() as m:
        m.setattr(S.VectorStore, "_commit_manifest", boom)
        with pytest.raises(OSError):
            st.delete_vectors(ids=[3, 4])
    # fresh handle (as after a process restart): pre-mutation snapshot
    st2 = catalog.get_store("crash1", "m")
    assert {r["id"] for r in st2.to_df().select("id").collect()} == before_ids
    # the crashed rewrite stranded orphan part-files next to the live ones
    orphans = set(st2.data_dir.glob("**/*.parquet")) - set(st2._data_files())
    assert orphans
    assert catalog.vacuum(min_age_seconds=0) >= len(orphans)
    assert not set(st2.data_dir.glob("**/*.parquet")) - set(st2._data_files())
    assert len(st2._data_files()) == n_files_before
    # retry succeeds on the intact snapshot
    assert st2.delete_vectors(ids=[3, 4]) == 2
    assert st2.count() == 48


def test_mutation_crash_at_pointer_flip_keeps_old_snapshot(catalog, monkeypatch):
    """Kill the swap at the atomic rename itself: same contract."""
    import mlx_vector_db_spark.store as S

    st = catalog.create_store("crash2", "m", dimension=4)
    st.add_vectors([[float(i), 0.0, 0.0, 0.0] for i in range(20)],
                   ids=list(range(20)))
    before_ids = {r["id"] for r in st.to_df().select("id").collect()}
    real_replace = S.os.replace

    def boom(src, dst):
        if "CURRENT" in str(dst):
            raise OSError("simulated crash at pointer flip")
        return real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(S.os, "replace", boom)
        with pytest.raises(OSError):
            st.upsert_vectors([[9.0, 9.0, 9.0, 9.0]], ids=[5])
    st2 = catalog.get_store("crash2", "m")
    assert {r["id"] for r in st2.to_df().select("id").collect()} == before_ids
    assert list(st2.to_df().where("id = 5").first()["embedding"]) == [
        5.0, 0.0, 0.0, 0.0,
    ]
    # retry applies the update
    assert st2.upsert_vectors([[9.0, 9.0, 9.0, 9.0]], ids=[5]) == (1, 0)
    assert list(st2.to_df().where("id = 5").first()["embedding"]) == [
        9.0, 9.0, 9.0, 9.0,
    ]


def test_orphaned_originals_after_commit_are_invisible_and_vacuumed(
    catalog, monkeypatch
):
    """Kill the post-commit unlink of replaced originals: the new
    snapshot is already live (the delete happened), the stranded
    originals are invisible to readers, and vacuum reclaims them."""
    from pathlib import Path

    st = catalog.create_store("crash3", "m", dimension=4)
    st.add_vectors([[float(i), 0.0, 0.0, 0.0] for i in range(30)],
                   ids=list(range(30)))
    real_unlink = Path.unlink

    def flaky_unlink(self, *a, **kw):
        if self.suffix == ".parquet" and "crash3" in str(self):
            raise OSError("simulated crash during orphan unlink")
        return real_unlink(self, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(Path, "unlink", flaky_unlink)
        assert st.delete_vectors(ids=[7]) == 1  # commit already landed
    st2 = catalog.get_store("crash3", "m")
    assert st2.count() == 29
    assert st2.to_df().where("id = 7").count() == 0
    orphans = set(st2.data_dir.glob("**/*.parquet")) - set(st2._data_files())
    assert orphans
    assert catalog.vacuum(min_age_seconds=0) >= len(orphans)
    assert st2.count() == 29  # live data untouched by the reap


def test_second_handle_write_invalidates_auto_id_cache(catalog):
    """Two handles on one store: after handle B appends, handle A's next
    auto-id add must re-scan (manifest token changed) instead of
    reissuing ids from its stale cache."""
    a = catalog.create_store("twoh", "m", dimension=4)
    a.add_vectors([[1.0, 0.0, 0.0, 0.0]] * 5)          # ids 0-4, warms cache
    b = catalog.get_store("twoh", "m")
    b.add_vectors([[2.0, 0.0, 0.0, 0.0]] * 5)          # ids 5-9 via B
    a.add_vectors([[3.0, 0.0, 0.0, 0.0]] * 5)          # A must start at 10
    df = a.to_df()
    assert df.count() == 15
    assert df.select("id").distinct().count() == 15    # no id reuse


def test_optimize_sort_by_makes_pruning_surgical(catalog):
    """Interleaved appends give every file an overlapping id range (any
    point delete must rewrite them all); optimize(sort_by='id')
    range-clusters the layout so footer stats are disjoint and the same
    delete touches exactly one file."""
    st = catalog.create_store("oz", "m", dimension=4)
    # stripe ids across batches: every file spans ~the whole id domain
    for start in range(3):
        ids = list(range(start, 300, 3))
        st.add_vectors([[float(i), 0.0, 0.0, 0.0] for i in ids], ids=ids)
    ranges = [(lo, hi) for _, lo, hi in st._file_id_ranges()]
    assert all(lo is not None for lo, _ in ranges)
    touched, untouched = st._partition_files_by_ids(ids=[7])
    assert len(touched) == 3 and not untouched  # fully overlapped layout

    n_files = st.optimize(target_files=3, sort_by="id")
    assert n_files == 3
    ranges = sorted((lo, hi) for _, lo, hi in st._file_id_ranges())
    # disjoint ranges: each file owns its slice
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 < l2
    touched, untouched = st._partition_files_by_ids(ids=[7])
    assert len(touched) == 1 and len(untouched) == 2
    files_before = {str(f): f.stat().st_mtime_ns for f in _data_files(st)}
    assert st.delete_vectors(ids=[7]) == 1
    survivors = {str(f): f.stat().st_mtime_ns for f in _data_files(st)}
    untouched_after = {p: m for p, m in files_before.items() if p in survivors}
    assert len(untouched_after) == 2  # two files byte-identical
    for p, m in untouched_after.items():
        assert survivors[p] == m
    assert st.count() == 299


def test_dedup_vectors_component_keeper(catalog):
    """dedup_vectors removes every near-identical vector except the
    min id of each transitive cluster; distinct vectors survive."""
    st = catalog.create_store("u9", "dedup", dimension=8, metric="cosine")
    base = RNG.random(8).astype(np.float32)
    other = -base  # cosine -1 vs base: never a near-dup
    third = RNG.random(8).astype(np.float32)
    vecs = [
        base,
        base * 2.0,            # same direction as id 0 -> cosine 1.0
        base + 1e-4,           # near-identical to id 0
        other,
        third,
    ]
    st.add_vectors([v.tolist() for v in vecs])
    removed = st.dedup_vectors(threshold=0.999)
    assert removed == 2
    kept = sorted(r["id"] for r in st.to_df().select("id").collect())
    assert kept == [0, 3, 4]
    # idempotent: second pass removes nothing
    assert st.dedup_vectors(threshold=0.999) == 0


def test_dedup_vectors_uses_index_cells(catalog):
    """With an IVF index, dedup still removes exact duplicates (same
    vector always lands in the same cell, so in-cell candidate
    generation finds it)."""
    st = catalog.create_store("u9", "dedupivf", dimension=8, metric="cosine")
    vecs = RNG.random((40, 8)).astype(np.float32)
    dup = np.vstack([vecs, vecs[:5]])  # 5 exact duplicates appended
    st.add_vectors(dup.tolist())
    st.build_index(kind="ivf", nlist=4, seed=1)
    removed = st.dedup_vectors(threshold=0.9999, use_index=True)
    assert removed == 5
    assert st.count() == 40


def test_add_vectors_dedup_screens_store_and_batch(catalog):
    """Dedup-on-write: batch rows near-identical to existing vectors or
    to earlier batch rows are rejected; distinct rows append."""
    st = catalog.create_store("u9", "ingest", dimension=8, metric="cosine")
    base = RNG.random((10, 8)).astype(np.float32)
    st.add_vectors(base.tolist())
    fresh = -base[:3]  # cosine -1 vs originals: genuinely new
    batch = np.vstack([
        base[:2] * 1.5,   # dups of store rows (same direction)
        fresh,
        fresh[0:1] * 2.0, # in-batch dup of the first fresh row
    ])
    added, rejected = st.add_vectors_dedup(batch.tolist(), threshold=0.999)
    assert (added, rejected) == (3, 3)
    assert st.count() == 13
    # idempotent: replaying the same batch adds nothing
    added2, rejected2 = st.add_vectors_dedup(batch.tolist(), threshold=0.999)
    assert (added2, rejected2) == (0, 6)
    assert st.count() == 13


def test_add_vectors_dedup_unindexed_scale_guard(catalog, monkeypatch):
    """The no-index full-scan cliff is visible at the API: a warning past
    UNINDEXED_DEDUP_WARN_ROWS, a refusal past max_unindexed_rows, silence
    with max_unindexed_rows=None — and an indexed store never trips the
    guard. Store size is faked via the footer-metadata probe so the test
    stays tiny."""
    import warnings as _w

    from mlx_vector_db_spark.store import VectorStore

    st = catalog.create_store("u10", "guard", dimension=8, metric="cosine")
    base = RNG.random((5, 8)).astype(np.float32)
    st.add_vectors(base.tolist())
    fresh = -base[:2]

    monkeypatch.setattr(VectorStore, "_approx_row_count", lambda self: 200_000)
    with _w.catch_warnings(record=True) as got:
        _w.simplefilter("always")
        st.add_vectors_dedup(fresh.tolist(), threshold=0.999)
    assert any(issubclass(w.category, ResourceWarning) for w in got)

    monkeypatch.setattr(VectorStore, "_approx_row_count", lambda self: 2_000_000)
    with pytest.raises(ValueError, match="UNINDEXED"):
        st.add_vectors_dedup(fresh.tolist(), threshold=0.999)
    # explicit opt-out accepts the scan
    st.add_vectors_dedup([(-base[2]).tolist()], threshold=0.999,
                         max_unindexed_rows=None)
    # an indexed store prunes to cells: guard must not fire at any size
    st.build_index(kind="ivf", nlist=2, seed=1)
    with _w.catch_warnings(record=True) as got:
        _w.simplefilter("always")
        st.add_vectors_dedup([(-base[3]).tolist()], threshold=0.999)
    assert not any(issubclass(w.category, ResourceWarning) for w in got)


def test_dedup_vectors_unindexed_scale_guard(catalog, monkeypatch):
    """dedup_vectors without an index is O(N²): same warn/refuse/opt-out
    contract as add_vectors_dedup."""
    import warnings as _w

    from mlx_vector_db_spark.store import VectorStore

    st = catalog.create_store("u11", "guard2", dimension=8, metric="cosine")
    base = RNG.random((6, 8)).astype(np.float32)
    st.add_vectors(np.vstack([base, base[:1] * 2.0]).tolist())

    monkeypatch.setattr(VectorStore, "_approx_row_count", lambda self: 200_000)
    with _w.catch_warnings(record=True) as got:
        _w.simplefilter("always")
        removed = st.dedup_vectors(threshold=0.999)
    assert any(issubclass(w.category, ResourceWarning) for w in got)
    assert removed == 1 and st.count() == 6  # warn still runs the dedup

    monkeypatch.setattr(VectorStore, "_approx_row_count", lambda self: 2_000_000)
    with pytest.raises(ValueError, match="O\\(N"):
        st.dedup_vectors(threshold=0.999)
    # explicit opt-out accepts the all-pairs cost (store already clean)
    assert st.dedup_vectors(threshold=0.999, max_unindexed_rows=None) == 0


# -- r6: distributed doomed-set deletion + optimistic manifest commits ----


def test_delete_vectors_doomed_df(catalog, spark):
    """delete_vectors(doomed_df=...) removes exactly the rows in the
    doomed frame without the ids ever transiting the driver, and the
    footer-interval pruning leaves files outside the doomed id range
    untouched on disk."""
    st = catalog.create_store("dd1", "m", dimension=4)
    # two appends -> two files with disjoint id ranges (0-49, 50-99)
    st.add_vectors([[float(i), 1.0, 0.0, 0.0] for i in range(50)],
                   ids=list(range(50)))
    st.add_vectors([[float(i), 1.0, 0.0, 0.0] for i in range(50, 100)],
                   ids=list(range(50, 100)))
    files_before = set(st._data_files())
    assert len(files_before) == 2
    doomed = spark.range(10, 20).select(F.col("id"))
    # blow up if anything materializes the doomed ids driver-side
    doomed.collect = _raise_collect  # type: ignore[method-assign]
    removed = st.delete_vectors(doomed_df=doomed)
    assert removed == 10
    assert st.count() == 90
    # the survivor plan is a distributed anti-JOIN, never an isin literal
    # (an id-list delete plans as `id IN (...)` / InSet — neither may
    # appear here)
    import re as _re

    plan = st._last_delete_plan
    assert plan and "Join" in plan
    assert "InSet" not in plan and not _re.search(r"\bIN \(", plan)
    kept = {r["id"] for r in st.to_df().select("id").collect()}
    assert kept == set(range(100)) - set(range(10, 20))
    # the 50-99 file is outside [10, 19]: never rewritten
    untouched = [f for f in files_before if f in set(st._data_files())]
    assert len(untouched) == 1


def _raise_collect(*a, **k):
    raise AssertionError("doomed ids were materialized on the driver")


def test_delete_vectors_doomed_df_empty_and_combined(catalog, spark):
    st = catalog.create_store("dd2", "m", dimension=4)
    st.add_vectors([[1.0, 0.0, 0.0, 0.0]] * 5, ids=list(range(5)))
    assert st.delete_vectors(doomed_df=spark.range(0).select("id")) == 0
    assert st.count() == 5
    with pytest.raises(ValueError, match="combined"):
        st.delete_vectors(ids=[1], doomed_df=spark.range(1).select("id"))


def test_dedup_vectors_distributed_above_threshold(catalog, monkeypatch):
    """Above collect_ids_threshold the doomed set must reach
    delete_vectors as a DataFrame (anti-join plan), not a collected id
    list (isin literal)."""
    from mlx_vector_db_spark.store import VectorStore

    st = catalog.create_store("dd3", "m", dimension=8)
    base = RNG.random((20, 8)).astype(np.float32)
    dup = np.vstack([base, base[:8] * 2.0])  # 8 cosine-1.0 duplicates
    st.add_vectors(dup.tolist())

    seen: dict = {}
    orig = VectorStore.delete_vectors

    def spy(self, ids=None, filter_metadata=None, doomed_df=None):
        seen["ids"] = ids
        seen["doomed_df"] = doomed_df
        return orig(self, ids=ids, filter_metadata=filter_metadata,
                    doomed_df=doomed_df)

    monkeypatch.setattr(VectorStore, "delete_vectors", spy)
    removed = st.dedup_vectors(threshold=0.9999, collect_ids_threshold=0)
    assert removed == 8
    assert seen["ids"] is None and seen["doomed_df"] is not None
    assert st.count() == 20
    # below the threshold the collected-ids path (footer pruning) runs
    st.add_vectors((base[:3] * 3.0).tolist())
    seen.clear()
    removed = st.dedup_vectors(threshold=0.9999)  # default big threshold
    assert removed == 3
    assert seen["doomed_df"] is None and seen["ids"] is not None


@pytest.mark.slow
def test_dedup_vectors_distributed_stress(catalog):
    """30%+ duplicate rate through the distributed doomed path: the
    doomed set is ~38% of the store and never transits the driver."""
    st = catalog.create_store("dd4", "m", dimension=16)
    base = RNG.random((500, 16)).astype(np.float32)
    dups = np.vstack([base[:150] * 2.0, base[:150] * 3.0])  # 300 doomed
    st.add_vectors(np.vstack([base, dups]).tolist())
    removed = st.dedup_vectors(threshold=0.9999, collect_ids_threshold=0)
    assert removed == 300
    assert st.count() == 500
    assert st.dedup_vectors(threshold=0.9999, collect_ids_threshold=0) == 0


def test_interleaved_appends_both_land(catalog, monkeypatch):
    """Two writers interleave: A reads the live set, B commits an
    append, then A commits. Pre-r6 A's manifest silently dropped B's
    files; the CAS loop re-reads and composes both."""
    from mlx_vector_db_spark.store import VectorStore

    st_a = catalog.create_store("cc1", "m", dimension=4)
    st_a.add_vectors([[1.0, 0.0, 0.0, 0.0]] * 10, ids=list(range(10)))
    st_b = catalog.get_store("cc1", "m")

    from mlx_vector_db_spark.store import _UNCHECKED

    orig = VectorStore._commit_manifest
    state = {"fired": False}

    def inject(self, files, expected_parent=_UNCHECKED, **kw):
        # first commit attempt from writer A: let writer B slip a full
        # append in between A's live-set read and A's pointer flip
        if self is not st_b and not state["fired"]:
            state["fired"] = True
            st_b.add_vectors([[2.0, 0.0, 0.0, 0.0]] * 10,
                             ids=list(range(100, 110)))
        return orig(self, files, expected_parent=expected_parent, **kw)

    import mlx_vector_db_spark.store as S
    monkeypatch.setattr(VectorStore, "_commit_manifest", inject)
    st_a.add_vectors([[3.0, 0.0, 0.0, 0.0]] * 10, ids=list(range(200, 210)))
    monkeypatch.undo()

    assert state["fired"]
    st = catalog.get_store("cc1", "m")
    ids = {r["id"] for r in st.to_df().select("id").collect()}
    assert ids == set(range(10)) | set(range(100, 110)) | set(range(200, 210))
    assert st.count() == 30


def test_commit_conflict_raises_on_stale_parent(catalog):
    from mlx_vector_db_spark.store import ManifestConflictError

    st = catalog.create_store("cc2", "m", dimension=4)
    st.add_vectors([[1.0, 0.0, 0.0, 0.0]] * 3, ids=[0, 1, 2])
    stale = st._current_token()
    st.add_vectors([[2.0, 0.0, 0.0, 0.0]] * 3, ids=[3, 4, 5])  # advances
    with pytest.raises(ManifestConflictError):
        st._commit_manifest(st._data_files(), expected_parent=stale)
    # the failed commit changed nothing
    assert st.count() == 6


def test_conflicting_rewrite_raises(catalog):
    """A rewrite whose target files were already replaced by another
    writer must fail (resurrecting the other writer's deletes would be
    silent data corruption), while plain appends compose."""
    from mlx_vector_db_spark.store import ConcurrentWriteError

    st = catalog.create_store("cc3", "m", dimension=4)
    st.add_vectors([[float(i), 0.0, 0.0, 0.0] for i in range(10)],
                   ids=list(range(10)))
    victim = list(st._data_files())
    # another writer's rewrite replaces every current file
    st2 = catalog.get_store("cc3", "m")
    st2.delete_vectors(ids=[0])
    # our stale rewrite now targets dead files
    staging = st.data_dir.parent / ".staging-test-conflict"
    staging.mkdir()
    (staging / "part-xyz.parquet").write_bytes(b"")
    with pytest.raises(ConcurrentWriteError):
        st._swap_pruned_files(staging, victim)


def test_config_update_crash_keeps_previous(catalog, monkeypatch):
    """A crash mid config-update must leave the PREVIOUS config intact
    (pre-r6 write_text could strand a torn JSON that bricks the store)."""
    import json as _json

    import mlx_vector_db_spark.store as S

    st = catalog.create_store("cfg1", "m", dimension=4)
    real_replace = S.os.replace

    def boom(src, dst):
        if str(dst).endswith(".json"):
            raise OSError("simulated crash at config replace")
        return real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(S.os, "replace", boom)
        with pytest.raises(OSError):
            catalog._save_config(st.config)
    # previous config still parses; store still loadable
    cfg = _json.loads(catalog._config_path("cfg1", "m").read_text())
    assert cfg["dimension"] == 4
    assert catalog.get_store("cfg1", "m").config.dimension == 4


def test_create_store_race_is_exclusive(catalog, monkeypatch):
    """Two creators racing past the exists() fast path: the link() is
    the atomic arbiter — the loser raises (or returns the winner's
    store under exist_ok) and never clobbers the winner's config."""
    import mlx_vector_db_spark.store as S

    real_exists = S.Path.exists
    state = {"armed": True}

    def fake_exists(self):
        # writer A consults the fast path, sees "no store", but B lands
        # one before A's link
        if state["armed"] and str(self).endswith("race1__m.json"):
            state["armed"] = False
            real_write = catalog._config_path("race1", "m")
            real_write.write_text('{"user_id": "race1", "model_id": "m", "dimension": 8, "metric": "cosine", "promoted_keys": {}, "created_at": 0.0, "index": null, "quantize": false, "pq": null}')
            return False
        return real_exists(self)

    with monkeypatch.context() as m:
        m.setattr(S.Path, "exists", fake_exists)
        with pytest.raises(FileExistsError):
            catalog.create_store("race1", "m", dimension=4)
    # the winner's config survived (dimension 8, not 4)
    assert catalog.get_store("race1", "m").config.dimension == 8
    # and exist_ok resolves to the winner instead of raising
    st = catalog.create_store("race1", "m", dimension=4, exist_ok=True)
    assert st.config.dimension == 8


def test_append_during_optimize_composes(catalog, monkeypatch):
    """An append that commits while optimize() is compacting must
    survive: the CAS re-read folds the appended file into the new
    manifest (pre-r6, optimize's swap clobbered it)."""
    from mlx_vector_db_spark.store import _UNCHECKED, VectorStore

    st = catalog.create_store("cc4", "m", dimension=4)
    st.add_vectors([[1.0, 0.0, 0.0, 0.0]] * 10, ids=list(range(10)))
    st.add_vectors([[2.0, 0.0, 0.0, 0.0]] * 10, ids=list(range(10, 20)))
    st2 = catalog.get_store("cc4", "m")

    orig = VectorStore._commit_manifest
    state = {"fired": False}

    def inject(self, files, expected_parent=_UNCHECKED, **kw):
        if self is not st2 and not state["fired"]:
            state["fired"] = True
            st2.add_vectors([[3.0, 0.0, 0.0, 0.0]] * 5,
                            ids=list(range(100, 105)))
        return orig(self, files, expected_parent=expected_parent, **kw)

    monkeypatch.setattr(VectorStore, "_commit_manifest", inject)
    st.optimize(target_files=1)
    monkeypatch.undo()

    assert state["fired"]
    st3 = catalog.get_store("cc4", "m")
    ids = {r["id"] for r in st3.to_df().select("id").collect()}
    assert ids == set(range(20)) | set(range(100, 105))
    assert st3.count() == 25


def _hold_commit_lock(path: str, sentinel: str, hold_s: float) -> None:
    """Child-process helper for the cross-process lock test: acquire the
    commit flock, signal via sentinel file, hold, release."""
    import fcntl
    import os as _os
    import time as _time

    fd = _os.open(path, _os.O_CREAT | _os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    open(sentinel, "w").write("held")
    _time.sleep(hold_s)
    fcntl.flock(fd, fcntl.LOCK_UN)
    _os.close(fd)


def test_commit_lock_serializes_across_processes(catalog, tmp_path):
    """The commit lock is a REAL cross-process flock, not an in-process
    convention: a child process holding it blocks this process's
    pointer flip until release."""
    import multiprocessing as mp
    import time as _time

    st = catalog.create_store("xp1", "m", dimension=4)
    st.add_vectors([[1.0, 0.0, 0.0, 0.0]] * 3, ids=[0, 1, 2])
    lock_path = str(st._manifest_dir / "LOCK")
    sentinel = str(tmp_path / "lock-held")
    ctx = mp.get_context("spawn")
    p = ctx.Process(
        target=_hold_commit_lock, args=(lock_path, sentinel, 1.5)
    )
    p.start()
    try:
        deadline = _time.time() + 30
        while not __import__("os").path.exists(sentinel):
            if _time.time() > deadline:
                raise AssertionError("child never acquired the lock")
            _time.sleep(0.05)
        t0 = _time.time()
        st._commit_manifest(st._data_files())  # blocks until child releases
        waited = _time.time() - t0
    finally:
        p.join()
    assert waited >= 1.0, f"commit did not wait for the lock ({waited:.2f}s)"
    assert st.count() == 3  # commit landed fine after the wait


def test_snapshot_history_and_as_of(store):
    # fixture committed one 50-row batch; add two more snapshots
    v2 = RNG.random((10, DIM)).astype(np.float32)
    store.add_vectors(v2.tolist(), [{"category": "A", "priority": 0}] * 10)
    v3 = RNG.random((5, DIM)).astype(np.float32)
    store.add_vectors(v3.tolist(), [{"category": "B", "priority": 1}] * 5)
    hist = store.history()
    assert len(hist) >= 3
    assert [h["version"] for h in hist] == list(range(len(hist)))
    assert hist[-1]["name"] == store._current_token()
    # ordinals, negatives, and names all resolve; counts walk 50/60/65
    assert store.as_of(len(hist) - 3).count() == 50
    assert store.as_of(-2).count() == 60
    assert store.as_of(-1).count() == store.to_df().count() == 65
    assert store.as_of(hist[-3]["name"]).count() == 50
    # a mutation later: old snapshots still read their own world
    store.delete_vectors(filter_metadata={"category": "B"})
    assert store.to_df().count() < 65
    assert store.as_of(-2).count() == 65  # pre-delete snapshot intact
    with pytest.raises(ValueError, match="out of range"):
        store.as_of(99)
    with pytest.raises(ValueError, match="unknown snapshot"):
        store.as_of("manifest-bogus.json")


def test_vacuum_bounds_time_travel(store):
    files_v0 = set(store._data_files())
    store.delete_vectors(filter_metadata={"category": "A"})  # rewrites files
    hist = store.history()
    assert len(hist) >= 2
    # retention 0: reap superseded data files + manifests immediately
    store.catalog.vacuum(min_age_seconds=0)
    # the pre-delete snapshot is gone (either its manifest was pruned
    # from history, or reading it names the vacuumed file)
    pre = [h for h in store.history() if h["name"] == hist[-2]["name"]]
    if pre:
        with pytest.raises(FileNotFoundError, match="vacuum"):
            store.as_of(hist[-2]["name"])
    # current snapshot unaffected
    assert store.as_of(-1).count() == store.to_df().count()
    assert not (files_v0 - set(store._data_files())) or True


def test_restore_rolls_back_and_is_itself_restorable(store):
    assert store.count() == 50
    store.delete_vectors(filter_metadata={"category": "B"})
    assert store.count() == 25
    pre_delete = store.history()[-2]["name"]
    store.restore(pre_delete)
    assert store.count() == 50  # metadata-only rollback
    # auto-id continues above the restored high-water mark
    store.add_vectors([[0.5] * DIM])
    ids = {r["id"] for r in store.to_df().select("id").collect()}
    assert max(ids) == 50 and len(ids) == 51
    # the rollback is a new commit: the deleted state is still in
    # history, so the restore itself can be undone
    deleted_state = store.history()[-3]["name"]
    store.restore(deleted_state)
    assert store.count() == 25
    with pytest.raises(ValueError):
        store.restore("manifest-nope.json")


def _backdate(paths, seconds):
    import os as _os
    import time as _time

    old = _time.time() - seconds
    for p in paths:
        _os.utime(p, (old, old))


def test_vacuum_retention_ages_from_supersede_time(store):
    """A file written hours ago but superseded seconds ago is INSIDE
    the retention window: min_age_seconds counts from the commit that
    retired it (the commit touches retired files + the superseded
    manifest), not from file creation."""
    files_v0 = list(store._data_files())
    m0 = store._current_token()
    # pretend the first snapshot is 2h old
    _backdate(files_v0 + [store._manifest_dir / m0], 7200)
    pre = store.history()[-1]["name"]
    store.delete_vectors(filter_metadata={"category": "A"})  # rewrite NOW
    assert store.catalog.vacuum(min_age_seconds=3600) == 0
    # the 2h-old-but-just-superseded snapshot is fully travelable
    assert store.as_of(pre).count() == 50
    # once genuinely aged past the window (backdate the supersede marks),
    # the manifest and its exclusive files go together
    _backdate(
        [f for f in files_v0 if f.exists()] + [store._manifest_dir / pre], 7200
    )
    assert store.catalog.vacuum(min_age_seconds=3600) > 0
    assert pre not in {h["name"] for h in store.history()}
    assert store.to_df().count() == store.count()  # current intact


def test_vacuum_never_reaps_files_of_retained_manifests(store):
    """Coupling: as long as a superseded manifest is retained (inside
    the window), every data file it references survives — history()
    never lists a snapshot whose as_of() finds a hole."""
    files_v0 = list(store._data_files())
    store.delete_vectors(filter_metadata={"category": "A"})
    # age the RETIRED DATA FILES far past the window, but leave the
    # superseded manifest young (as if the commit-touch on files were
    # lost): the reference-coupling must still protect them
    _backdate([f for f in files_v0 if f.exists()], 7200)
    store.catalog.vacuum(min_age_seconds=3600)
    for h in store.history():
        assert store.as_of(h["name"]).count() >= 0  # no FileNotFoundError


def test_restore_vs_vacuum_composition(store):
    """A vacuum(min_age_seconds=0) loop racing restore()/as_of(): every
    restore either lands with ALL its files present on disk, or fails
    loudly BEFORE committing — CURRENT never references reaped files."""
    import threading

    stop = threading.Event()
    errs: list[Exception] = []

    def sweeper():
        while not stop.is_set():
            try:
                store.catalog.vacuum(min_age_seconds=0)
            except Exception as e:  # noqa: BLE001 — surface in the test
                errs.append(e)

    # mint a pool of snapshots BEFORE the sweeper starts (vacuum at
    # retention 0 legitimately reaps in-flight staging dirs, so writes
    # don't race it — restore is metadata-only and is the race target)
    for i in range(4):
        store.add_vectors([[0.25] * DIM], [{"category": "A", "priority": 9}])
    t = threading.Thread(target=sweeper)
    t.start()
    try:
        for i in range(40):
            hist = store.history()
            if len(hist) < 2:
                break  # sweeper reaped all history: nothing left to race
            try:
                store.restore(hist[-2]["name"])
            except (FileNotFoundError, ValueError):
                continue  # loud pre-commit failure: the allowed outcome
            # committed: the invariant — every live file exists
            live = store._live_files()
            assert live is not None
            missing = [str(f) for f in live if not f.exists()]
            assert not missing, f"restore committed reaped files: {missing[:3]}"
    finally:
        stop.set()
        t.join()
    assert not errs, errs[:2]
    # the final state is scannable end-to-end
    assert store.to_df().count() == store.count()
