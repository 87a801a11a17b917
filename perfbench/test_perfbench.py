"""Self-tests for the benchmark's pure pieces (no Spark session).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, compare, inputs, report, stats, workloads  # noqa: E402
from perfbench.trace import NullTracer, Span, Tracer, covered, self_times  # noqa: E402


# ---- seeded inputs --------------------------------------------------------


def _stream(tables, seed: int, mix=workloads.SERVE_MIX) -> inputs.RequestStream:
    d, e = tables["documents"], tables["embeddings"]
    return inputs.RequestStream(
        seed, (d.column("doc_id").to_pylist(), d.column("text").to_pylist()),
        (e.column("vec_id").to_pylist(), e.column("embedding").to_pylist()),
        mix, workloads.SERVE_SHAPE)


def _inputs(seed: int):
    tables = inputs.make_tables(seed)
    serve = _stream(tables, seed)
    ing = inputs.IngestStream(seed, workloads.INGEST_SHAPE, 10**6, 10**6, 2 * 10**7)
    return {
        "tables": {n: t.to_pylist() for n, t in tables.items()},
        "pass": [inputs.pass_order(seed, workloads.BATCH_MIX, p) for p in range(3)],
        "serve": [[(r.kind, r.payload) for r in serve.cycle()] for _ in range(2)],
        "docs": ing.docs(),
        "vectors": ing.vectors(),
        "kv": ing.kv_ops(),
        "deletes": ing.pick_deletes(list(range(100)), 5),
    }


@pytest.fixture(scope="module")
def seeded():
    return _inputs(7), _inputs(7), _inputs(8)


def test_same_seed_same_inputs(seeded):
    a, b, _ = seeded
    assert a == b


@pytest.mark.parametrize("part", ["tables", "pass", "serve", "docs", "vectors", "kv", "deletes"])
def test_different_seed_different_inputs(seeded, part):
    a, _, c = seeded
    assert a[part] != c[part]


def test_tables_have_fixture_schemas():
    t = inputs.make_tables(1)
    assert set(t) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert str(t["lineitem"].schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(t["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert t["lineitem"].num_rows == inputs.SIZES["lineitem"]


def test_ingest_ids_are_fresh():
    ing = inputs.IngestStream(3, workloads.INGEST_SHAPE, 10**6, 10**6, 2 * 10**7)
    a, b = ing.docs(), ing.docs()
    assert min(a["doc_id"]) == 10**6 and not set(a["doc_id"]) & set(b["doc_id"])
    kv = ing.kv_ops()
    seqs = [r[0] for r in kv]
    assert len(set(seqs)) == len(seqs)
    # retransmissions repeat (client, reqid) with a later seq
    firsts = {(r[1], r[2]): r[0] for r in kv if r[0] == r[2]}
    dups = [r for r in kv if r[0] != r[2]]
    assert dups and all(firsts[(r[1], r[2])] < r[0] for r in dups)


def test_serve_requests_follow_the_callers_shapes():
    tables = inputs.make_tables(2)
    texts = dict(zip(tables["documents"].column("doc_id").to_pylist(),
                     tables["documents"].column("text").to_pylist()))
    s = _stream(tables, 2)
    bm = s.make("bm25")
    # 1% of the corpus, each query the distinct terms of a document's first 5 tokens
    assert len(bm.ids) == inputs.SIZES["documents"] // 100
    terms = {}
    for q, t in bm.payload:
        terms.setdefault(q, set()).add(t)
    assert all(1 <= len(v) <= 5 for v in terms.values())
    assert any(sorted(v) == inputs.first_terms(inputs.doc_tokens([texts[d]])[0], 5)
               for v in terms.values() for d in texts)
    ann = s.make("ann")
    assert len(ann.ids) == inputs.SIZES["embeddings"] // 100
    assert len({v % 100 for v in ann.ids}) == 1
    assert len(s.make("kv").payload) == 1


def test_zipf_keys_are_skewed():
    s = _stream(inputs.make_tables(1), 1, {"kv": 1})
    counts: dict[str, int] = {}
    for _ in range(300):
        for k in s.make("kv").payload:
            counts[k] = counts.get(k, 0) + 1
    top = sorted(counts.values(), reverse=True)
    assert top[0] > 5 * top[-1]


# ---- percentile rule ------------------------------------------------------


def test_percentile_rule_and_counts():
    s = stats.summarize([float(i) for i in range(1, 20)])
    assert s["n"] == 19 and s["p50"] == 10.0 and "p90" not in s
    s = stats.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p90"] == 90.0 and "p99" not in s
    s = stats.summarize([float(i) for i in range(1, 1001)])
    assert s["p99"] == 990.0
    assert stats.summarize([]) == {"n": 0}
    assert stats.reportable(99, 90) is False and stats.reportable(100, 90) is True


# ---- span arithmetic ------------------------------------------------------


def test_covered_merges_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(-5, 20)], 0, 10) == 10


def test_self_times():
    spans = [
        Span(0, None, 0, "op", 0.0, 10.0),
        Span(1, 0, 0, "registry.build", 1.0, 3.0),
        Span(2, 0, 0, "exec.materialize", 4.0, 9.0),
        Span(3, 2, 0, "spark.job", 5.0, 7.0),
        Span(4, 2, 0, "spark.job", 6.0, 8.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(3.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(2.0)


def test_driver_self_time_leaves_out_jobs_and_the_tracers_replanning():
    tr = Tracer()
    tr.spans = [
        Span(0, None, 0, "op", 0.0, 10.0, attrs={"op": 1, "timed": True}),
        Span(1, 0, 0, "plans.inspect", 1.0, 2.5),  # tracer-only re-planning
        Span(2, 0, 0, "exec.materialize", 3.0, 9.0),
        Span(3, 2, 0, "spark.job", 4.0, 8.0),
    ]
    wl = workloads.Workload(None, tr, 1, 1.0, "", "", None, None)
    wl.layers = {"session.start_s": 1.0, "session.cold_pass_s": 2.0}
    wl.cpu_window = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    out = report.per_layer(wl, tr)
    assert out["trace.plan_inspect_s"] == pytest.approx(1.5)
    assert out["driver.self_s"] == pytest.approx(10.0 - 4.0 - 1.5)
    assert out["exec.jobs"] == 1


# ---- checkers count corrupted results as failed ops ----------------------


def test_kv_model_dedups_and_folds():
    log = [
        (1, 7, 1, "put", "a", "x"),
        (2, 7, 2, "append", "a", "y"),
        (3, 8, 3, "get", "a", None),
        (9, 7, 2, "append", "a", "y"),  # retransmission: ignored
        (4, 8, 4, "append", "b", "z"),
    ]
    assert checks.kv_fold(log) == {"a": "xy", "b": "z"}


def _serve_workload():
    wl = workloads.IndexServe(None, NullTracer(), 1, 1.0, "", "", None, None)
    wl.model = {"1": "abc", "2": "de"}
    wl.served = []
    wl.shape = dict(workloads.SERVE_SHAPE, ann_k=2, n_probe=1)
    return wl


@pytest.mark.parametrize("corrupt", [False, True])
def test_corrupted_result_counts_as_failed(corrupt):
    wl = _serve_workload()
    good = [("1", "abc"), ("2", "de")]
    bad = [("1", "abX"), ("2", "de")]
    req = inputs.Request("kv", ["1", "2"])
    _ok, res, _dt, rec = wl.run_op("kv", lambda: bad if corrupt else good, timed=True)
    wl.served.append((req, res, rec))
    wl.check_reads()
    assert (wl.attempted, wl.failed) == (1, 1 if corrupt else 0)


# a two-cell index: query 0 probes cell 0 (n_probe 1), whose vectors
# 1, 2, 3 are its neighbours in that order by cosine; 4 sits in cell 1
ANN_CENTROIDS = {0: [1.0, 0.0], 1: [0.0, 1.0]}
ANN_CELLS = {0: [(1, [0.9, 0.1]), (2, [0.7, 0.3]), (3, [0.5, 0.5]), (0, [1.0, 0.0])],
             1: [(4, [0.2, 0.98])]}
ANN_QUERIES = {0: [1.0, 0.0]}


def test_ivf_reference_probes_and_ranks():
    want = checks.ivf_topk(ANN_QUERIES, ANN_CENTROIDS, ANN_CELLS, k=2, n_probe=1)
    assert [(nb, r) for nb, _s, r in want[0]] == [(1, 1), (2, 2)]  # itself excluded
    assert want[0][0][1] == pytest.approx(0.9 / (0.81 + 0.01) ** 0.5, abs=1e-6)
    both = checks.ivf_topk(ANN_QUERIES, ANN_CENTROIDS, ANN_CELLS, k=5, n_probe=2)
    assert [nb for nb, _s, _r in both[0]] == [1, 2, 3, 4]


@pytest.mark.parametrize("corrupt", ["none", "empty", "reordered", "short", "wrong_neighbour",
                                     "extra_query"])
def test_ann_result_corrupted_counts_as_failed(corrupt):
    wl = _serve_workload()
    wl.ivf_at_rest = lambda: (ANN_CENTROIDS, ANN_CELLS)
    want = checks.ivf_topk(ANN_QUERIES, ANN_CENTROIDS, ANN_CELLS, k=2, n_probe=1)[0]
    good = [(0, nb, s, r) for nb, s, r in want]
    res = {
        "none": good,
        "empty": [],
        "reordered": [(0, good[1][1], good[1][2], 1), (0, good[0][1], good[0][2], 2)],
        "short": good[:1],
        "wrong_neighbour": [good[0], (0, 4, good[1][2], 2)],
        "extra_query": good + [(9, 1, 0.5, 1)],
    }[corrupt]
    req = inputs.Request("ann", [(0, ANN_QUERIES[0])], [0])
    _ok, out, _dt, rec = wl.run_op("ann", lambda: res, timed=True)
    wl.served.append((req, out, rec))
    wl.check_reads()
    assert (wl.attempted, wl.failed) == (1, 0 if corrupt == "none" else 1)


def test_raising_op_counts_as_failed():
    wl = _serve_workload()

    def boom():
        raise RuntimeError("injected")

    ok, res, _dt, rec = wl.run_op("kv", boom, timed=True)
    assert (ok, res, wl.attempted, wl.failed) == (False, None, 1, 1)


def test_batch_check_fails_every_timed_op_of_a_wrong_query():
    wl = workloads.BatchQueries(None, NullTracer(), 1, 1.0, "", "", None, None)
    wl.op_ok = {"wordcount": True, "dedup_exact": False}
    for name in ("wordcount", "dedup_exact", "dedup_exact"):
        wl.run_op(name, lambda: None, timed=True)
    wl.check()
    assert (wl.attempted, wl.failed) == (3, 2)


def test_ranking_checks():
    rows = [(1, 10, 0.9, 1), (1, 11, 0.8, 2), (2, 12, 0.5, 1)]
    assert checks.ranking_ok(rows, 0, 1, 2, 3, 5, set())
    assert not checks.ranking_ok(rows, 0, 1, 2, 3, 5, {11})  # deleted id served
    assert not checks.ranking_ok([(1, 10, 0.8, 1), (1, 11, 0.9, 2)], 0, 1, 2, 3, 5, set())


def test_fresh_tokens_are_unique_letters():
    toks = [workloads.fresh_token(i) for i in range(5000)]
    assert len(set(toks)) == len(toks) and all(t.isalpha() and t.islower() for t in toks)


# ---- compare verdicts -----------------------------------------------------


def test_compare_verdicts():
    base = [1.0, 1.01, 0.99, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.0]
    assert compare.verdict(base, [x * 0.8 for x in base], True, 0.1) == "better"
    assert compare.verdict(base, [x * 1.3 for x in base], True, 0.1) == "worse"
    assert compare.verdict(base, list(base), True, 0.1) == "within bound"
    noisy = [1.0, 2.0, 0.5, 1.5, 0.7, 1.8, 0.6, 1.2, 1.1, 0.9]
    assert compare.verdict(noisy, list(noisy), True, 0.1) == "unresolved"
