"""The benchmark's own tests: no Spark session, no library import.

    python3 -m pytest vecbench/tests -q
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from workloads import _same_topk  # noqa: E402


# ------------------------------------------------------------------ generator


def test_same_seed_same_digest(tmp_path):
    a = gen.churn(str(tmp_path / "a"), 7, n=300, dim=8, batch=10, cycles=3, n_queries=4)
    b = gen.churn(str(tmp_path / "b"), 7, n=300, dim=8, batch=10, cycles=3, n_queries=4)
    c = gen.churn(str(tmp_path / "c"), 8, n=300, dim=8, batch=10, cycles=3, n_queries=4)
    assert gen.digest(a.files) == gen.digest(b.files)
    assert gen.digest(a.files) != gen.digest(c.files)


def test_batch_join_inputs_are_deterministic(tmp_path):
    a = gen.batch_join(str(tmp_path / "a"), 3, n=200, dim=8, batch=4, n_batches=2)
    b = gen.batch_join(str(tmp_path / "b"), 3, n=200, dim=8, batch=4, n_batches=2)
    assert gen.digest(a.files) == gen.digest(b.files)
    np.testing.assert_array_equal(a.truth[1][0], b.truth[1][0])


def test_churn_deletes_only_live_older_rows(tmp_path):
    inp = gen.churn(str(tmp_path), 1, n=100, dim=4, batch=10, cycles=5, n_queries=2)
    live = set(inp.corpus.ids.tolist())
    for app, dele in zip(inp.appends, inp.deletes):
        assert set(dele.tolist()) <= live
        live = (live - set(dele.tolist())) | set(app.ids.tolist())
    assert len(live) == 100


def test_vectors_round_trip_through_parquet(tmp_path):
    inp = gen.churn(str(tmp_path), 2, n=50, dim=6, batch=5, cycles=1, n_queries=3)
    np.testing.assert_array_equal(gen.read_vectors(os.path.join(str(tmp_path), "queries")), inp.queries)
    parsed = np.array(__import__("json").loads(gen.vec_text(inp.queries[0])), dtype=np.float32)
    np.testing.assert_array_equal(parsed, inp.queries[0])


def test_exact_topk_matches_brute_force():
    rng = np.random.default_rng(0)
    corpus = gen.Corpus(np.arange(500, dtype=np.int64), rng.standard_normal((500, 16), dtype=np.float32))
    q = rng.standard_normal((3, 16), dtype=np.float32)
    ids, d = gen.exact_topk(corpus, q)
    for j in range(3):
        full = np.sqrt(((corpus.vecs.astype(np.float64) - q[j].astype(np.float64)) ** 2).sum(axis=1))
        np.testing.assert_array_equal(ids[j], np.lexsort((corpus.ids, full))[:10])


def test_s8_codes_round_half_away_and_saturate():
    v = np.array([[0.5, -0.5, 1.49, -1.5, 300.0, -300.0]], dtype=np.float32)
    assert gen.s8_codes(v, 1.0).tolist() == [[1, -1, 1, -2, 127, -128]]


def test_code_topk_breaks_ties_by_id():
    codes = np.array([[1], [1], [0]], dtype=np.int16)
    ids, d = gen.code_topk(np.array([9, 4, 7]), codes, np.array([0]), k=3)
    assert ids.tolist() == [7, 4, 9] and d.tolist() == [0.0, 1.0, 1.0]


def test_same_topk_allows_only_tied_swaps():
    want_ids, want_d = np.array([1, 2, 3]), np.array([0.5, 1.0, 1.0])
    assert _same_topk([1, 3, 2], [0.5, 1.0, 1.0], want_ids, want_d) is None
    assert _same_topk([2, 1, 3], [0.5, 1.0, 1.0], want_ids, want_d) is not None
    assert _same_topk([1, 2], [0.5, 1.0], want_ids, want_d) is not None
    assert _same_topk([1, 2, 3], [0.5, 1.0, 1.5], want_ids, want_d) is not None


# ------------------------------------------------------------------ tail rule


@pytest.mark.parametrize("n, pct, rank", [(11, 9, 1), (12, 16, 2), (20, 50, 10), (33, 69, 23), (40, 75, 30),
                                           (100, 90, 90), (1000, 99, 990)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, rank):
    xs = [float(x) for x in range(n, 0, -1)]  # unsorted on purpose
    value, p, beyond = stats.tail(xs)
    assert (p, value, beyond) == (pct, float(rank), n - rank)
    assert beyond >= 10
    # one percentile more would leave fewer than ten samples beyond
    assert n - int(np.ceil((p + 1) * n / 100)) < 10


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None


# ------------------------------------------------------------------ spans


def test_union_length_merges_and_clips():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spans.union_length([(0, 2), (2, 3)]) == 3.0
    assert spans.union_length([(0, 10)], lo=2, hi=5) == 3.0
    assert spans.union_length([(0, 1), (4, 6)], lo=2, hi=5) == 1.0


def test_self_time_subtracts_children_and_jobs():
    S = spans.Span
    tree = [
        S(0, "bench", "search", None, 0, 0.0, 10.0),
        S(1, "sql", "route_sql", 0, 0, 1.0, 5.0),
        S(2, "router", "knn", 1, 0, 2.0, 4.0),
        S(3, "sql", "parse_tvf", 1, 0, 4.0, 4.5),
    ]
    jobs = {0: [(6.0, 9.0)], 2: [(2.5, 3.0), (2.8, 3.5)]}
    got = spans.self_times(tree, jobs)
    assert got == {0: 10 - 4 - 3, 1: 4 - 2.5, 2: 2 - 1, 3: 0.5}
    # the op's self times plus the union of its jobs give its wall-clock
    job_union = spans.union_length([iv for ivs in jobs.values() for iv in ivs])
    assert sum(got.values()) + job_union == pytest.approx(10.0)


# ------------------------------------------------------------------ Spark metric strings


@pytest.mark.parametrize("text, value", [
    ("5,000", 5000.0),
    ("12.0 MiB", 12.0 * 2**20),
    ("219.0 B", 219.0),
    ("1028.0 KiB", 1028.0 * 1024),
    ("9 ms", 0.009),
    ("1.5 s", 1.5),
    ("2.0 m", 120.0),
    ("1.25 h", 4500.0),
    ("total (min, med, max (stageId: taskId))\n1.5 s (504 ms, 506 ms, 514 ms (stage 1.0: task 1))", 1.5),
    ("total (min, med, max (stageId: taskId))\n1348.9 KiB (449.4 KiB, 449.4 KiB, 450.0 KiB (stage 6.0: task 9))",
     1348.9 * 1024),
    (None, 0.0),
])
def test_parse_metric(text, value):
    assert spans.parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        spans.parse_metric("3 parsecs")


def test_node_metrics_fold_by_node_kind():
    sums = {}
    spans._node_metrics("Scan parquet ", [("number of output rows", 5000.0), ("size of files read", 10.0),
                                          ("number of files read", 3.0)], sums)
    spans._node_metrics("Filter", [("number of output rows", 99.0)], sums)
    spans._node_metrics("BroadcastExchange", [("data size", 64.0), ("number of output rows", 4.0)], sums)
    spans._node_metrics("ArrowEvalPython", [("time to start Python workers", 0.5),
                                            ("time to initialize Python workers", 0.25),
                                            ("time to run Python workers", 2.0),
                                            ("data sent to Python workers", 100.0),
                                            ("data returned from Python workers", 10.0)], sums)
    assert sums == {"scan_rows": 5000.0, "scan_bytes": 10.0, "files_read": 3.0, "broadcast_bytes": 64.0,
                    "python_init_s": 0.5, "python_run_s": 2.0, "python_bytes_sent": 100.0,
                    "python_bytes_returned": 10.0}


def test_python_time_must_fit_in_task_time():
    sums = {"python.init_s": 0.01, "python.run_s": 0.6, "spark.task_run_s": 0.62, "bench.calls": 1.0}
    spans.check_python_within_tasks(sums)
    # within the rounding of formatted times
    spans.check_python_within_tasks({**sums, "python.run_s": 0.65})
    with pytest.raises(ValueError, match="exceeds task run time"):
        spans.check_python_within_tasks({**sums, "python.init_s": 3.37})


# ------------------------------------------------------------------ BENCHMARK.json


def _benchmark_json():
    import json

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
                           "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_run():
    from workloads import Run

    r = Run(setup_s=[1.0, 2.0, 3.0], reads=[0.5] * 12, writes=[1.5] * 3, pairs=1000, recall=[1.0, 0.9],
            attempted=15, store_files=2, store_bytes=100, live_rows=10)
    r.ops = [{"kind": "search", "wall_s": 0.5, "results": 10}] * 15
    return r


def test_end_to_end_metrics_match_benchmark_json():
    import run

    metrics, details = run.end_to_end(_fake_run(), rss_peak=2**30)
    declared = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == declared
    assert all(v["value"] > 0 for v in metrics.values())
    assert details["read_tail_percentile"] == 16 and metrics["op_p50_s"]["value"] == 1.5


def test_per_layer_metrics_match_benchmark_json():
    import run

    class NoSpans:
        spans = []

    layers = run.traced_metrics(NoSpans(), spans.SparkRecords([], {}, {}), _fake_run(), 2**20, 0.0)
    declared = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    assert {k: v["unit"] for k, v in layers.items()} == declared
