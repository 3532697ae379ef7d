"""Tests of the benchmark harness itself.

Run from the root of the repository:  python3 -m pytest perfbench -q
"""

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import (JobStats, Span, Tracer, attribute_jobs,  # noqa: E402
                             self_times, subtree, tail_percentile)


# -- tail percentile: the highest with at least 10 samples beyond it ----------
@pytest.mark.parametrize("n,p,value", [(100, 90, 90), (200, 95, 190),
                                       (150, 93, 140), (1000, 99, 990),
                                       (21, 52, 11)])
def test_tail_percentile_known_values(n, p, value):
    samples = list(range(n, 0, -1))  # unsorted on purpose
    assert tail_percentile(samples) == (p, value)


@pytest.mark.parametrize("n", [0, 1, 10, 11, 20])
def test_tail_percentile_needs_a_tail_above_the_median(n):
    assert tail_percentile(list(range(n))) is None


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(21, 600):
        p, v = tail_percentile(list(range(1, n + 1)))
        assert n - v >= 10  # samples strictly beyond the value
        # one percentile higher would leave fewer than 10 beyond
        nxt = -(-(p + 1) * n // 100)
        assert n - nxt < 10


# -- span self time -----------------------------------------------------------
def _span(sid, parent, start, end, name="s"):
    return Span(sid, name, "r", parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 3.0),
             _span(2, 0, 2.0, 5.0),    # overlaps span 1
             _span(3, 0, 8.0, 12.0),   # runs past the parent's end
             _span(4, 1, 1.5, 2.5)]    # grandchild: counts against span 1 only
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert sorted(subtree(spans, 1)) == [1, 4]


def test_self_time_of_a_leaf_is_its_duration():
    assert self_times([_span(0, None, 5.0, 7.5)]) == {0: pytest.approx(2.5)}


def test_tracer_disabled_records_nothing():
    tr = Tracer(False)
    with tr.span("a") as attrs:
        attrs["x"] = 1
    assert tr.spans == []


def test_tracer_nests_spans():
    tr = Tracer(True)
    with tr.span("outer", "q0"):
        with tr.span("inner", "q0") as attrs:
            attrs["local_path"] = 1
    outer, inner = tr.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.attrs == {"local_path": 1}
    assert outer.start <= inner.start <= inner.end <= outer.end


# -- span -> job attribution ---------------------------------------------------
def test_two_job_span_gets_both_jobs():
    spans = [_span(0, None, 100.0, 110.0, "query"),
             _span(1, 0, 102.0, 104.0, "searcher.search"),
             _span(2, None, 110.5, 111.0, "query")]
    jobs = [JobStats(7, 101.0), JobStats(8, 105.5),   # span 0's own two jobs
            JobStats(9, 103.0),                       # inner span
            JobStats(10, 99.9995),                    # ms rounding at start
            JobStats(11, 120.0)]                      # outside every span
    got = {sid: sorted(j.job_id for j in js)
           for sid, js in attribute_jobs(spans, jobs).items()}
    assert got == {0: [7, 8, 10], 1: [9]}


def test_live_two_job_span():
    """Two Spark jobs inside one span are read back from the status store
    and attributed to that span, and to no other."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from perfbench.sparkstats import read_jobs
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    try:
        sc = spark.sparkContext
        sc.parallelize(range(5), 1).count()  # a job before the span
        tr = Tracer(True)
        with tr.span("two_jobs", "r0"):  # two RDD actions: one job each
            sc.parallelize(range(10), 2).count()
            sc.parallelize(range(20), 3).count()
        sc.parallelize(range(5), 1).count()  # a job after the span
        jobs = read_jobs(spark)
        by_span = attribute_jobs(tr.spans, jobs)
        assert len(jobs) == 4
        assert sorted(j.tasks for j in by_span[0]) == [2, 3]
    finally:
        spark.stop()


# -- seeded inputs ---------------------------------------------------------------
@pytest.mark.parametrize("workload", ["search", "update_mix"])
def test_same_seed_gives_identical_inputs(workload, tmp_path):
    from perfbench import inputs as I
    fps, raw = [], []
    for i in range(2):
        inp = I.make_inputs(workload, 11)
        path = str(tmp_path / f"c{i}.parquet")
        I.write_corpus(inp, path)
        fps.append(I.fingerprint(inp, path))
        with open(path, "rb") as f:
            raw.append(f.read())
    assert raw[0] == raw[1]
    assert fps[0] == fps[1]
    other = I.make_inputs(workload, 12)
    path = str(tmp_path / "other.parquet")
    I.write_corpus(other, path)
    assert I.fingerprint(other, path) != fps[0]


def test_code_blocks_pass_the_fast_path_budget():
    from perfbench import inputs as I
    inp = I.make_inputs("search", 5)
    df = I._doc_freq(inp.corpus)
    blocks = [q.query for q in inp.broad if q.cls == "code_block"]
    assert blocks
    for text in blocks:
        terms = text.split()
        assert len(set(terms)) == len(terms)
        assert sum(df.get(t, 0) for t in terms) >= I.CODE_BLOCK_ROWS


# -- correct / attempted / failed -------------------------------------------------
def _bench_with_query_result(monkeypatch, fake_query):
    from perfbench.workloads import Bench
    bench = Bench(None, "update_mix", 1, 1.0, "unused", Tracer(False))
    monkeypatch.setattr(bench, "_query", fake_query)
    return bench


def test_expect_count_mismatch_is_a_wrong_result(monkeypatch):
    from perfbench.inputs import QuerySpec
    from perfbench.run import outcome

    def one_hit(searcher, spec, request, op):
        op.result = [(3, 1.5)]
    bench = _bench_with_query_result(monkeypatch, one_hit)
    bench._read("round0", QuerySpec("fresh", None, 40), object(), expect=1)
    assert outcome(bench.ops) == (True, 1, 0)
    bench._read("round0", QuerySpec("fresh", None, 40), object(), expect=40)
    assert bench.ops[-1].wrong
    assert bench.ops[-1].error == "wrong result: 1 hits, expected 40"
    assert outcome(bench.ops) == (False, 2, 1)


def test_exception_is_a_failure_but_not_a_wrong_result(monkeypatch):
    from perfbench.inputs import QuerySpec
    from perfbench.run import outcome

    def raises(searcher, spec, request, op):
        raise OSError("PATH_NOT_FOUND seg=00003/postings\nstack")
    bench = _bench_with_query_result(monkeypatch, raises)
    bench._read("round0", QuerySpec("kept", None, 40), object(), expect=20)
    assert bench.ops[-1].error == "OSError: PATH_NOT_FOUND seg=00003/postings"
    assert outcome(bench.ops) == (True, 1, 1)


# -- search loop: whole rounds ------------------------------------------------------
def _search_bench(monkeypatch, seconds):
    from perfbench import inputs as I
    from perfbench.workloads import Bench
    bench = Bench(None, "search", 5, seconds, "unused", Tracer(False))
    bench.inputs = I.make_inputs("search", 5, cycles=3)

    def instant(searcher, spec, request, op):
        op.result, op.latency_ms = [], 1.0
    monkeypatch.setattr(bench, "_query", instant)
    return bench


def test_search_loop_runs_whole_rounds_of_one_mix(monkeypatch):
    from perfbench.inputs import NARROW_CLASSES
    bench = _search_bench(monkeypatch, 0.0)
    bench._search_loop(0.0)  # past the deadline: only the first round runs
    classes = [op.spec.cls for op in bench.ops]
    assert len(classes) == 3 * len(NARROW_CLASSES) + 1
    assert classes[-1] == "prefix_wildcard"
    assert sorted(classes[:-1]) == sorted(NARROW_CLASSES * 3)


def test_and_queries_take_the_lang_values_in_turn():
    from perfbench import inputs as I
    inp = I.make_inputs("search", 5, cycles=4)
    langs = [q.query.must[1].value for c in inp.cycles for q in c
             if q.cls == "and"]
    assert langs == I.LANGS * 2
