"""Tests for the benchmark's measurement helpers: python3 -m pytest kgbench"""

from __future__ import annotations

import threading

from harness import (
    MIN_TAIL_SAMPLES,
    Outcomes,
    Span,
    Tracer,
    host_steal_s,
    self_times,
    tail_percentile,
)


def test_p90_needs_ten_samples_beyond_it():
    # 99 samples: p90 is the 90th value and only 9 lie beyond it
    assert tail_percentile([float(i) for i in range(1, 100)], 0.90) is None
    # 100 samples: p90 is the 90th value and 10 lie beyond it
    assert tail_percentile([float(i) for i in range(1, 101)], 0.90) == 90.0
    assert MIN_TAIL_SAMPLES == 10


def test_ties_at_the_percentile_do_not_count_as_beyond():
    values = [1.0] * 95 + [2.0] * 5
    assert tail_percentile(values, 0.90) is None


def test_self_time_subtracts_overlapping_children_once():
    # a timed phase with one query from each of two client threads; the
    # queries overlap in [3, 5]
    spans = [
        Span(0, "timed", None, 1, 0.0, 10.0),
        Span(1, "query", 0, 2, 1.0, 5.0),
        Span(2, "query", 0, 3, 3.0, 8.0),
        Span(3, "exec", 1, 2, 2.0, 4.0),
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 7.0  # union [1, 8], not 4 + 5
    assert st[1] == 4.0 - 2.0
    assert st[2] == 5.0
    assert st[3] == 2.0


def test_children_outside_the_parent_interval_are_clipped():
    spans = [Span(0, "p", None, 1, 0.0, 4.0), Span(1, "c", 0, 1, 3.0, 6.0)]
    assert self_times(spans)[0] == 3.0


def test_tracer_links_spans_of_two_client_threads_to_one_parent():
    tr = Tracer(True)
    barrier = threading.Barrier(2, timeout=10)

    def client(parent):
        with tr.span("query", parent=parent):
            barrier.wait()
            with tr.span("exec"):
                barrier.wait()

    with tr.span("timed") as timed:
        threads = [threading.Thread(target=client, args=(timed,)) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
            assert not t.is_alive()
    by_name: dict[str, list[Span]] = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    queries = by_name["query"]
    assert [q.parent for q in queries] == [timed, timed]
    assert len({q.thread for q in queries}) == 2
    assert sorted(e.parent for e in by_name["exec"]) == sorted(q.id for q in queries)
    # the two queries overlapped (both waited at the barrier), so the
    # parent's self time is its duration minus their union, not their sum
    parent = by_name["timed"][0]
    st = self_times(tr.spans)
    union = max(q.end for q in queries) - min(q.start for q in queries)
    assert abs(st[parent.id] - ((parent.end - parent.start) - union)) < 1e-9
    assert set(tr.layer_seconds()) == {"timed", "query", "exec"}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as sid:
        assert sid is None
    assert tr.spans == [] and tr.overhead_s == 0.0


def test_error_rate_counts_raised_and_wrong_answers():
    oc = Outcomes()

    def boom():
        raise RuntimeError("lost executor")

    assert oc.run("ok", lambda: 42) == 42
    assert oc.run("raises", boom) is None
    assert oc.check("wrong answer", [1, 2] == [1, 3]) is False
    assert oc.check("right answer", True) is True
    assert (oc.attempted, oc.failed) == (4, 2)
    assert oc.error_rate == 0.5
    assert oc.errors[0].startswith("raises: RuntimeError")
    assert oc.errors[1] == "wrong answer"
    assert Outcomes().error_rate == 0.0


def test_counts_and_spans_survive_many_client_threads():
    import sys

    tr, oc = Tracer(True), Outcomes()
    n_threads, per_thread = 16, 300

    def client(parent):
        for i in range(per_thread):
            with tr.span("query", parent=parent):
                oc.check("odd", i % 2 == 0)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with tr.span("timed") as timed:
            threads = [
                threading.Thread(target=client, args=(timed,))
                for _ in range(n_threads)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
                assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    total = n_threads * per_thread
    assert (oc.attempted, oc.failed) == (total, total // 2)
    assert len(tr.spans) == total + 1
    assert [s.id for s in tr.spans] == list(range(total + 1))
    assert all(s.parent == timed for s in tr.spans[1:])


def test_metric_names_match_benchmark_json():
    import json
    import os

    import workloads

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_host_steal_is_a_nondecreasing_count_of_seconds():
    first = host_steal_s()
    assert 0.0 <= first <= host_steal_s()
