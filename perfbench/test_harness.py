"""Tests of the benchmark's pure helpers (no Spark session):

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import refs  # noqa: E402


# -- rates and percentiles ------------------------------------------------------


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert harness.percentile(xs, 0) == 1.0
    assert harness.percentile(xs, 100) == 5.0
    assert harness.percentile(xs, 50) == 3.0
    assert harness.percentile(xs, 25) == 2.0
    assert harness.percentile([1.0, 2.0], 50) == 1.5
    assert harness.percentile([1.0, 2.0, 4.0, 8.0], 90) == pytest.approx(6.8)


def test_median_agrees_with_statistics():
    for xs in ([3.0], [1.0, 9.0], [2.0, 7.0, 1.0, 8.0, 5.0, 3.0]):
        assert harness.median(xs) == statistics.median(xs)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        harness.percentile([], 50)
    with pytest.raises(ValueError):
        harness.percentile([1.0], 101)


def test_rate_and_its_window():
    assert harness.rate(300, 1.5) == 200.0
    with pytest.raises(ValueError):
        harness.rate(10, 0.0)


def test_geomean_and_kind_medians():
    assert harness.geomean([1.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        harness.geomean([1.0, 0.0])
    meds = harness.kind_medians({"a": [3.0, 1.0, 2.0], "b": [4.0], "c": []})
    assert meds == {"a": 2.0, "b": 4.0}


def test_result_line_shape():
    line = harness.result_line(True, 9, 2, {"setup_s": (1.25, "s")})
    doc = json.loads(line)
    assert doc == {
        "correct": True,
        "attempted": 9,
        "failed": 2,
        "metrics": {"setup_s": {"value": 1.25, "unit": "s"}},
    }
    with pytest.raises(ValueError):
        harness.result_line(True, 0, 0, {})


# -- spans -------------------------------------------------------------------------


def _span(i, parent, start, end, collect=None):
    s = harness.Span(i, f"s{i}", parent, start, end)
    s.collect_start = collect
    return s


def test_self_time_subtracts_union_of_children():
    root = _span(1, None, 0.0, 10.0)
    spans = [
        root,
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 4.0),  # overlaps span 2: counted once
        _span(4, 1, 9.0, 12.0),  # runs past the parent: clipped
        _span(5, 2, 1.5, 2.5),  # a grandchild: already inside span 2
    ]
    assert harness.self_time(root, spans) == pytest.approx(10.0 - 3.0 - 1.0)
    assert harness.self_time(spans[1], spans) == pytest.approx(1.0)
    assert harness.self_time(spans[4], spans) == pytest.approx(1.0)


def test_build_and_collect_split():
    s = _span(1, None, 1.0, 4.0, collect=3.5)
    assert s.build_s == pytest.approx(2.5)
    assert s.collect_s == pytest.approx(0.5)
    assert _span(2, None, 1.0, 2.0).collect_s == 0.0


def test_tracer_nests_and_sets_job_groups():
    seen = []
    t = harness.Tracer(group=seen.append)
    outer = t.open("round")
    inner = t.open("call")
    t.mark_collect(inner)
    t.close(inner)
    t.close(outer)
    assert inner.parent == outer.span_id and outer.parent is None
    assert seen == ["pb-1", "pb-2", "pb-1", None]
    assert outer.start <= inner.start <= inner.collect_start <= inner.end <= outer.end
    with pytest.raises(IndexError):
        t.close(outer)


# -- event-log replay ------------------------------------------------------------


def test_aggregate_small_recorded_log():
    events = harness.read_event_log(HERE / "testdata" / "eventlog_small.json")
    rows = harness.aggregate_by_group(events)
    # recorded from a local[4] session: group pb-1 wrote 2 partitions
    # (one job, no shuffle); pb-2 repartitioned them (adaptive execution
    # runs the shuffle map stage as its own job); two jobs ran ungrouped
    assert set(rows) == {"pb-1", "pb-2", ""}
    assert (rows["pb-1"]["jobs"], rows["pb-2"]["jobs"], rows[""]["jobs"]) == (1, 2, 2)
    assert rows["pb-1"]["tasks"] == 2
    assert rows["pb-2"]["tasks"] == 4
    assert rows["pb-2"]["shuffle_write_bytes"] > 0
    assert rows["pb-2"]["shuffle_read_bytes"] == rows["pb-2"]["shuffle_write_bytes"]
    assert rows["pb-1"]["shuffle_write_bytes"] == 0
    for r in rows.values():
        assert r["exec_cpu_ms"] >= 0 and r["exec_run_ms"] >= 0
    total = harness.sum_rows(rows.values())
    assert total["tasks"] == sum(r["tasks"] for r in rows.values())


def test_read_event_log_skips_a_torn_tail(tmp_path):
    p = tmp_path / "log"
    p.write_text('{"Event": "SparkListenerLogStart"}\n{"Event": "SparkListenerJob')
    assert harness.read_event_log(p) == [{"Event": "SparkListenerLogStart"}]


# -- references ------------------------------------------------------------------


def test_xxh64_reference_vectors():
    # published XXH64 test vectors (seed 0)
    assert refs.xxh64(b"", seed=0) == 0xEF46DB3751D8E999
    assert refs.xxh64(b"a", seed=0) == 0xD24EC4F1A98C6E5B
    assert refs.xxh64(b"abc", seed=0) == 0x44BC2CF5AD770999


def test_hash31_matches_spark():
    # values of pmod(xxhash64(s), 2147483647) recorded from Spark 4.1
    for s, want in SPARK_HASH31.items():
        assert refs.hash31(s) == want


SPARK_HASH31 = {
    "": 987404120,
    "a": 1069657469,
    "w1 w2 w3": 1158757748,
    "w1999 w0 w17": 277617791,
    "the quick brown fox jumps over the lazy dog again": 802413285,
}


def test_shingles_short_and_long():
    assert refs.shingles("A b", 3) == {"a b"}
    assert refs.shingles("x y z x y z", 3) == {"x y z", "y z x", "z x y"}


def test_jaccard_references():
    sets = {1: {"a", "b", "c"}, 2: {"a", "b", "d"}, 3: {"x"}}
    assert refs.exact_jaccard_pairs(sets, 1, 2) == {(1, 2): (2, 4)}
    assert refs.exact_jaccard_pairs(sets, 2, 3) == {}
    # a token in more than max_df documents is dropped from every set
    assert refs.hashed_jaccard_pairs({1: {1, 2}, 2: {1, 3}, 3: {1}}, 0.3, 2) == {}
    assert refs.hashed_jaccard_pairs({1: {1, 2}, 2: {1, 3}}, 0.3, 2) == {(1, 2): 1 / 3}


def test_components_and_reachability_on_a_cycle():
    assert refs.components([(5, 3), (3, 9), (7, 8)]) == {3: 3, 5: 3, 9: 3, 7: 7, 8: 7}
    edges = [("b", "a"), ("c", "b"), ("x", "y"), ("y", "z"), ("z", "x")]
    closure = refs.reachability(edges)
    assert ("c", "a") in closure and ("b", "a") in closure
    assert not any(d == a for d, a in closure)
    assert {a for d, a in closure if d == "x"} == {"y", "z"}
    assert refs.descendants(closure, "a") == {"a", "b", "c"}


def test_cosine_topk_breaks_ties_by_id():
    import numpy as np

    mat = np.array([[1.0, 0.0], [1.0, 0.0], [0.5, 0.5], [1.0, 0.0], [0.0, 1.0]])
    assert refs.cosine_topk(mat, [0], 3) == {0: [1, 3, 2]}
    assert refs.recall_at_k({0: [1, 2, 4]}, {0: [1, 3, 2]}) == pytest.approx(2 / 3)
