"""Tests for the benchmark's own arithmetic.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import pytest

import stats
from feedproc import Counters


@pytest.mark.parametrize("n, label", [
    (10_000, "p99.9"), (9_999, "p99"), (1_000, "p99"), (999, "p95"),
    (200, "p95"), (199, "p90"), (100, "p90"), (99, "p75"), (40, "p75"), (39, "p50"),
    (20, "p50"),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, label):
    values = list(range(1, n + 1))
    got, value = stats.tail(values)
    assert got == label
    p = float(label[1:])
    beyond = sum(v > value for v in values)
    assert beyond >= stats.MIN_BEYOND
    assert value == stats.nearest_rank(values, p)


def test_tail_of_few_samples_is_the_median():
    assert stats.tail([5.0, 1.0, 3.0]) == ("p50", 3.0)
    with pytest.raises(ValueError):
        stats.tail([])


def test_lag_goes_to_first_batch_reaching_the_event():
    events = [(1, 0.0), (2, 0.1), (3, 0.2), (4, 0.3)]
    batches = [(2, 1.0), (4, 2.0)]
    lags, missing = stats.attribute_lag(events, batches)
    assert lags == pytest.approx([1.0, 0.9, 1.8, 1.7])
    assert missing == 0


def test_lag_attribution_survives_a_compacted_end_event():
    # event 4 was compacted out of the log after the batch that ended on
    # it committed: position 4 still covers events 1-3, and 5-6 go later
    events = [(1, 0.0), (2, 0.0), (3, 0.0), (5, 0.0), (6, 0.0)]
    batches = [(4, 1.0), (6, 2.0)]
    lags, missing = stats.attribute_lag(events, batches)
    assert lags == [1.0, 1.0, 1.0, 2.0, 2.0]
    assert missing == 0


def test_lag_ignores_batch_order_and_non_advancing_batches():
    events = [(1, 0.0), (2, 0.0), (3, 0.0)]
    # reported out of commit order; the replayed batch ending at 1 lands nothing
    batches = [(3, 3.0), (1, 1.0), (1, 2.0)]
    lags, missing = stats.attribute_lag(events, batches)
    assert lags == [1.0, 3.0, 3.0]
    assert missing == 0


def test_unlanded_events_are_counted_missing():
    lags, missing = stats.attribute_lag([(1, 0.0), (7, 0.0), (8, 0.0)], [(5, 1.0)])
    assert lags == [1.0]
    assert missing == 2


def test_union_length_merges_and_clips():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10)], 2, 5) == 3
    assert stats.union_length([(0, 1)], 2, 5) == 0


SPANS = [
    {"id": 0, "name": "call", "parent": None, "start": 0.0, "end": 10.0},
    {"id": 1, "name": "land", "parent": 0, "start": 2.0, "end": 5.0},
    {"id": 2, "name": "fold", "parent": 0, "start": 4.0, "end": 8.0},
    {"id": 3, "name": "inner", "parent": 2, "start": 6.0, "end": 7.0},
]


def test_self_time_subtracts_covered_child_time_once():
    selfs = stats.self_times(SPANS)
    assert selfs[0] == 10.0 - 6.0  # children cover [2, 8]; the overlap counts once
    assert selfs[1] == 3.0
    assert selfs[2] == 3.0
    assert selfs[3] == 1.0


def test_jobs_go_to_the_innermost_covering_span():
    jobs = [(6.2, 6.8), (4.5, 4.9), (2.5, 7.5), (1.0, 9.0), (11.0, 12.0)]
    got = stats.attribute_jobs(SPANS, jobs)
    assert got == {3: [0], 1: [1], 0: [2, 3], None: [4]}
    assert stats.subtree(SPANS, 0) == {0, 1, 2, 3}
    assert stats.subtree(SPANS, 2) == {2, 3}


def test_tally_counts_each_failure_once_against_attempts():
    t = stats.Tally()
    t.add("events landed", 100, 3)
    assert t.check("read model", True)
    assert not t.check("read model", False)
    assert (t.attempted, t.failed) == (102, 4)
    assert t.reasons == {"events landed": 3, "read model": 1}
    assert t.failed_frac == pytest.approx(4 / 102)
    with pytest.raises(ValueError):
        t.add("bad", 1, 2)


def test_server_counts_failed_gets_and_follows_each_consumer():
    c = Counters()
    c.record(None, "a", 100, 10, 200, 0.0, 0.1)   # consumer 1, first page
    c.record(None, "a", 100, 10, 200, 0.2, 0.3)   # consumer 2, first page
    c.record("a", "b", 100, 10, 200, 1.3, 1.4)    # one of them, 1.0 s later
    c.record("b", "b", 0, 2, 200, 1.5, 1.6)       # its empty end-of-feed GET
    c.record("a", None, 0, 0, 503, 2.0, 2.1)      # refused
    s = c.snapshot()
    assert (s["gets"], s["empty_gets"], s["failed_gets"]) == (5, 1, 1)
    assert s["events_served"] == 300
    assert s["gaps"] == pytest.approx([1.0, 0.1])


def test_benchmark_json_names_what_the_run_reports():
    import json
    import os

    import run

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"] for m in bench["end_to_end"] if m["better"] == "higher"} == run.HIGHER_BETTER
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()


def test_sources_key_follows_the_sources_not_the_work_directory(tmp_path, monkeypatch):
    import base

    for rel in ("bench.py", "http_feeds_spark/ingest.py", "perfbench/run.py", "perfbench/.work/x.py"):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text("a")
    monkeypatch.setattr(base, "ROOT", str(tmp_path))
    key = base.sources_key()
    (tmp_path / "perfbench/.work/x.py").write_text("b")
    assert base.sources_key() == key
    (tmp_path / "http_feeds_spark/ingest.py").write_text("b")
    assert base.sources_key() != key
