"""Tests for the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from warehouse import request_mix  # noqa: E402


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


@pytest.mark.parametrize("make", [
    lambda seed, d: gen.write_star(d, seed),
    lambda seed, d: gen.CompanyFacts(seed, 5).write(d),
])
def test_generator_same_seed_same_bytes(tmp_path, make):
    digests = {}
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        make(seed, str(tmp_path / tag))
        digests[tag] = _digest(str(tmp_path / tag))
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_companyfacts_generations_touch_a_tenth_and_add_keys():
    cf = gen.CompanyFacts(1, 40)
    before = set(cf.keys)
    touched = cf.advance()
    assert len(touched) == 4
    new = cf.keys - before
    assert {k[0] for k in new} == {f"{c:010d}" for c in touched}


def test_events_batches_are_seeded_and_disjoint():
    a, b = gen.events_batch(5, 1, 100), gen.events_batch(5, 2, 100)
    assert a.equals(gen.events_batch(5, 1, 100))
    assert not set(a.column("event_id").to_pylist()) & set(b.column("event_id").to_pylist())


@pytest.mark.parametrize("n,expected", [
    (5, 50.0), (19, 50.0), (20, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_supported_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.supported_percentile(n) == expected


def test_tail_uses_nearest_rank():
    vals = list(range(1, 201))  # 200 samples -> p95 -> the 190th value
    assert stats.tail(vals) == (95.0, 190)
    assert stats.percentile([3, 1, 2], 50) == 2


def test_class_p50_weights_each_class_median_by_its_share():
    samples = {"fast": [10, 11, 12], "slow": [100, 200, 300], "none": []}
    assert stats.class_p50(samples, {"fast": 0.5, "slow": 0.5, "none": 9}) == 105.5
    # drifting sample counts do not move it between the modes
    samples["fast"] += [11] * 10
    assert stats.class_p50(samples, {"fast": 0.5, "slow": 0.5}) == 105.5


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_covered_child_time_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0),  # overlap: 1..4
            _span(3, 6.0, 7.0, 0), _span(4, 9.0, 12.0, 0)]  # clipped: 9..10
    assert tracing.self_time(parent, kids) == pytest.approx(10 - 3 - 1 - 1)
    assert tracing.self_time(parent, []) == 10.0


def test_tracer_patch_records_nested_spans_and_restores():
    tr = tracing.Tracer()

    class Mod:
        @staticmethod
        def inner():
            return 7

        @staticmethod
        def outer():
            return Mod.inner() + 1

    orig = Mod.inner
    with tr.patch([(Mod, "inner", "inner"), (Mod, "outer", "outer")]):
        assert Mod.outer() == 8
    assert Mod.inner is orig
    outer = next(s for s in tr.spans if s["name"] == "outer")
    inner = next(s for s in tr.spans if s["name"] == "inner")
    assert inner["parent"] == outer["id"] and inner["ret"] == 7
    assert outer["parent"] is None and tr.children(outer["id"]) == [inner]


def test_open_loop_latency_counts_from_due_time():
    # due at 1.0, sent late at 1.5 because earlier requests stalled
    lat = stats.open_loop_latency(due=1.0, start=1.5, end=1.7)
    assert lat["latency"] == pytest.approx(0.7)
    assert lat["queue_wait"] == pytest.approx(0.5)
    assert lat["service"] == pytest.approx(0.2)
    assert stats.open_loop_latency(2.0, 1.9, 2.1)["queue_wait"] == 0.0


def test_fail_frac_counts_errors_and_wrong_answers():
    t = stats.Tally()
    assert t.fail_frac == 0.0
    t.record(True)
    t.record(False, "raised")
    t.record(False, "wrong rows")
    t.record(True)
    assert (t.attempted, t.failed, t.fail_frac) == (4, 2, 0.5)
    assert t.errors == ["raised", "wrong rows"]


def test_request_mix_has_exact_shares():
    tickers = [f"T{i}" for i in range(100)]
    reqs = request_mix(9, tickers, 1000)
    kinds = [k for k, _, _ in reqs]
    assert kinds.count("company") == 400 and kinds.count("screener") == 200
    assert sum("NOPE" in p for _, p, _ in reqs) == 50
    assert sum("limit=0" in q or "limit=abc" in q for _, _, q in reqs) == 20
    assert reqs == request_mix(9, tickers, 1000)


def test_fold_event_log_totals_per_job_group(tmp_path):
    import json

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q1.floor.a.run"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": 250}]},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8,
                          "JVM GC Time": 10, "Memory Bytes Spilled": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Shuffle Read Metrics": {"Local Bytes Read": 32}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    folded = tracing.fold_event_log(str(tmp_path))
    g = tracing.sum_groups(folded, "q1.")
    assert g["jobs"] == 1 and g["job_s"] == pytest.approx(0.5)
    assert g["task_cpu_s"] == pytest.approx(0.3) and g["gc_s"] == pytest.approx(0.01)
    assert (g["tasks"], g["stages"]) == (1, 1)
    assert (g["shuffle_write_bytes"], g["shuffle_read_bytes"], g["spill_bytes"]) == (64, 32, 5)
    assert g["python_worker_s"] == pytest.approx(0.25)
    assert folded[""]["jobs"] == 1
