"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import catalog  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _tree(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


def _generate(d: str, seed: int) -> None:
    gen.points(d, seed, 2_000, n_outliers=20)
    gen.corpus(d, seed, 200)
    gen.stream(d, seed, 5_000, 4)
    gen.tables(d, seed, sf=0.001)


# --- generators -----------------------------------------------------------------

def test_generators_are_byte_identical_per_seed(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        d.mkdir()
        _generate(str(d), seed)
    files = _tree(str(a))
    assert files == _tree(str(b)) and len(files) > 10
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert "points.csv" in differ and "corpus.parquet" in differ


def test_generators_plant_their_ground_truth(tmp_path):
    d = str(tmp_path)
    p = gen.points(d, 3, 5_000, n_outliers=100)
    mask = np.load(os.path.join(d, "points_outlier_mask.npy"))
    assert p["rows"] == 5_000 and mask.sum() == 100
    s = gen.stream(d, 3, 10_000, 5)
    items = np.load(os.path.join(d, "stream_items.npy"))
    counts = {h: int((items == h).sum()) for h in s["planted"]}
    assert len(counts) == 10 and min(counts.values()) >= 0.07 * len(items)
    c = gen.corpus(d, 3, 400)
    assert 0.1 <= c["dup_docs"] / c["rows"] <= 0.2


# --- correctness checks fail on wrong answers -----------------------------------

def test_exact_outlier_oracle_matches_brute_force():
    rng = np.random.default_rng(0)
    xy = np.concatenate([rng.normal(0, 1, (400, 2)), rng.uniform(-8, 8, (40, 2))])
    d, m = 0.6, 3
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    brute = int(((d2 < d * d).sum(axis=1) <= m).sum())
    assert checks.exact_outlier_count(xy, d, m) == brute


def test_hw_checks_reject_wrong_reports():
    good1 = ["Number of points: 10", "Number of Outliers = 4",
             "Number of sure outliers = 3", "Number of uncertain points = 2"]
    assert checks.check_hw1(good1, 10, 4) == []
    assert checks.check_hw1(good1, 10, 5)                    # oracle mismatch
    assert checks.check_hw1(good1, 11, 4)                    # lost points
    bad = good1[:2] + ["Number of sure outliers = 5", "Number of uncertain points = 0"]
    assert checks.check_hw1(bad, 10, 4)                      # sure > exact
    assert checks.check_hw1(good1[:1], 10, 4)                # missing lines
    good2 = ["Number of points: 10", "Number of sure outliers = 100",
             "Number of uncertain points = 0"]
    assert checks.check_hw2(good2, 10, 100) == []
    assert checks.check_hw2(good2, 10, 99)
    assert checks.check_hw2(good2[:2] + ["Number of uncertain points = 1"], 10, 100)


def test_corpus_check_rejects_wrong_survivors_and_chunk_counts():
    ids = [0, 1, 2, 3]
    texts = ["a " * 70, "a " * 70, "b " * 10, "c " * 200]
    clusters = [[0, 1]]
    per = {i: checks.n_chunks(len(t.split()), 64, 48) for i, t in zip(ids, texts)}
    out = [i for i in (0, 2, 3) for _ in range(per[i])]
    assert checks.check_corpus(out, ids, texts, clusters, 64, 48) == []
    both = out + [1] * per[1]
    assert checks.check_corpus(both, ids, texts, clusters, 64, 48)   # two survivors
    none = [i for i in out if i != 0]
    assert checks.check_corpus(none, ids, texts, clusters, 64, 48)   # no survivor
    lost = [i for i in out if i != 2]
    assert checks.check_corpus(lost, ids, texts, clusters, 64, 48)   # unplanted dropped
    assert checks.check_corpus(out + [3], ids, texts, clusters, 64, 48)  # extra chunk
    assert checks.n_chunks(0, 64, 48) == 0
    assert checks.n_chunks(64, 64, 48) == 1 and checks.n_chunks(65, 64, 48) == 2


def test_stream_check_rejects_wrong_histogram_and_samples():
    items = [1] * 50 + [2] * 30 + list(range(100, 120))
    hist = {}
    for it in items:
        hist[it] = hist.get(it, 0) + 1
    table = {1: 45, 2: 30, 105: 1}  # item 1 admitted after 5 occurrences
    ok = (hist, items, [1, 2], 0.25)
    assert checks.check_stream(*ok, table, [1, 2], 20) == []
    assert checks.check_stream(*ok, table, [], 46) == []              # admitted late: allowed
    assert checks.check_stream({**hist, 1: 49}, items, [1, 2], 0.25, table, [1, 2], 20)
    assert checks.check_stream(hist, items, [1], 0.25, table, [1, 2], 20)  # extra frequent
    assert checks.check_stream(*ok, {1: 45, 105: 1}, [1], 20)         # 2 never admitted
    assert checks.check_stream(*ok, {**table, 2: 31}, [1, 2], 20)     # overcount
    assert checks.check_stream(*ok, table, [1], 20)                    # report != table


def test_query_check_rejects_wrong_values_rows_and_columns():
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    got = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
    assert checks.check_query("q", got, want) == []
    assert checks.check_query("q", got.assign(v=[1.5, 0.6]), want)
    assert checks.check_query("q", got.iloc[:1], want)
    assert checks.check_query("q", got.rename(columns={"v": "w"}), want)


# --- metric names and statistics ------------------------------------------------

def test_printed_metric_names_match_benchmark_json():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == catalog.END_TO_END
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layer == catalog.per_layer_units()
    assert len(layer) <= 128
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    import workloads
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    printed = catalog.per_layer_metrics({}, [], {}, {}, 1.0, 0.1)
    assert list(printed) == list(catalog.per_layer_units())


def test_tail_reports_percentile_and_sample_count():
    t = stats.tail([float(i) for i in range(100)])
    assert t == {"value": 89.0, "percentile": 90, "samples": 100, "beyond": 10}
    t = stats.tail([float(i) for i in range(1000)])
    assert t["percentile"] == 99 and t["beyond"] == 10 and t["samples"] == 1000
    t = stats.tail([3.0, 1.0, 2.0])
    assert t == {"value": 3.0, "percentile": 100, "samples": 3, "beyond": 0}
    with pytest.raises(ValueError):
        stats.tail([])


def test_steps_stay_open_until_the_next_layer_call():
    import types

    mod = types.SimpleNamespace()
    mod.build = lambda x: x + 1
    mod.outer = lambda x: mod.build(x) * 2  # calls a wrapped function
    tr = spans.Tracer()
    assert mod.build(1) == 2
    with tr.wrap([(mod, "build", "layer.a", "build"),
                  (mod, "outer", "layer.b", "outer")]):
        assert mod.build(1) == 2            # outside any span: not traced
        with tr.span("apps", "run"):
            assert mod.build(1) == 2
            after_build = tr.current()
            assert mod.outer(1) == 4
            after_outer = tr.current()
        assert tr.current() is None
    assert mod.build.__name__ == "<lambda>" and not hasattr(mod.build, "__wrapped__")
    run, build, outer, inner = tr.spans
    assert (run["parent"], build["parent"], outer["parent"]) == (None, 0, 0)
    assert inner["parent"] == outer["id"] and inner["name"] == "build"
    # a step stays open after its call returns, until the next step
    assert after_build == build["id"] and after_outer == outer["id"]
    assert build["t1"] <= outer["t0"] and outer["t1"] <= run["t1"]
    assert tr.last["layer.b:outer"] == 4
    import workloads
    # the nested step of another layer is counted; a same-layer one is not
    sums = workloads._span_sums(tr, key="calls")
    assert sums == {"apps:run": 1, "layer.a:build": 2, "layer.b:outer": 1}


def test_end_to_end_metrics_come_from_the_record():
    rec = {"setup_cpu_s": 50.0, "setup_wall_s": 30.0, "job_s": 8.0, "job_cpu_s": 20.0,
           "driver_peak_mb": 160.0, "op_p50_s": 1.0}
    assert set(catalog.end_to_end(rec)) == set(catalog.END_TO_END)


def test_self_time_subtracts_child_coverage():
    sp = [{"id": 0, "parent": None, "t0": 0.0, "t1": 10.0},
          {"id": 1, "parent": 0, "t0": 1.0, "t1": 4.0},
          {"id": 2, "parent": 0, "t0": 3.0, "t1": 5.0},   # overlaps span 1
          {"id": 3, "parent": 1, "t0": 2.0, "t1": 3.0}]
    st = spans.self_times(sp)
    assert st == {0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0}


def test_event_log_counters_attribute_jobs_to_spans(tmp_path):
    sp = [{"id": 0, "layer": "a", "group": "g0", "wall0": 100.0, "wall1": 200.0},
          {"id": 1, "layer": "b", "group": "g1", "wall0": 150.0, "wall1": 160.0}]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 120_000, "Properties": {"spark.jobGroup.id": "g0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Submission Time": 155_000, "Properties": {}},          # no group: by time
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2e9, "JVM GC Time": 500,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 1e9, "JVM GC Time": 0}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    c = spans.span_counters(str(path), sp)
    assert c[0] == {"tasks": 1, "executor_cpu_s": 2.0, "gc_s": 0.5,
                    "shuffle_write_bytes": 10, "spill_bytes": 3}
    assert c[1]["tasks"] == 1 and c[1]["executor_cpu_s"] == 1.0
