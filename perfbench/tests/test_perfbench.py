"""Tests of the benchmark's own code. They start no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import eventlog  # noqa: E402
import measure  # noqa: E402
import metrics  # noqa: E402


def test_nearest_rank_percentiles():
    vals = list(range(1, 11))  # 1..10
    assert measure.nearest_rank(vals, 0.5) == 5
    assert measure.nearest_rank(vals, 0.9) == 9
    assert measure.nearest_rank(vals, 1.0) == 10
    assert measure.nearest_rank([7.0], 0.5) == 7.0
    assert measure.nearest_rank(list(reversed(range(100))), 0.9) == 89
    with pytest.raises(ValueError):
        measure.nearest_rank([], 0.5)


def test_geomean():
    assert measure.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert measure.geomean([2.0, 0.0]) == pytest.approx(2.0)  # failed series skipped
    assert measure.geomean([]) == 0.0


def test_p90_needs_100_samples():
    ops = measure.Ops()
    assert ops.percentile(list(range(100)), 0.9, "x") == 89
    assert ops.failed == 0
    ops.percentile(list(range(99)), 0.9, "short")
    assert ops.failed == 1 and "99 samples" in ops.reasons[0]
    ops.percentile(list(range(5)), 0.5, "median")  # a median needs no 100
    assert ops.failed == 1


def test_attempt_counts_exceptions_without_raising():
    ops = measure.Ops()
    with ops.attempt("ok"):
        pass
    with ops.attempt("boom"):
        raise RuntimeError("broken\ndetail")
    assert (ops.attempted, ops.failed) == (2, 1)
    assert ops.reasons == ["boom: RuntimeError: broken"]


def test_eventlog_fold_on_rolled_fixture():
    path = os.path.join(HERE, "fixtures", "eventlog_v2_local-1")
    assert [os.path.basename(p) for p in eventlog.log_files(path)] == [
        "events_1_local-1", "events_2_local-1"]
    groups = eventlog.fold(eventlog.read_events(path))
    q1 = groups["exec:tpch:tpch_q1:warm0"]
    assert q1 == {"jobs": 1, "stages": 2, "tasks": 2, "task_s": 2.0, "gc_s": 0.1,
                  "input_bytes": 1000, "shuffle_bytes": 200, "spill_bytes": 5}
    knn = groups["exec:similarity:sim_knn_graph:warm0"]
    assert (knn["input_bytes"], knn["shuffle_bytes"], knn["spill_bytes"]) == (0, 40, 7)
    assert groups[""]["task_s"] == 1.0  # a job with no group
    tpch = eventlog.sum_groups(groups, lambda g: g.startswith("exec:tpch:"))
    assert tpch["jobs"] == 1


def test_same_seed_same_inputs(tmp_path):
    a = datagen.catalog_tables(5, 0.001)
    b = datagen.catalog_tables(5, 0.001)
    c = datagen.catalog_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["events"].equals(c["events"])
    for seed, d in ((5, "x"), (5, "y")):
        datagen.write_catalog(str(tmp_path / d), seed, 0.001, tables=("events", "documents"))
    read = lambda d, t: open(tmp_path / d / f"{t}.parquet", "rb").read()  # noqa: E731
    assert read("x", "events") == read("y", "events")
    assert read("x", "documents") == read("y", "documents")
    assert sorted(os.listdir(tmp_path / "x")) == ["documents.parquet", "events.parquet"]


def test_result_stores_exist_in_operator_source():
    import suite

    src = ""
    ops_dir = os.path.join(ROOT, "app_fastdata_spark", "operators")
    for name in os.listdir(ops_dir):
        if name.endswith(".py"):
            with open(os.path.join(ops_dir, name)) as f:
                src += f.read()
    literals = set(re.findall(r'"([a-z0-9_]+)"', src))
    missing = [s for s in suite.RESULT_STORES if s not in literals]
    assert not missing, f"result stores not named in the operators: {missing}"


def test_suite_covers_every_module():
    import suite
    from app_fastdata_spark.catalog import queries

    qs = queries()
    modules = {qs[n].__module__.rsplit(".", 1)[-1] for n in suite.SUITE}
    assert modules == set(metrics.MODULES)
    assert set(suite.index_answers()) <= set(suite.SUITE)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    printed = metrics.table({n: 1.0 for n in metrics.END_TO_END}, trace=False)
    assert set(printed) == set(e2e)
    assert set(metrics.table({}, trace=True)) == set(layer)
    with pytest.raises(KeyError):
        metrics.table({"nope": 1.0}, trace=True)
    with pytest.raises(KeyError):
        metrics.table({"setup_s": 1.0}, trace=False)


def test_overhead_baseline_is_keyed_on_source(tmp_path):
    from types import SimpleNamespace

    import run

    hist = tmp_path / "history.jsonl"
    rows = [
        {"workload": "live_20k", "cpus": "4", "source": "a", "op_ms": 100.0},
        {"workload": "live_20k", "cpus": "4", "source": "b", "op_ms": 200.0},
        {"workload": "live_20k", "cpus": "8", "source": "a", "op_ms": 300.0},
        {"workload": "analytics_suite", "cpus": "4", "source": "a", "op_ms": 400.0},
    ]
    hist.write_text("".join(json.dumps(r) + "\n" for r in rows))
    ctx = SimpleNamespace(workload="live_20k", info={"SPARK_GRAFT_CPUS": "4", "source": "a"})
    assert run._baselines(ctx, str(hist)) == [100.0]
    assert run._baselines(ctx, str(tmp_path / "none.jsonl")) == []
    assert len(run._source_hash()) == 16
