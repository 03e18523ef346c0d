"""Tests of the benchmark's own machinery: span arithmetic, the status
store collector on a tiny job, and the inputs and checks.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import threading

import pandas as pd
import pytest

import datagen
import layers
import run
from collector import StatusStore, summarize
from spans import Span, Tracer, outermost_in_layer, self_time, union_length
from workloads import results_match, row_fingerprint


def test_union_length_counts_overlap_once():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (3, 4)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_clipped_children():
    # children overlap each other and one starts before the parent
    assert self_time((0, 10), []) == 10.0
    assert self_time((0, 10), [(1, 3), (2, 5), (8, 9)]) == pytest.approx(5.0)
    assert self_time((0, 10), [(-5, 2), (9, 20)]) == pytest.approx(7.0)
    assert self_time((0, 10), [(11, 12)]) == 10.0
    assert self_time((0, 10), [(0, 10), (3, 4)]) == 0.0


def _span(name, layer, start, end, parent, op=0):
    return Span(name, layer, start, end, parent, op, 0)


def test_outermost_in_layer_skips_nested_same_layer_calls():
    spans = [
        _span("op.x", "op", 0, 10, None),
        _span("delta_log.read_snapshot", "delta_log", 1, 5, 0),
        _span("delta_log.snapshot_files", "delta_log", 2, 3, 1),
        _span("delta_sink.append", "delta_sink", 6, 9, 0),
        _span("delta_log.latest_metadata", "delta_log", 7, 8, 3),
    ]
    assert outermost_in_layer(spans, "delta_log") == [1, 4]
    assert outermost_in_layer(spans, "delta_sink") == [3]


def test_tracer_records_only_inside_ops_and_links_parents():
    tracer = Tracer()

    def inner():
        return 1

    def outer():
        return traced_inner() + 1

    traced_inner = tracer.wrap(inner, "delta_log.inner", "delta_log")
    traced_outer = tracer.wrap(outer, "orchestrate.outer", "orchestrate")
    assert traced_outer() == 2
    assert tracer.spans == []

    with tracer.op_span(7, "op.test") as root:
        assert traced_outer() == 2
        # a thread with no open span of its own hangs off the op
        t = threading.Thread(target=traced_inner)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    names = [(s.name, s.parent, s.op) for s in tracer.spans]
    assert names == [
        ("op.test", None, 7),
        ("orchestrate.outer", root, 7),
        ("delta_log.inner", 1, 7),
        ("delta_log.inner", root, 7),
    ]
    assert all(s.end is not None and s.end >= s.start for s in tracer.spans)


def test_tail_percentile_has_ten_samples_beyond():
    assert run.tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    xs = [float(i) for i in range(1, 21)]
    value, pct, beyond = run.tail_percentile(xs)
    assert (value, beyond) == (10.0, 10)
    assert pct == pytest.approx(50.0)
    assert sum(x > value for x in xs) == 10


def test_descendants_walks_the_process_tree():
    table = {1: (0, 5), 10: (1, 7), 11: (10, 2), 12: (10, 1), 20: (1, 3), 30: (2, 4)}
    assert run.descendants({10}, table) == {10, 11, 12}
    assert run.descendants({1}, table) == {1, 10, 11, 12, 20}


def test_tree_cpu_counts_a_child_that_burns_cpu():
    import subprocess
    import sys

    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(range(10**7))"], check=True)
    assert run.tree_cpu_s() - before > 0.05


def test_datagen_is_seeded():
    a, b, c = datagen.tables(1, 0.001), datagen.tables(1, 0.001), datagen.tables(2, 0.001)
    assert set(a) == set(datagen.TABLE_NAMES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    li = a["lineitem"].to_pandas()
    assert li.groupby("l_orderkey").l_linenumber.max().le(7).all()


def test_row_fingerprint_is_a_multiset_fingerprint():
    df = pd.DataFrame({"k": [1, 2, 2], "ts": pd.to_datetime(["2024-01-01"] * 3)})
    shuffled = df.iloc[[2, 0, 1]].astype({"k": "int32", "ts": "datetime64[ns]"})
    assert (row_fingerprint(df, ["k", "ts"]) == row_fingerprint(shuffled, ["k", "ts"])).all()
    assert not (row_fingerprint(df, ["k"]) == row_fingerprint(df.iloc[[0, 0, 1]], ["k"])).all()


def test_results_match_is_order_free_but_type_strict():
    assert results_match(["a", "b"], [[1, 2.5], [3, None]], ["b", "a"], [(None, 3), (2.5, 1)])
    assert not results_match(["a"], [[2.0]], ["a"], [(2,)])
    assert not results_match(["a"], [[1]], ["a"], [(1,), (1,)])


def test_reported_metrics_match_benchmark_json():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.UNITS
    names = layers.per_layer([], [], [], object())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {n: run.layer_unit(n) for n in names}


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_collector_reads_a_tiny_job_and_attributes_it(spark):
    store = StatusStore(spark)
    store.drain()
    first = store.next_job_id()
    tracer = Tracer()
    with tracer.op_span(0, "op.tiny"), tracer.span("delta_sink.append", "delta_sink") as idx:
        spark.range(0, 1000, 1, 4).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    store.drain()
    jobs = store.jobs_from(first)
    assert jobs and all(j.submit <= j.complete for j in jobs)
    s = summarize(jobs)
    assert s["tasks"] >= 4 and s["shuffle_write_bytes"] > 0 and s["executor_run_s"] >= 0
    owner = layers.attribute(tracer.spans, jobs)
    assert {owner[j.job_id] for j in jobs} == {idx}
