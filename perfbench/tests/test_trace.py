"""Span arithmetic, the status-store reader and the hook wrappers."""

import json
import os
import types

import pytest
from pyspark.sql import functions as F

from perfbench import report
from perfbench.trace import Hook, Span, Tracer, self_cpu, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _span(start, end, parent=None, cpu=0.0):
    return Span("x", 0, parent, "g", start, end, cpu_s=cpu)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0.0, 10.0),
        _span(1.0, 3.0, parent=0),
        _span(2.0, 4.0, parent=0),  # overlaps its sibling: counted once
        _span(6.0, 7.0, parent=0),
        _span(6.2, 6.8, parent=3),  # grandchild: only its parent's concern
        _span(9.5, 12.0, parent=0),  # runs past the parent: clipped
    ]
    assert self_times(spans) == pytest.approx([10 - 3 - 1 - 0.5, 2.0, 2.0, 1.0 - 0.6, 0.6, 2.5])


def test_self_time_of_a_leaf_is_its_duration():
    assert self_times([_span(1.0, 1.25)]) == [0.25]


def test_self_cpu_subtracts_children():
    spans = [_span(0, 1, cpu=5.0), _span(0, 1, parent=0, cpu=2.0), _span(0, 1, parent=1, cpu=0.5)]
    assert self_cpu(spans) == pytest.approx([3.0, 1.5, 0.5])


def test_status_store_reader_attributes_stages_to_spans(spark):
    tracer = Tracer(spark)
    tracer.op = 0
    with tracer.span("op"):
        with tracer.span("shuffle"):
            spark.range(20000, numPartitions=2).groupBy((F.col("id") % 7).alias("k")).count().collect()
        with tracer.span("idle"):
            pass
        spark.range(10).count()  # the root's own job
    tracer.collect_stages(0)
    op, shuffle, idle = tracer.spans
    assert shuffle.jobs >= 1 and op.jobs >= 1 and idle.jobs == 0
    assert idle.stages == []
    assert sum(g["shuffle_write_mb"] for g in shuffle.stages) > 0
    assert all(g["failed_tasks"] == 0 for g in shuffle.stages)
    assert sum(g["tasks"] for g in shuffle.stages) >= 2
    assert all(len(g["task_s"]) == g["tasks"] for g in shuffle.stages)
    assert shuffle.start >= op.start and shuffle.end <= op.end


def test_hooks_wrap_materialize_and_restore(spark):
    mod = types.SimpleNamespace(double=lambda df, k=2: df.select((F.col("id") * k).alias("id")))
    original = mod.double
    tracer = Tracer(spark)
    tracer.op = 0
    with tracer.hooked([Hook(mod, "double", "layer.double", pre="layer.input")]), tracer.span("op"):
        out = mod.double(spark.range(50).filter("id % 2 = 0"), k=3)
    assert mod.double is original
    names = [s.name for s in tracer.spans]
    assert names == ["op", "layer.input", "layer.double"]
    pre, layer = tracer.spans[1:]
    assert pre.rows_out == 25 and layer.rows_in == 25 and layer.rows_out == 25
    assert layer.parent == 0 and pre.parent == 0
    assert out.is_cached and out.agg(F.max("id")).first()[0] == 144
    tracer.release()
    assert not out.is_cached


def test_op_layers_sum_self_time_and_funnel_rows():
    spans = [
        Span("op", 0, None, "g0", 0.0, 10.0, cpu_s=20.0),
        Span("frontier.robots", 0, 0, "g1", 1.0, 4.0, rows_in=100, rows_out=80, fn="apply_robots", cpu_s=6.0),
        Span("frontier.robots", 0, 0, "g2", 5.0, 6.0, rows_in=50, rows_out=40, fn="apply_robots", cpu_s=1.0),
        Span("warcio.scan_text", 0, 0, "g3", 6.0, 9.5, rows_out=500, fn="scan_files_to_text", cpu_s=5.0),
    ]
    spans[3].stages = [{"run_s": 8.0, "gc_s": 0.4, "failed_tasks": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_s": [2.0] * 4}]
    m = report.op_layers(spans, 0, cores=4)
    assert m["frontier.robots.self_s"] == pytest.approx(4.0)
    assert m["frontier.robots.allowed_frac"] == pytest.approx(120 / 150)
    assert m["warcio.scan_text.cpu_us_per_record"] == pytest.approx(1e6 * 5.0 / 500)
    assert m["frontier.rank.self_s"] == 0.0
    assert m["op.wall_s"] == 10.0
    assert m["op.coverage"] == pytest.approx(0.75)
    assert m["op.gc_frac"] == pytest.approx(0.05)
    assert m["op.idle_core_frac"] == pytest.approx(0.8)


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == report.per_layer_names()
    for m in bench["per_layer"]:
        unit, better = report.UNITS[m["name"].rsplit(".", 1)[1]]
        assert (m["unit"], m["better"]) == (unit, better)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == report.END_TO_END
