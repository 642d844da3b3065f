"""Tests of the benchmark's own machinery.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import zero_unused  # noqa: E402
from perfbench.spans import Span, Tracer, union_length  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_noop_sink_evaluates_every_column(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from perfbench.corpus import materialize

    @F.udf(LongType())
    def explode_on_read(x):
        raise ValueError("column was computed")

    df = spark.range(20).withColumn("bad", explode_on_read("id"))
    # count() never reads the column, so Catalyst prunes it away ...
    assert df.count() == 20
    # ... while the benchmark's sink computes it
    with pytest.raises(Exception, match="column was computed"):
        materialize(df)


def test_noop_sink_computes_each_row_once(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from perfbench.corpus import materialize

    calls = spark.sparkContext.accumulator(0)

    @F.udf(LongType())
    def counted(x):
        calls.add(1)
        return x

    materialize(spark.range(50).withColumn("c", counted("id")))
    assert calls.value == 50


def test_zero_unused_fills_layers_and_rejects_unknown_names():
    out = zero_unused({"fetch.wall_s": 1.5})
    assert out["fetch.wall_s"] == {"value": 1.5, "unit": "s"}
    assert out["corpus_ops.line_dedup_s"]["value"] == 0.0
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        assert set(out) == {m["name"] for m in json.load(f)["per_layer"]}
    with pytest.raises(KeyError):
        zero_unused({"no.such_metric": 1.0})


def test_self_time_subtracts_overlapping_children():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    tracer = Tracer(sc=None)
    tracer.spans = [
        Span(1, "parent", None, 0, 0.0, 10.0),
        Span(2, "child", 1, 0, 1.0, 4.0),
        Span(3, "child", 1, 1, 3.0, 5.0),  # a pool thread, overlapping
    ]
    self_s = tracer.self_times()
    assert self_s["parent"] == pytest.approx(6.0)
    assert self_s["child"] == pytest.approx(5.0)
