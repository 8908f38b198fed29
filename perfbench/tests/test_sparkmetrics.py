"""The metric parser, on Spark's display strings and on a known plan.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]

from sparkmetrics import Metric, StatusStore, parse_metric  # noqa: E402


@pytest.mark.parametrize("text, want", [
    ("total (min, med, max (stageId: taskId))\n16.8 s (238 ms, 344 ms, "
     "1.1 s (stage 10.0: task 40))", Metric(16.8, 0.238, 0.344, 1.1, 10)),
    ("162.6 KiB", Metric(162.6 / 1024)),
    ("1,324", Metric(1324.0)),
    ("7 ms", Metric(0.007)),
    ("0.0 B", Metric(0.0)),
    ("avg (min, med, max (stageId: taskId))\n(1, 1.5, 2 (stage 314.0: "
     "task 638))", Metric(1.5, 1.0, 1.5, 2.0, 314)),
    ("total (min, med, max)\n1.2 m (1 ms, 2 ms, 3 ms)",
     Metric(72.0, 0.001, 0.002, 0.003)),
    ("total (min, med, max (stageId: taskId))\n514.0 MiB (16.1 MiB, "
     "16.1 MiB, 16.1 MiB (stage 10.0: task 40))",
     Metric(514.0, 16.1, 16.1, 16.1, 10)),
])
def test_parse_display_strings(text, want):
    got = parse_metric(text)
    assert got.stage == want.stage
    for f in ("total", "min", "med", "max"):
        assert getattr(got, f) == pytest.approx(getattr(want, f))


@pytest.mark.parametrize("text", ["", "fast", "12 parsecs"])
def test_parse_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_known_plan(tmp_path, monkeypatch):
    """A parquet scan, a hash exchange and a hash aggregate: every
    operator is found and every parsed value is >= 0."""
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.session import get_spark

    spark = get_spark("perfbench-test", master="local[2]")
    path = str(tmp_path / "t.parquet")
    spark.range(20_000).select((F.col("id") % 97).alias("k"),
                               F.col("id").alias("v")) \
        .write.parquet(path)
    store = StatusStore(spark)
    last = store.last_id()
    spark.read.parquet(path).groupBy("k").agg(F.sum("v")) \
        .write.format("noop").mode("overwrite").save()
    (ex,) = store.executions_after(last)
    names = {n.name.split(" ")[0] for n in ex.nodes}
    assert {"Scan", "Exchange", "HashAggregate"} <= names
    assert ex.total("Scan", "number of output rows") == 20_000
    assert ex.total("Exchange", "shuffle bytes written") > 0
    assert ex.metric("HashAggregate", "time in aggregation build")
    for n in ex.nodes:
        for m in n.metrics.values():
            assert all(v is None or v >= 0
                       for v in (m.total, m.min, m.med, m.max)), n.name
