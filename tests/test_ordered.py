"""ordered.running_sum against a single-node cumulative sum, across
range-partition seams."""

from __future__ import annotations

from pyspark.sql import functions as F

from sneaky_data_matcher_spark.operators.ordered import running_sum


def test_running_sum_matches_python_cumsum(spark):
    """Descending sort column, 0/1 values (the shape of adaptive SNM's
    segment sum), at 1, 7 and 64 range partitions — 64 on 600 rows leaves
    empty and short partitions. The empty frame gives no rows and total 0."""
    rows = [(i, (i * 37) % 101, int(i % 3 == 0 or i % 7 == 0)) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, k long, flag int")
    want, acc = {}, 0
    for i, _k, flag in sorted(rows, key=lambda r: (-r[1], r[0])):
        acc += flag
        want[i] = acc
    for nparts in (1, 7, 64):
        out, total = running_sum(
            df, [F.col("k").desc(), "id"], F.col("flag"), "cum", nparts
        )
        assert out.columns == ["id", "k", "flag", "cum"]
        assert {r["id"]: r["cum"] for r in out.collect()} == want, nparts
        assert total == acc, nparts

    empty, total = running_sum(
        df.limit(0), [F.col("k").desc(), "id"], F.col("flag"), "cum", 7
    )
    assert empty.collect() == [] and total == 0
