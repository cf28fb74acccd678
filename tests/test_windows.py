"""operators/windows.py: hierarchical global-window helpers must be
bit-equal to the single-partition window functions they replace, and
must never plan a single-partition WindowExec themselves."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from real_time_event_driven_data_pipeline_spark.operators.windows import (
    ntile_from_row_number,
    with_global_row_number,
    with_global_running_sum,
    with_grouped_row_number,
)


def _rows(n, spark, seed=7):
    # keys deliberately non-contiguous + shuffled so range partitioning
    # has real work to do; (val, key) is a unique total order
    import random

    rng = random.Random(seed)
    data = [(i * 13 % 997, (i * 31) % 53, i % 11 + 1) for i in range(n)]
    rng.shuffle(data)
    return spark.createDataFrame(data, "key long, val long, amt long")


@pytest.mark.parametrize("n", [0, 1, 5, 997])
def test_global_row_number_matches_window(spark, n):
    df = _rows(n, spark)
    got = {
        r["key"]: r["rn"]
        for r in with_global_row_number(
            df, ["val", "key"], "rn", num_partitions=8
        ).collect()
    }
    w = Window.orderBy("val", "key")
    want = {
        r["key"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


@pytest.mark.parametrize("n", [0, 1, 5, 997])
def test_global_running_sum_matches_window(spark, n):
    df = _rows(n, spark)
    got = {
        r["key"]: r["cum"]
        for r in with_global_running_sum(
            df, ["val", "key"], "amt", "cum", num_partitions=8
        ).collect()
    }
    w = (
        Window.orderBy("val", "key")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        r["key"]: r["cum"]
        for r in df.withColumn("cum", F.sum("amt").over(w)).collect()
    }
    assert got == want


@pytest.mark.parametrize("n,tiles", [(1, 10), (7, 10), (10, 10), (97, 10), (997, 7)])
def test_ntile_formula_matches_ntile(spark, n, tiles):
    df = _rows(n, spark)
    w = Window.orderBy("val", "key")
    want = {
        r["key"]: r["d"]
        for r in df.withColumn("d", F.ntile(tiles).over(w)).collect()
    }
    ranked = with_global_row_number(df, ["val", "key"], "rn", num_partitions=8)
    total = df.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    got = {
        r["key"]: r["d"]
        for r in ranked.join(F.broadcast(total))
        .withColumn("d", ntile_from_row_number(F.col("rn"), F.col("n_total"), tiles))
        .collect()
    }
    assert got == want


def _grouped_rows(n, spark, seed=11):
    # few LARGE groups (the shape the grouped helper exists for) with a
    # unique (val, key) order inside each; shuffled input
    import random

    rng = random.Random(seed)
    data = [
        (f"src_{i % 3}", i * 13 % 9973, (i * 31) % 101, i % 11 + 1)
        for i in range(n)
    ]
    rng.shuffle(data)
    return spark.createDataFrame(data, "g string, key long, val long, amt long")


@pytest.mark.parametrize("n", [0, 1, 5, 997])
def test_grouped_row_number_matches_window(spark, n):
    df = _grouped_rows(n, spark)
    got = {
        (r["g"], r["key"]): r["rk"]
        for r in with_grouped_row_number(
            df, ["g"], [("val", False), ("key", True)], "rk", num_partitions=8
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.desc("val"), "key")
    want = {
        (r["g"], r["key"]): r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want


def test_grouped_row_number_partitioning_invariant(spark):
    df = _grouped_rows(400, spark)
    a = with_grouped_row_number(
        df.coalesce(1), ["g"], [("val", False), ("key", True)], "rk", num_partitions=8
    )
    b = with_grouped_row_number(
        df.repartition(13), ["g"], [("val", False), ("key", True)], "rk", num_partitions=3
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_grouped_helper_plan_shape(spark):
    """No single-partition window, no per-group window (every Window's
    partition spec includes the range-partition id), and the offsets
    join is a hash join (equality on the group key), not the global
    path's triangular BNLJ."""
    df = _grouped_rows(500, spark)
    plan = (
        with_grouped_row_number(
            df, ["g"], [("val", False), ("key", True)], "rk", num_partitions=8
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange SinglePartition" not in plan
    for line in plan.splitlines():
        if "Window [" in line and "windowspecdefinition" in line:
            assert "__w_pid" in line, f"per-group window without pid: {line}"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_helper_plans_no_single_partition_window(spark):
    df = _rows(500, spark)
    plan = (
        with_global_row_number(df, ["val", "key"], "rn", num_partitions=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan  # the distributed per-partition window


@pytest.mark.parametrize("n", [0, 7, 653])
def test_grouped_running_sum_matches_window(spark, n):
    from real_time_event_driven_data_pipeline_spark.operators.windows import (
        with_grouped_running_sum,
    )

    df = _grouped_rows(n, spark)
    got = {
        (r["g"], r["key"]): r["rs"]
        for r in with_grouped_running_sum(
            df, ["g"], [("val", True), ("key", True)], "amt", "rs", num_partitions=8
        ).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy("val", "key")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["g"], r["key"]): r["rs"]
        for r in df.withColumn("rs", F.sum("amt").over(w)).collect()
    }
    assert got == want


def test_grouped_helpers_rank_the_null_group(spark):
    """r6 ADVICE: SQL ROW_NUMBER() OVER (PARTITION BY g) ranks the NULL
    group like any other — the helper's offset/final joins are
    null-SAFE on the group key, so NULL-group rows must come back
    ranked, not silently dropped."""
    from real_time_event_driven_data_pipeline_spark.operators.windows import (
        with_grouped_running_sum,
    )

    rows = [(None, 1, 10), (None, 2, 20), ("a", 3, 5), (None, 4, 1), ("a", 5, 2)]
    df = spark.createDataFrame(rows, "g string, key long, amt long")
    got = {
        (r["g"], r["key"]): r["rk"]
        for r in with_grouped_row_number(
            df, ["g"], [("key", True)], "rk", num_partitions=4
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("key")
    want = {
        (r["g"], r["key"]): r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want and len(got) == 5

    got_sum = {
        (r["g"], r["key"]): r["rs"]
        for r in with_grouped_running_sum(
            df, ["g"], [("key", True)], "amt", "rs", num_partitions=4
        ).collect()
    }
    want_sum = {
        (r["g"], r["key"]): r["rs"]
        for r in df.withColumn(
            "rs", F.sum("amt").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).collect()
    }
    assert got_sum == want_sum


@pytest.mark.parametrize(
    "helper, args",
    [
        (with_global_row_number, (["val", "key"], "rn")),
        (with_grouped_row_number, (["val"], [("key", True)], "rn")),
    ],
)
def test_unknown_materialize_raises(spark, helper, args):
    # a typo must not silently fall back to the cache pin
    with pytest.raises(ValueError, match="materialize"):
        helper(_rows(5, spark), *args, materialize="checkpont")
