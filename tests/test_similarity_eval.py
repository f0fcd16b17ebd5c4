"""The similarity-evaluation harness (operators/dedup.py, next to the
exact-eval sampling contract): unit checks of its shared pieces on
hand-built inputs, independent of any corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_server_spark.operators import dedup


def _ranked_assignment(spark):
    """8 vectors, each probing 3 coarse cells (ranks 1..3) and, inside
    every probed cell, 2 fine cells (ranks 1..2). At coarse width 1
    and fine width 1 each vector sits in bucket (v % 3, v % 2), i.e.
    v % 6: buckets 0 and 1 hold two members (0, 6 and 1, 7)."""
    rows = [
        (v, (v + i) % 3, (v + j) % 2, i + 1, j + 1)
        for v in range(8)
        for i in range(3)
        for j in range(2)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, centroid_id long, fine_id long, crank long, frank long"
    )


def _fold(budgets, caught, names):
    def by_cell(df, col):
        return {tuple(r[n] for n in names): r[col] for r in df.collect()}

    return by_cell(budgets, "n_candidates"), by_cell(caught, "hit")


def test_width_grid_one_axis_equals_two_axis_with_single_second_width(spark):
    assign = _ranked_assignment(spark)
    exact = spark.createDataFrame(
        [(0, 6), (2, 4), (1, 5), (3, 7)], "vec_a long, vec_b long"
    )
    keys = ("centroid_id", "fine_id")
    p1 = ("crank", "p1", [1, 2, 3])
    two = _fold(
        *dedup._width_grid(assign, keys, [p1, ("frank", "p2", [1])], exact),
        ["p1", "p2"],
    )
    # a single second-axis width of 1 keeps exactly the frank = 1 rows
    one = _fold(
        *dedup._width_grid(assign.filter(F.col("frank") == 1), keys, [p1], exact),
        ["p1"],
    )
    for grid_one, grid_two in zip(one, two):
        assert {(k[0], 1): v for k, v in grid_one.items()} == grid_two
    budgets, caught = one
    # hand count at width 1: buckets {0, 6} and {1, 7} hold one exact
    # pair; every other pair shares a cell at coarse rank <= 2
    assert budgets[(1,)] == 2
    assert caught == {(1,): 1, (2,): 4, (3,): 4}
    assert [budgets[(w,)] for w in (1, 2, 3)] == sorted(budgets.values())
