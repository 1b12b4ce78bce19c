"""Focused contracts for the round-11 optimization internals.

Each change here altered an operator's INTERNALS only — these tests pin
the invariants the rewrites rely on, with the retained reference path
(plain ``createDataFrame``, the eager boundary literals) giving the
expected behavior in-process (no golden files).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from harmonize_search_analyze_spark.session import get_spark

    return get_spark(app_name="r11-opt-tests", master="local[4]",
                     shuffle_partitions=4)


# -- similarity._small_frame (one-slice metadata frames) ---------------------


def test_small_frame_one_slice_and_values(spark):
    from harmonize_search_analyze_spark.operators import similarity as sm

    rows = [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [5.0, 6.0])]
    ddl = "centroid_id INT, cvec ARRAY<DOUBLE>"
    one = sm._small_frame(spark, rows, ddl)
    assert one.rdd.getNumPartitions() == 1
    ref = spark.createDataFrame(rows, ddl)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, ref.collect()))
    assert one.schema == ref.schema


def test_small_frame_empty(spark):
    from harmonize_search_analyze_spark.operators import similarity as sm

    out = sm._small_frame(spark, [], "centroid_id INT, cvec ARRAY<DOUBLE>")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["centroid_id", "cvec"]


def test_kmeans_train_returns_one_slice_centroids(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        kmeans_train,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 4), float(i // 4)]) for i in range(16)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = kmeans_train(vecs, n_centroids=4, n_iters=2)
    assert cents.rdd.getNumPartitions() == 1
    assert cents.count() == 4


# -- ordering lazy boundary sampling ------------------------------------------


def _mk(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v DOUBLE")


@pytest.mark.parametrize("asc", [True, False])
def test_lazy_bucket_ids_match_eager(spark, asc):
    """The in-plan bounds frame must reproduce the literal path's bucket
    ids exactly: same percentile aggregate, same size(filter()) id, NULL
    keys pinned identically (asc -> 0, desc -> len(bounds))."""
    from harmonize_search_analyze_spark.operators import ordering as od

    vals = [1.0, 1.0, 2.5, 3.0, 3.0, 3.0, 7.5, 9.0, None, 4.2, 0.5]
    df = _mk(spark, vals)
    spec = [("v", asc)]
    eager_k, eager_bounds = od._bucket_boundaries(df, "v", asc, 4)
    tagged_eager = od._with_bucket(df, spec, 4, "pid", eager_bounds)
    bf = od._lazy_bounds_frame(df, spec, 4)
    tagged_lazy = od._with_bucket(df, spec, 4, "pid", None, bf)

    def key(frame):
        return sorted(
            ((r["v"], r["pid"]) for r in frame.collect()),
            key=lambda t: (t[0] is None, t[0]),
        )

    assert key(tagged_eager) == key(tagged_lazy)
    # lazy bucket ids are monotone in the sort order over non-null keys
    nn = [p for v, p in key(tagged_lazy) if v is not None]
    assert nn == sorted(nn) if asc else nn == sorted(nn, reverse=True)


def test_lazy_bounds_empty_and_constant_input(spark):
    from harmonize_search_analyze_spark.operators import ordering as od

    empty = _mk(spark, [])
    bf = od._lazy_bounds_frame(empty, [("v", True)], 4)
    out = od._with_bucket(empty, [("v", True)], 4, "pid", None, bf)
    assert out.count() == 0
    const = _mk(spark, [5.0] * 6)
    bf = od._lazy_bounds_frame(const, [("v", True)], 4)
    out = od._with_bucket(const, [("v", True)], 4, "pid", None, bf)
    assert {r["pid"] for r in out.collect()} == {0}


def test_lazy_bounds_frame_none_for_strings(spark):
    from harmonize_search_analyze_spark.operators import ordering as od

    df = spark.createDataFrame([("a",), ("b",)], "v STRING")
    assert od._lazy_bounds_frame(df, [("v", True)], 4) is None


def test_prefix_sums_lazy_matches_eager(spark):
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
    )

    per = (
        _mk(spark, [3.0, 1.0, 2.0, 2.0, 9.0, 4.0, 4.0, 8.0])
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lazy = {r["v"]: r["cum"]
            for r in prefix_sums(per, ["v"], {"c": "cum"}).collect()}
    eager = {r["v"]: r["cum"]
             for r in prefix_sums(
                 per, ["v"], {"c": "cum"}, lazy_bounds=False).collect()}
    assert lazy == eager
    ordered = sorted(lazy)
    assert [lazy[v] for v in ordered] == sorted(lazy[v] for v in ordered)
