"""with_global_seq against a Python sort-and-enumerate: contiguous seq from
``start`` in order-key order, whatever the partition count, including range
partitions that hold no row."""

import random

import pytest

from geospatial_web_scraper_spark.functions.ordering import with_global_seq


@pytest.mark.parametrize("num_partitions", [1, 3, 8])
def test_seq_matches_sorted_enumeration(spark, num_partitions):
    rng = random.Random(num_partitions)
    # three distinct leading keys; the second column makes the key total
    rows = [(rng.randint(0, 2), v) for v in rng.sample(range(2000), 200)]
    df = spark.createDataFrame(rows, "k int, v int")

    out, n = with_global_seq(
        df, ["k", "v"], seq_col="s", start=41, num_partitions=num_partitions
    )
    assert n == len(rows)
    got = sorted((r["s"], r["k"], r["v"]) for r in out.collect())
    assert got == [(41 + i, k, v) for i, (k, v) in enumerate(sorted(rows))]

    # ranked on the leading key alone, the range bounds are its three values,
    # so at 8 partitions some partition is empty; ties take any order
    out, n = with_global_seq(
        df, ["k"], seq_col="s", start=41, num_partitions=num_partitions
    )
    got = sorted((r["s"], r["k"], r["v"]) for r in out.collect())
    assert n == len(rows)
    assert [(s, k) for s, k, _ in got] == [
        (41 + i, k) for i, (k, _) in enumerate(sorted(rows))
    ]
    assert sorted((k, v) for _, k, v in got) == sorted(rows)
    if num_partitions > 3:
        assert 0 in out.rdd.glom().map(len).collect()


def test_seq_of_empty_input(spark):
    df = spark.createDataFrame([], "k int, v int")
    out, n = with_global_seq(df, ["k", "v"], start=9, num_partitions=3)
    assert n == 0
    assert out.collect() == []
    assert out.columns == ["k", "v", "seq"]
