"""Property tests for functions/quantiles.distribution_quantiles:
random value/weight tables must reproduce Spark's buffering
``percentile`` (the engine's own quantile_cont implementation) exactly
at the output-rounding grain, across both cumsum strategies — including
the edge shapes a fixture never exercises (single-row groups, all-equal
values, zero weights, negative values, h=0 rank hits)."""

import random

import pytest
from pyspark.sql import functions as F

from migrate_blob_data_from_rdbms_to_amazon_s3_spark.functions.quantiles import (
    distribution_quantiles,
)

PS = (0.25, 0.5, 0.75, 0.9)


def _reference(spark, rows, weighted):
    df = spark.createDataFrame(rows, "g string, v double, w long")
    freq = "CAST(w AS INT)" if weighted else "1"
    arr = f"percentile(v, array({', '.join(str(p) for p in PS)}), {freq})"
    out = df.groupBy("g").agg(
        F.expr(arr).alias("q"), F.count("*").alias("n")
    )
    return {
        r.g: tuple(round(float(x), 6) for x in r.q) for r in out.collect()
    }


def _distribution(spark, rows, weighted, wide):
    df = spark.createDataFrame(rows, "g string, v double, w long")
    out = distribution_quantiles(
        df,
        "g",
        "v",
        PS,
        weight_col="w" if weighted else None,
        scale=100,
        wide_domain=wide,
    )
    return {
        r.g: tuple(round(float(r[f"q{i}"]), 6) for i in range(len(PS)))
        for r in out.collect()
    }


def _random_rows(rng, n_groups, n_rows):
    rows = []
    for _ in range(n_rows):
        g = f"g{rng.randrange(n_groups)}"
        # cents-exact doubles, negatives included; duplicates likely
        v = rng.randrange(-500, 500) / 100.0
        w = rng.randrange(1, 5)
        rows.append((g, v, w))
    return rows


def test_distribution_matches_buffering_percentile_randomized(spark):
    rng = random.Random(20260815)
    for trial in range(8):
        rows = _random_rows(rng, n_groups=rng.randrange(1, 4), n_rows=rng.randrange(1, 60))
        for weighted in (False, True):
            ref = _reference(spark, rows, weighted)
            for wide in (True, False):
                got = _distribution(spark, rows, weighted, wide)
                assert got == ref, (trial, weighted, wide, rows[:5])


def test_distribution_edge_shapes(spark):
    cases = [
        [("a", 1.0, 1)],                                   # single row
        [("a", 2.5, 3)],                                   # single row, weight>1
        [("a", 7.77, 1)] * 5,                              # all-equal values
        [("a", -1.25, 2), ("a", -1.25, 1), ("a", 3.0, 1)], # negative ties
        [("a", 0.0, 1), ("a", 0.01, 1)],                   # adjacent cents
        [("a", 5.0, 0), ("a", 1.0, 2)],                    # zero-weight grain
    ]
    for rows in cases:
        for weighted in (False, True):
            ref = _reference(spark, rows, weighted)
            got = _distribution(spark, rows, weighted, wide=True)
            assert got == ref, (rows, weighted)


def test_narrow_path_rejects_return_grain(spark):
    df = spark.createDataFrame([("a", 1.0, 1)], "g string, v double, w long")
    with pytest.raises(ValueError, match="wide_domain"):
        distribution_quantiles(df, "g", "v", PS, wide_domain=False, return_grain=True)


def test_narrow_path_rejects_extra_aggs(spark):
    # the narrow cumsum never carries the grain table, so the aggregates
    # would be computed and then silently dropped
    df = spark.createDataFrame([("a", 1.0, 1)], "g string, v double, w long")
    with pytest.raises(ValueError, match="wide_domain"):
        distribution_quantiles(
            df, "g", "v", PS, wide_domain=False, extra_aggs={"n_w": F.sum("w")}
        )
