from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdfwf_spark.operators.sketch import (
    heavy_hitters,
    grouped_histogram_quantiles,
    hash_sample_quantiles,
    histogram_quantiles,
)

QS = [0.5, 0.9, 0.99]


@pytest.fixture(scope="module")
def values_df(spark):
    # deterministic skewed integer distribution (Zipf-ish token counts)
    rng = np.random.RandomState(7)
    vals = (rng.pareto(1.5, 20000) * 40 + 1).astype(int)
    vals = np.clip(vals, 1, 5000)
    return spark.createDataFrame(
        [(int(i), int(v)) for i, v in enumerate(vals)], "id long, n long"
    ).repartition(16)


def _exact_milli(df, qs):
    row = df.agg(
        *[
            F.round(1000 * F.expr(f"percentile(n, {q!r})")).cast("long").alias(f"q{i}")
            for i, q in enumerate(qs)
        ]
    ).collect()[0]
    return [row[f"q{i}"] for i in range(len(qs))]


def test_histogram_quantiles_exact(spark, values_df):
    """Histogram path must equal the sort-based exact percentile bit-for-bit."""
    got = histogram_quantiles(values_df, "n", QS).collect()[0]
    want = _exact_milli(values_df, QS)
    assert [got["p50_milli"], got["p90_milli"], got["p99_milli"]] == want
    assert got["n_rows"] == values_df.count()


def test_histogram_quantiles_interpolates(spark):
    # even count forces the type-7 midpoint: median of [1,2,3,4] = 2.5
    df = spark.createDataFrame([(i,) for i in [1, 2, 3, 4]], "n long")
    got = histogram_quantiles(df, "n", [0.5]).collect()[0]
    assert got["p50_milli"] == 2500
    assert got["n_rows"] == 4


def test_histogram_quantiles_empty(spark):
    df = spark.createDataFrame([], "n long")
    got = histogram_quantiles(df, "n", QS).collect()[0]
    assert got["n_rows"] == 0
    assert got["p50_milli"] is None


def test_grouped_quantiles_match_per_group_exact(spark, values_df):
    """Per-group path must equal filter-then-global on every group."""
    grouped = values_df.withColumn("g", F.col("id") % 3)
    got = {
        r["g"]: r
        for r in grouped_histogram_quantiles(grouped, ["g"], "n", QS).collect()
    }
    assert set(got) == {0, 1, 2}
    for g in range(3):
        sub = grouped.filter(F.col("g") == g)
        want = histogram_quantiles(sub, "n", QS).collect()[0]
        for k in ("p50_milli", "p90_milli", "p99_milli", "n_rows"):
            assert got[g][k] == want[k], (g, k)


def test_grouped_quantiles_single_row_groups(spark):
    # n=1 groups: every quantile is the lone value, no interpolation
    df = spark.createDataFrame([("a", 7), ("b", 11)], "g string, n long")
    got = {r["g"]: r for r in
           grouped_histogram_quantiles(df, ["g"], "n", [0.5, 0.99]).collect()}
    assert got["a"]["p50_milli"] == 7000 and got["a"]["p99_milli"] == 7000
    assert got["b"]["p50_milli"] == 11000 and got["b"]["n_rows"] == 1


def test_grouped_quantiles_empty_and_guard(spark):
    df = spark.createDataFrame([], "g string, n long")
    assert grouped_histogram_quantiles(df, ["g"], "n", QS).count() == 0
    with pytest.raises(ValueError):
        grouped_histogram_quantiles(df, [], "n", QS)


def test_hash_sample_quantiles_deterministic_and_close(spark, values_df):
    a = hash_sample_quantiles(values_df, "n", "id", QS).collect()[0]
    b = hash_sample_quantiles(values_df.repartition(3), "n", "id", QS).collect()[0]
    # partitioning-invariant: identical output regardless of layout
    assert a == b
    assert 0 < a["n_sampled"] < a["n_rows"]
    # 25% sample of 20k rows: p50 estimate within 10% of exact
    exact = _exact_milli(values_df, [0.5])[0]
    assert abs(a["p50_milli"] - exact) / exact < 0.10


# ---------------------------------------------------------------- heavy hitters


@pytest.fixture(scope="module")
def zipf_tokens_df(spark):
    # token i appears floor(3000/i) times -> a long heavy-hitter tail
    rows = []
    for i in range(1, 400):
        rows += [(f"tok{i:03d}",)] * (3000 // i)
    return spark.createDataFrame(rows, "v string").repartition(16)


def _hh_truth(df, min_count):
    return {
        r["v"]: r["n"]
        for r in df.groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .collect()
    }


@pytest.mark.parametrize("min_count", [50, 200, 1000])
def test_heavy_hitters_exact(spark, zipf_tokens_df, min_count):
    """Auto-sized capacity makes the two-pass MG plan exactly equal the
    naive groupBy/HAVING result, at any threshold."""
    got = {
        r["v"]: r["n"]
        for r in heavy_hitters(zipf_tokens_df, "v", min_count).collect()
    }
    assert got == _hh_truth(zipf_tokens_df, min_count)


def test_heavy_hitters_partitioning_invariant(spark, zipf_tokens_df):
    """Result must not depend on how rows are split across partitions."""
    expect = _hh_truth(zipf_tokens_df, 200)
    for parts in (1, 3, 32):
        got = {
            r["v"]: r["n"]
            for r in heavy_hitters(
                zipf_tokens_df.repartition(parts), "v", 200
            ).collect()
        }
        assert got == expect, parts


def test_heavy_hitters_explicit_capacity_is_exact_subset(spark, zipf_tokens_df):
    """Caller-supplied (too small) capacity is an approximate mode: a
    subset of the true hitters, but every reported count stays exact,
    and the heaviest item always survives (MG guarantee)."""
    truth = _hh_truth(zipf_tokens_df, 50)
    got = {
        r["v"]: r["n"]
        for r in heavy_hitters(zipf_tokens_df, "v", 50, capacity=4).collect()
    }
    assert set(got) <= set(truth)
    assert all(truth[k] == v for k, v in got.items())
    assert "tok001" in got  # global max frequency can never be decremented away


def test_heavy_hitters_empty_and_guard(spark):
    empty = spark.createDataFrame([], "v string")
    assert heavy_hitters(empty, "v", 5).count() == 0
    with pytest.raises(ValueError, match="min_count"):
        heavy_hitters(empty, "v", 0)


# ------------------------------------------------------------- hll state


def test_hll_state_merge_and_accuracy(spark):
    from pdfwf_spark.operators.sketch import hll_estimate, hll_register_state

    n = 5000
    df = spark.range(n).select((F.col("id") % 1000).alias("k"))
    state = hll_register_state(df, "k", n_registers=64).collect()
    est = hll_estimate(state, 64)
    assert abs(est - 1000) / 1000 < 0.30  # m=64 -> ~13% std error

    # mergeability: state(A) max-merged with state(B) == state(A|B)
    a = spark.range(0, 600).select(F.col("id").alias("k"))
    b = spark.range(400, 1000).select(F.col("id").alias("k"))
    sa = {r["register"]: r["max_rho"] for r in hll_register_state(a, "k").collect()}
    sb = {r["register"]: r["max_rho"] for r in hll_register_state(b, "k").collect()}
    merged = {reg: max(sa.get(reg, 0), sb.get(reg, 0)) for reg in set(sa) | set(sb)}
    union = {
        r["register"]: r["max_rho"]
        for r in hll_register_state(a.unionAll(b), "k").collect()
    }
    assert merged == union


def test_hll_state_partitioning_invariant(spark):
    from pdfwf_spark.operators.sketch import hll_register_state

    df = spark.range(2000).select((F.col("id") % 300).alias("k"))
    s1 = sorted(map(tuple, hll_register_state(df, "k").collect()))
    s2 = sorted(map(tuple, hll_register_state(df.repartition(13), "k").collect()))
    assert s1 == s2


def test_hll_guard(spark):
    from pdfwf_spark.operators.sketch import hll_register_state

    df = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="power of two"):
        hll_register_state(df, "k", n_registers=48)


def test_hll_state_grouped_matches_per_group(spark):
    from pdfwf_spark.operators.sketch import hll_register_state

    df = spark.range(900).select(
        (F.col("id") % 3).cast("string").alias("g"), (F.col("id") % 250).alias("k")
    )
    grouped = hll_register_state(df, "k", group_cols=("g",))
    for g in ("0", "1", "2"):
        solo = {
            (r["register"], r["max_rho"])
            for r in hll_register_state(df.filter(F.col("g") == g), "k").collect()
        }
        sub = {
            (r["register"], r["max_rho"])
            for r in grouped.filter(F.col("g") == g).drop("g").collect()
        }
        assert sub == solo
