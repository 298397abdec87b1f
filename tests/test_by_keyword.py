"""One operator per statistic: the grouped form of each statistic is
the ungrouped form with ``by`` keys. For every such operator, the rows
of ``op(df, ..., by=["g"])`` for group v equal ``op(df.where(g == v),
...)`` without ``by``; and the empty-input contracts of both forms
hold."""

import random

import pytest
from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators import accuracy, sketches

QS = [0.0, 0.1, 0.25, 0.5, 0.9, 1.0]
K = 10_000  # k >= n: no MRL collapse fires, the sketch is bit-exact
P = 8


def _mrl(df, by):
    if by:
        return sketches.mrl_sketch_grouped(df, by, "x", k=K)
    return sketches.mrl_sketch(df, "x", k=K)


OPS = {
    "quantiles_exact": lambda df, by: accuracy.quantiles_exact(
        df, "x", QS, by=by),
    "outliers_iqr": lambda df, by: accuracy.outliers_iqr(df, "x", by=by),
    "ks_statistic": lambda df, by: accuracy.ks_statistic(
        df, "x", "side", "a", "b", by=by),
    "hll_build": lambda df, by: sketches.hll_build(df, "u", p=P, by=by),
    "hll_estimate": lambda df, by: sketches.hll_estimate(
        sketches.hll_build(df, "u", p=P, by=by), p=P, by=by),
    "mrl_merge": lambda df, by: sketches.mrl_merge(_mrl(df, by), k=K, by=by),
    "mrl_quantiles": lambda df, by: sketches.mrl_quantiles(
        sketches.mrl_merge(_mrl(df, by), k=K, by=by), QS, by=by),
}

SCHEMA = "id long, g string, side string, x double, u string"


def _frame(spark):
    """Three heteroscedastic groups with ties, nulls and spikes; group
    "c" has no side-"b" rows (its KS statistic is null)."""
    rng = random.Random(11)
    spread = {"a": 1.0, "b": 25.0, "c": 5.0}
    rows = []
    for i in range(900):
        g = "abc"[i % 3]
        side = "a" if g == "c" or rng.random() < 0.5 else "b"
        x = round(rng.gauss(10.0, spread[g]), 1)
        if i % 97 == 0:
            x = 400.0 + i  # a spike: an outlier in every group
        if i % 41 == 0:
            x = None
        rows.append((i, g, side, x, f"u{rng.randrange(150)}"))
    return spark.createDataFrame(rows, SCHEMA)


def _norm(row):
    d = row.asDict()
    d.pop("g", None)
    return tuple(sorted(d.items()))


@pytest.mark.parametrize("name", sorted(OPS))
def test_grouped_rows_equal_ungrouped_on_the_group_slice(spark, name):
    op = OPS[name]
    df = _frame(spark)
    grouped = op(df, ["g"]).collect()
    assert {r["g"] for r in grouped} == {"a", "b", "c"}
    for v in "abc":
        got = sorted((_norm(r) for r in grouped if r["g"] == v), key=repr)
        want = sorted((_norm(r) for r in op(df.where(F.col("g") == v), None)
                       .collect()), key=repr)
        assert got and got == want, (name, v)
    if name == "ks_statistic":
        (c,) = [r for r in grouped if r["g"] == "c"]
        assert c["ks_stat"] is None and c["n_b"] == 0
    if name == "outliers_iqr":
        spikes = {i for i in range(900) if i % 97 == 0 and i % 41}
        assert spikes <= {r["id"] for r in grouped}


@pytest.mark.parametrize("name", sorted(OPS))
def test_empty_input_contract(spark, name):
    """Grouped: no rows. Ungrouped: ks_statistic and hll_estimate keep
    exactly one row (a null KS stat with zero counts, a zero
    estimate); the others have nothing to report."""
    op = OPS[name]
    empty = spark.createDataFrame([], SCHEMA)
    assert op(empty, ["g"]).collect() == []
    got = [r.asDict() for r in op(empty, None).collect()]
    want = {
        "ks_statistic": [{"ks_stat": None, "n_a": 0, "n_b": 0}],
        "hll_estimate": [{"estimate": 0}],
    }.get(name, [])
    assert got == want
