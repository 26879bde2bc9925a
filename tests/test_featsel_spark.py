"""Distributed feature-selection rankers vs the (reference-golden)
kernel on the same wine dataset."""

import os

import pytest

from palladian_spark.kernels.featsel import (
    average_merge,
    chi_squared_matrix,
    discretize,
    information_gain_ranking,
    mdlp_boundaries,
)
from palladian_spark.operators.featsel import (
    chi_squared_scores,
    information_gain_scores,
    mdlp_discretize,
    mdlp_fit_boundaries,
)
from palladian_spark.sources.reference import REFERENCE_ROOT

REF = os.path.join(REFERENCE_ROOT, "src/test/resources/classifier")


@pytest.fixture(scope="module")
def wine_rows():
    path = os.path.join(REF, "wineData.csv")
    if not os.path.exists(path):
        pytest.skip("reference resources not available")
    with open(path, encoding="utf-8") as f:
        lines = [line.strip() for line in f if line.strip()]
    header = lines[0].split(";")
    rows = []
    for line in lines[1:]:
        parts = line.split(";")
        rows.append(
            ({h: float(v) for h, v in zip(header[:-1], parts[:-1])}, parts[-1])
        )
    return rows


@pytest.fixture(scope="module")
def wine_binned(wine_rows):
    return discretize(wine_rows)


def _to_df(spark, binned):
    feats = sorted(binned[0][0])
    data = [tuple(f[name] for name in feats) + (cat,) for f, cat in binned]
    cols = [n.replace("/", "_") for n in feats] + ["category"]
    schema = ", ".join(f"`{c}` string" for c in cols)
    return spark.createDataFrame(data, schema), [n.replace("/", "_") for n in feats]


def test_chi_squared_distributed_matches_kernel(spark, wine_binned):
    df, feat_cols = _to_df(spark, wine_binned)
    got = {
        r["feature"]: r["chi2_avg_sum_micro"] / 1e6
        for r in chi_squared_scores(df, "category", feat_cols).collect()
    }
    want = average_merge(chi_squared_matrix(wine_binned))
    for name, score in want.items():
        assert got[name.replace("/", "_")] == pytest.approx(score, abs=2e-3), name


def test_information_gain_distributed_matches_kernel(spark, wine_rows, wine_binned):
    df, feat_cols = _to_df(spark, wine_binned)
    got = {
        r["feature"]: r["ig_micro"] / 1e6
        for r in information_gain_scores(df, "category", feat_cols).collect()
    }
    want = information_gain_ranking(wine_rows)
    for name, score in want.items():
        assert got[name.replace("/", "_")] == pytest.approx(score, abs=2e-4), name


def test_mdlp_distributed_matches_kernel(spark, wine_rows):
    data = [(f["alcohol"], cat) for f, cat in wine_rows]
    df = spark.createDataFrame(data, "alcohol double, category string")
    got = mdlp_fit_boundaries(df, "alcohol", "category")
    want = mdlp_boundaries(data)
    assert got == want
    binned = mdlp_discretize(df, "alcohol", "category")
    from bisect import bisect_left

    for r in binned.collect():
        assert r["alcohol_bin"] == bisect_left(want, r["alcohol"])
