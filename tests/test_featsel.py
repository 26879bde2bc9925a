"""Feature-selection kernels vs the reference's own unit-test goldens
(ChiSquaredFeatureRankerTest.java:21-62, InformationGainFeatureRankerTest
.java:20-52 on the in-tree wineData.csv / playData.txt)."""

import math
import os

import pytest

from palladian_spark.kernels.featsel import (
    Binner,
    chi_squared_ranking,
    entropy,
    information_gain_ranking,
    mdlp_boundaries,
    mdlp_boundaries_weighted,
)
from palladian_spark.sources.reference import REFERENCE_ROOT

REF = os.path.join(REFERENCE_ROOT, "src/test/resources/classifier")


def _load_csv(path, numeric):
    with open(path, encoding="utf-8") as f:
        lines = [line.strip() for line in f if line.strip()]
    header = lines[0].split(";")
    dataset = []
    for line in lines[1:]:
        parts = line.split(";")
        feats = {}
        for name, raw in zip(header[:-1], parts[:-1]):
            feats[name] = float(raw) if numeric else raw
        dataset.append((feats, parts[-1]))
    return dataset


@pytest.fixture(scope="module")
def wine():
    if not os.path.exists(os.path.join(REF, "wineData.csv")):
        pytest.skip("reference resources not available")
    return _load_csv(os.path.join(REF, "wineData.csv"), numeric=True)


@pytest.fixture(scope="module")
def play():
    if not os.path.exists(os.path.join(REF, "playData.txt")):
        pytest.skip("reference resources not available")
    return _load_csv(os.path.join(REF, "playData.txt"), numeric=False)


CHI2_AVERAGE_GOLDEN = {
    "od280/od315ofDilutedWines": 125.9867,
    "colorIntensity": 128.5980,
    "proline": 124.7087,
    "flavanoids": 160.0524,
    "alcohol": 105.8876,
    "hue": 95.2166,
    "totalPhenols": 97.2884,
    "alcalinityOfAsh": 62.9867,
    "malicAcid": 79.7351,
    "magnesium": 56.2174,
    "proanthocyanins": 60.1322,
    "ash": 35.6311,
    "nonflavanoidPhenols": 46.9911,
}

CHI2_RR_GOLDEN = {
    "od280/od315ofDilutedWines": 37,
    "colorIntensity": 37,
    "proline": 37,
    "flavanoids": 36,
    "alcohol": 36,
    "hue": 35,
    "totalPhenols": 35,
    "alcalinityOfAsh": 33,
    "malicAcid": 32,
    "magnesium": 32,
    "proanthocyanins": 30,
    "ash": 28,
    "nonflavanoidPhenols": 23,
}

IG_WINE_GOLDEN = {
    "flavanoids": 1.0151,
    "proline": 0.8278,
    "colorIntensity": 0.7438,
    "od280/od315ofDilutedWines": 0.7221,
    "hue": 0.6324,
    "alcohol": 0.6034,
    "totalPhenols": 0.5795,
    "malicAcid": 0.4306,
    "alcalinityOfAsh": 0.2772,
    "proanthocyanins": 0.2653,
    "magnesium": 0.2614,
    "nonflavanoidPhenols": 0.2198,
    "ash": 0.1649,
}

IG_PLAY_GOLDEN = {
    "Outlook": 0.2467,
    "Humidity": 0.1518,
    "Windy": 0.0481,
    "Temperature": 0.0292,
}


def test_chi_squared_average_wine(wine):
    got = chi_squared_ranking(wine, merging="average")
    for name, want in CHI2_AVERAGE_GOLDEN.items():
        assert got[name] == pytest.approx(want, abs=1e-3), name


def test_chi_squared_round_robin_wine(wine):
    got = chi_squared_ranking(wine, merging="round_robin")
    for name, want in CHI2_RR_GOLDEN.items():
        assert got[name] == pytest.approx(want, abs=1e-3), name


def test_information_gain_wine(wine):
    got = information_gain_ranking(wine)
    for name, want in IG_WINE_GOLDEN.items():
        assert got[name] == pytest.approx(want, abs=1e-3), name


def test_information_gain_play(play):
    got = information_gain_ranking(play)
    for name, want in IG_PLAY_GOLDEN.items():
        assert got[name] == pytest.approx(want, abs=1e-3), name


def test_entropy_and_binner():
    assert entropy([1, 1]) == pytest.approx(1.0)
    assert entropy([4]) == 0.0
    b = Binner([2.0, 5.0])
    assert [b.bin(v) for v in (1.0, 2.0, 3.0, 5.0, 9.0)] == [0, 0, 1, 1, 2]


def test_weighted_boundaries_equivalent(wine):
    from collections import Counter

    for feat in ("alcohol", "proline"):
        pairs = [(feats[feat], cat) for feats, cat in wine]
        counts = Counter(pairs)
        weighted = [(v, c, n) for (v, c), n in counts.items()]
        assert mdlp_boundaries_weighted(weighted) == mdlp_boundaries(pairs)
