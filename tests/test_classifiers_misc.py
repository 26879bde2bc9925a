"""Remaining classifier-family kernels vs the reference's own unit
tests (NominalClassifierTest, ZeroRTest, FrequencyEncoderTest,
LabelEncoderTest, LogLossEvaluatorTest, RocCurvesTest,
Random/IdBasedCrossValidatorTest)."""

import math
import os

import pytest

from palladian_spark.kernels.classifiers_misc import (
    FrequencyEncoder,
    LabelEncoder,
    classify_nominal,
    classify_zeror,
    id_based_cross_folds,
    log_loss,
    mean_log_loss,
    nominal_probabilities,
    random_cross_folds,
    roc_auc,
    train_nominal,
    train_zeror,
)
from palladian_spark.sources.reference import REFERENCE_ROOT

REF = os.path.join(REFERENCE_ROOT, "src/test/resources/classifier")


def test_nominal_classifier_reference_golden():
    # NominalClassifierTest.java:20-44
    rows = (
        [({"f": "f1"}, "A")] + [({"f": "f1"}, "B")] * 2
        + [({"f": "f2"}, "A")] * 3 + [({"f": "f2"}, "B")] * 4
    )
    model = train_nominal(rows)
    assert model.categories == {"A", "B"}
    probs = nominal_probabilities(classify_nominal({"f": "f2"}, model))
    assert probs["A"] == pytest.approx(0.4286, abs=1e-4)
    assert probs["B"] == pytest.approx(0.5714, abs=1e-4)


def test_nominal_unknown_value_is_nan():
    # Java (double)0/0 — CountMatrix row absent -> NaN scores
    model = train_nominal([({"f": "x"}, "A")])
    scores = classify_nominal({"f": "unseen"}, model)
    assert all(math.isnan(v) for v in scores.values())


def test_zeror_diabetes_golden():
    # ZeroRTest.java: 50:50 split, accuracy 0.67, recall(class0)=1
    path = os.path.join(REF, "diabetesData.txt")
    if not os.path.exists(path):
        pytest.skip("reference resources not available")
    rows = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            parts = line.strip().split(";")
            if len(parts) > 1:
                rows.append((dict(), parts[-1]))
    train_rows = rows[: len(rows) // 2]
    test_rows = rows[len(rows) // 2 : len(rows) - 1]
    model = train_zeror(train_rows)
    probs = classify_zeror(model)
    predicted = max(probs.items(), key=lambda kv: (kv[1], kv[0]))[0]
    assert predicted == "class0"
    acc = sum(1 for _, c in test_rows if c == predicted) / len(test_rows)
    assert acc == pytest.approx(0.67, abs=0.01)
    # recall(class0) = 1, recall(class1) = 0 — ZeroR always predicts class0
    assert all(predicted == "class0" for _ in test_rows)


_ENC_DATA = (
    [({"f1": "a", "f2": "a"}, "x")] * 3
    + [({"f1": "b", "f2": "a"}, "x")] * 2
    + [({"f1": "c", "f2": None}, "x")]
    + [({"f1": "d", "f2": None}, "x")]
    + [({"f1": "e", "f2": None}, "x")]
)


def test_frequency_encoder_goldens():
    # FrequencyEncoderTest.java
    enc = FrequencyEncoder(_ENC_DATA, ["f1", "f2"])
    out = enc.apply({"f1": "a", "f2": "a"})
    assert out["f1_frequency"] == pytest.approx(3 / 8)
    assert out["f2_frequency"] == pytest.approx(5 / 8)
    out = enc.apply({"f1": None, "f2": None})
    assert out["f1_frequency"] is None and out["f2_frequency"] is None
    enc2 = FrequencyEncoder(_ENC_DATA, ["f1", "f2"], "assign_frequency")
    out = enc2.apply({"f1": None, "f2": None})
    assert out["f1_frequency"] == 0.0
    assert out["f2_frequency"] == pytest.approx(3 / 8)


def test_label_encoder_goldens():
    # LabelEncoderTest.java: sorted distinct -> [0, n-1]; unseen -> null
    rows = [({"value": v}, "dummy") for v in ("a", "z", "b")]
    enc = LabelEncoder(rows, ["value"])
    assert enc.apply({"value": "a"})["value_labelEncoded"] == 0
    assert enc.apply({"value": "b"})["value_labelEncoded"] == 1
    assert enc.apply({"value": "z"})["value_labelEncoded"] == 2
    assert enc.apply({"value": "x"})["value_labelEncoded"] is None


def test_log_loss_goldens():
    # LogLossEvaluatorTest.java
    assert log_loss(True, 0.5) == pytest.approx(0.69315, abs=1e-4)
    assert log_loss(True, 0.9) == pytest.approx(0.10536, abs=1e-4)
    assert log_loss(True, 0.1) == pytest.approx(2.3026, abs=1e-4)
    assert log_loss(False, 0.9) == 0.0  # -0*log(p)
    assert mean_log_loss([(True, 0.5), (True, 0.9)]) == pytest.approx(
        (0.69315 + 0.10536) / 2, abs=1e-4
    )


def test_roc_auc_golden():
    # RocCurvesTest.java: AUC 0.5741
    results = [
        (True, 1.0), (False, 0.895), (False, 0.894), (True, 0.856),
        (True, 0.833), (True, 0.723), (True, 0.703), (False, 0.674),
        (True, 0.651), (True, 0.589), (True, 0.548), (False, 0.37),
        (False, 0.363), (False, 0.338), (True, 0.0),
    ]
    assert roc_auc(results) == pytest.approx(0.5741, abs=1e-4)


def test_cross_validators():
    # Random/IdBasedCrossValidatorTest.java: 100 rows, 10 folds ->
    # 90/10 disjoint splits covering everything
    for folds in (
        random_cross_folds(100, 10, seed=7),
        id_based_cross_folds(list(range(100)), 10),
    ):
        assert len(folds) == 10
        seen = set()
        for train, test in folds:
            assert len(train) == 90 and len(test) == 10
            assert not (set(train) & set(test))
            seen.update(test)
        assert seen == set(range(100))


def test_nominal_classify_spark_matches_kernel(spark):
    import random

    from palladian_spark.operators.nominal import nominal_classify

    rng = random.Random(5)
    cats = ["en", "de", "zh"]
    rows = []
    for i in range(200):
        cat = cats[i % 3]
        src = ["web", "book", "code"][(i + (0 if rng.random() < 0.7 else 1)) % 3]
        fw = ["alpha", "beta", "web"][(i * 7) % 3]  # 'web' collides with src
        rows.append((i, cat, src, fw))
    df = spark.createDataFrame(rows, "doc_id long, lang string, s string, fw string")
    got = {
        r["doc_id"]: (r["predicted"], r["score_micro"])
        for r in nominal_classify(df, "lang", "doc_id", ["s", "fw"]).collect()
    }
    # kernel: one instance per row, features keyed by name but counts by
    # VALUE (the quirk) — the deliberate 'web' collision exercises it
    model = train_nominal([({"s": s, "fw": fw}, c) for _, c, s, fw in rows])
    for i, cat, s, fw in rows:
        scores = classify_nominal({"s": s, "fw": fw}, model)
        want = max(sorted(scores), key=lambda c: (scores[c], ))
        # tie-break: max score then category asc == min name among maxima
        best = max(scores.values())
        want = min(c for c, v in scores.items() if v == best)
        pred, micro = got[i]
        assert pred == want, (i, scores, got[i])
        assert abs(micro - math.floor(1e6 * scores[want] + 0.5)) <= 1


def test_feature_selector_diabetes():
    # FeatureSelectorTest.java: backward/forward over diabetes2.csv with
    # the NaiveBayes classifier; the reference's own assertion is loose
    # (top feature in a known-good set) because the split shuffles
    path = os.path.join(REF, "diabetes2.csv")
    if not os.path.exists(path):
        pytest.skip("reference resources not available")
    from palladian_spark.kernels.classifiers_misc import feature_selection

    with open(path, encoding="utf-8") as f:
        lines = [line.strip() for line in f if line.strip()]
    header = lines[0].split(";")
    rows = []
    for line in lines[1:]:
        parts = line.split(";")
        rows.append(
            ({h: float(v) for h, v in zip(header[:-1], parts[:-1])}, parts[-1])
        )
    good = {"plasma", "bmi", "bloodPressure", "triceps", "pedigree"}
    for direction in ("backward", "forward"):
        ranks = feature_selection(rows, direction=direction, seed=3)
        top = max(ranks.items(), key=lambda kv: kv[1])[0]
        assert top in good, (direction, sorted(ranks.items(), key=lambda kv: -kv[1]))
    # feature-group variant: the grouped trio dominates
    ranks = feature_selection(
        rows, direction="backward", seed=3, feature_groups=["plasma|bmi|pedigree"]
    )
    top = max(ranks.items(), key=lambda kv: kv[1])[0]
    assert top == "plasma|bmi|pedigree"


def test_roc_auc_exact_matches_kernel(spark):
    # the integer formulation must equal the kernel trapezoid under the
    # same total order (ties broken by id asc)
    import random

    from palladian_spark.operators.roc import roc_auc_exact

    rng = random.Random(13)
    rows = [
        (i, rng.random() < 0.4, rng.randint(0, 20))  # coarse scores -> ties
        for i in range(300)
    ]
    if not any(t for _, t, _ in rows) or all(t for _, t, _ in rows):
        rows[0] = (0, True, 5)
        rows[1] = (1, False, 5)
    df = spark.createDataFrame(rows, "id long, is_true boolean, score long")
    got = roc_auc_exact(df, "is_true", "score", "id").collect()[0]
    auc_spark = got["auc_num"] / (got["positives"] * got["negatives"])
    ordered = sorted(rows, key=lambda r: (-r[2], r[0]))
    want = roc_auc([(t, s) for _, t, s in ordered])
    # within the total order roc_auc's sort is stable, so both sweeps
    # walk the identical sequence
    assert auc_spark == pytest.approx(want, abs=1e-12)
