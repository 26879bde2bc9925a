"""Evaluation golden: the full EvaluationResultTest.java:20-128 fixture
(XML gold + XML result under the reference tree's test resources)."""

import os

import pytest

from palladian_spark.kernels.evaluation import (
    CORRECT,
    ERROR1,
    ERROR2,
    ERROR3,
    ERROR4,
    ERROR5,
    EXACT_MATCH,
    MUC,
    RECOGNITION,
    evaluate,
)
from palladian_spark.kernels.fileformats import get_annotations_from_xml_text
from palladian_spark.sources.reference import REFERENCE_ROOT

FIXTURE_DIR = os.path.join(REFERENCE_ROOT, "src/test/resources/ner/evaluation")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(FIXTURE_DIR), reason="reference fixtures not available"
)


def _load():
    with open(os.path.join(FIXTURE_DIR, "goldStandardXml.txt"), encoding="utf-8") as f:
        gold = get_annotations_from_xml_text(f.read())
    with open(os.path.join(FIXTURE_DIR, "nerResultXml.txt"), encoding="utf-8") as f:
        ner = get_annotations_from_xml_text(f.read())
    return gold, ner


def test_evaluation_result_golden():
    gold, ner = _load()
    r = evaluate(gold, ner)

    assert r.actual("UNIT") == 2
    assert r.actual("LANDMARK") == 2
    assert r.actual("POI") == 3
    assert r.actual("COUNTRY") == 6
    assert r.actual("CITY") == 2

    assert r.possible("UNIT") == 1
    assert r.possible("LANDMARK") == 3
    assert r.possible("POI") == 5
    assert r.possible("COUNTRY") == 3
    assert r.possible("CITY") == 2

    assert r.possible() == 14
    assert r.actual() == 15

    assert r.count(CORRECT) == 5
    assert r.count(ERROR1) == 3
    assert r.count(ERROR2) == 2
    assert r.count(ERROR3) == 1
    assert r.count(ERROR4) == 2
    assert r.count(ERROR5) == 4

    assert r.count(CORRECT, "UNIT") == 1
    assert r.count(CORRECT, "LANDMARK") == 0
    assert r.count(CORRECT, "POI") == 1
    assert r.count(CORRECT, "COUNTRY") == 2
    assert r.count(CORRECT, "CITY") == 1

    assert r.count(ERROR1, "UNIT") == 1
    assert r.count(ERROR1, "COUNTRY") == 1
    assert r.count(ERROR1, "CITY") == 1
    assert r.count(ERROR2, "LANDMARK") == 1
    assert r.count(ERROR2, "COUNTRY") == 1
    assert r.count(ERROR3, "POI") == 1
    assert r.count(ERROR4, "LANDMARK") == 1
    assert r.count(ERROR4, "POI") == 1
    assert r.count(ERROR5, "LANDMARK") == 1
    assert r.count(ERROR5, "POI") == 2
    assert r.count(ERROR5, "CITY") == 1

    # exact match mode
    assert r.precision(EXACT_MATCH) == 5 / 15
    assert r.recall(EXACT_MATCH) == 5 / 14
    assert r.precision_for("UNIT", EXACT_MATCH) == 1 / 2
    assert r.precision_for("LANDMARK", EXACT_MATCH) == 0
    assert r.precision_for("POI", EXACT_MATCH) == 1 / 3
    assert r.precision_for("COUNTRY", EXACT_MATCH) == 2 / 6
    assert r.recall_for("UNIT", EXACT_MATCH) == 1
    assert r.recall_for("POI", EXACT_MATCH) == 1 / 5
    assert r.recall_for("COUNTRY", EXACT_MATCH) == 2 / 3

    # MUC mode
    assert r.precision(MUC) == 13 / 30
    assert r.recall(MUC) == 13 / 28
    assert r.precision_for("UNIT", MUC) == 2 / 4
    assert r.precision_for("LANDMARK", MUC) == 1 / 4
    assert r.precision_for("POI", MUC) == 4 / 6
    assert r.precision_for("COUNTRY", MUC) == 4 / 12
    assert r.recall_for("UNIT", MUC) == 1
    assert r.recall_for("LANDMARK", MUC) == 1 / 6
    assert r.recall_for("POI", MUC) == 4 / 10
    assert r.recall_for("COUNTRY", MUC) == 4 / 6

    # recognition mode
    assert r.precision(RECOGNITION) == 6 / 15
    assert r.recall(RECOGNITION) == 6 / 14
    assert r.precision_for("COUNTRY", RECOGNITION) == 2 / 6
    assert r.recall_for("COUNTRY", RECOGNITION) == 2 / 3
