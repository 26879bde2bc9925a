"""End-to-end P/R gates on the reference NER corpus (north-rule acceptance).

Two instruments:

1. **Agreement vs frozen reference-tagger outputs (the BASELINE.md bar).**
   The actual Java PalladianNer (compiled and run offline via
   tools/reference_harness/build_and_run.sh) was trained on
   ner/training.txt and its annotations on BOTH corpora frozen under
   tests/fixtures/reference/. Our pipeline must agree with those outputs
   at EXACT_MATCH P/R >= 0.95. Measured at freeze time: train
   P=0.9976/R=0.9991, test P=0.9991/R=0.9991 (EXACT) — near-exact parity.

2. **Self-tag vs gold, pinned to the reference's own scores.** The
   reference itself scores EXACT P=0.9237/R=0.9243, MUC P=0.9528/R=0.9535
   self-tagging training.txt (printed by the same harness run). Our
   pipeline must land within 0.005 of those numbers — catching both
   regressions AND suspicious "improvements" that would mean semantic
   drift from the reference.

Reference semantics: NamedEntityRecognizer.evaluate
(palladian-core/.../entity/NamedEntityRecognizer.java:75-184),
PalladianNer English mode (PalladianNer.java:110-520).
"""

import os

import pytest

from palladian_spark.sources.reference import REFERENCE_ROOT

TRAIN = os.path.join(REFERENCE_ROOT, "src/test/resources/ner/training.txt")
TEST = os.path.join(REFERENCE_ROOT, "src/test/resources/ner/test.txt")
FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "reference")

# the reference's own self-tag scores on training.txt (harness output)
REF_SELF_EXACT_P, REF_SELF_EXACT_R = 0.9237122364703325, 0.9243149195302305
REF_SELF_MUC_P, REF_SELF_MUC_R = 0.9528363399261031, 0.9534580252283602

pytestmark = pytest.mark.skipif(
    not os.path.exists(TRAIN), reason="reference corpus not available"
)


@pytest.fixture(scope="module")
def model():
    from palladian_spark.kernels.ner import train_english

    with open(TRAIN, encoding="utf-8") as f:
        return train_english(f.read())


def _load_ref(name):
    from palladian_spark.kernels.tagging import Annotation

    anns = []
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        for line in f:
            s, e, v, t = line.rstrip("\n").split("\t")
            anns.append(Annotation(int(s), v, t))
    return anns


def _tag(model, corpus_path):
    from palladian_spark.kernels.fileformats import get_text_from_column
    from palladian_spark.kernels.ner import tag_text

    with open(corpus_path, encoding="utf-8") as f:
        return tag_text(get_text_from_column(f.read()), model)


@pytest.mark.parametrize(
    "corpus_path,fixture",
    [
        (TRAIN, "ref_train_annotations.tsv"),
        (TEST, "ref_test_annotations.tsv"),
    ],
    ids=["train", "test"],
)
def test_agreement_vs_frozen_reference_outputs(model, corpus_path, fixture):
    from palladian_spark.kernels.evaluation import EXACT_MATCH, MUC, evaluate

    result = evaluate(_load_ref(fixture), _tag(model, corpus_path))
    assert result.precision(EXACT_MATCH) >= 0.95
    assert result.recall(EXACT_MATCH) >= 0.95
    assert result.precision(MUC) >= 0.95
    assert result.recall(MUC) >= 0.95


def test_self_tag_matches_reference_own_scores(model):
    from palladian_spark.kernels.evaluation import EXACT_MATCH, MUC, evaluate
    from palladian_spark.kernels.fileformats import get_annotations_from_column

    with open(TRAIN, encoding="utf-8") as f:
        gold = get_annotations_from_column(f.read())
    assert len(gold) == 4598  # FileFormatParserTest.java:20

    result = evaluate(gold, _tag(model, TRAIN))
    assert abs(result.precision(EXACT_MATCH) - REF_SELF_EXACT_P) <= 0.005
    assert abs(result.recall(EXACT_MATCH) - REF_SELF_EXACT_R) <= 0.005
    assert abs(result.precision(MUC) - REF_SELF_MUC_P) <= 0.005
    assert abs(result.recall(MUC) - REF_SELF_MUC_R) <= 0.005
