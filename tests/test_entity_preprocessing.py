"""EntityPreprocessingTagger goldens ported verbatim from
EntityPreprocessingTaggerTest.java (fixtures read from the read-only
reference test resources; caseDictionary.csv is the reference's shipped
main resource)."""

import os

import pytest

from palladian_spark.sources.reference import REFERENCE_ROOT

CASE_DICT = os.path.join(REFERENCE_ROOT, "src/main/resources/caseDictionary.csv")
TEST_TEXT = os.path.join(REFERENCE_ROOT, "src/test/resources/testText.txt")

pytestmark = pytest.mark.skipif(
    not os.path.exists(CASE_DICT), reason="reference resources not available"
)


@pytest.fixture(scope="module")
def tagger():
    from palladian_spark.kernels.preprocessing import EntityPreprocessingTagger

    with open(CASE_DICT, encoding="utf-8") as f:
        return EntityPreprocessingTagger(f, 2, 0)


def test_entity_preprocessor(tagger):
    """EntityPreprocessingTaggerTest.java:34-45."""
    with open(TEST_TEXT, encoding="utf-8") as f:
        text = f.read()
    annotations = tagger.get_annotations(text)
    assert len(annotations) == 41
    assert annotations[0].value == "Clean Water Act"
    assert annotations[0].start == 31
    assert annotations[0].end == 46
    assert annotations[3].value == "Cleveland"
    assert annotations[33].value == "Bill Ruckelshaus"


def test_short_phrase_issue294(tagger):
    """EntityPreprocessingTaggerTest.java:47-53."""
    annotations = tagger.get_annotations("New York City")
    assert len(annotations) == 1
    assert annotations[0].value == "New York City"


def test_correct_capitalization(tagger):
    """EntityPreprocessingTaggerTest.java:55-67."""
    assert (
        tagger.correct_capitalization("Senior U.S. Military Official Visits Georgia.")
        == "senior U.S. military official visits Georgia."
    )
    assert (
        tagger.correct_capitalization("BY RACHEL E. SHEELEY STAFF WRITER")
        == "by RACHEL E. SHEELEY staff writer"
    )
    assert (
        tagger.correct_capitalization(
            "OSCE Envoy Condemns Dvani Attack that Killed One Policeman."
        )
        == "OSCE envoy condemns Dvani attack that killed one policeman."
    )
    assert (
        tagger.correct_capitalization(
            "Competitive Growth On Imposition Of Special Duties On Importation Of Passenger Cars."
        )
        == "competitive growth on imposition of special duties on importation of passenger cars."
    )
    assert (
        tagger.correct_capitalization("AT MAGAZAN BEACH RESORT")
        == "at MAGAZAN BEACH resort"
    )


def test_long_annotation_split(tagger):
    """EntityPreprocessingTaggerTest.java:69-89."""
    from palladian_spark.kernels.tagging import string_tag

    annotations = string_tag(
        "Rocky Hill Tax Credits Available. Jordan Elementary School Principal "
        "Stacy DeCorsey shows her students an oversized check made out to the "
        "school for $1,825.40. Former Bloomfield Town Councilman Richard Days "
        "Dead At 79. Platte County Attorney Sandra Allen Calls Tourism "
        "Australia Managing Director Andrew McEvoy."
    )
    split = tagger.get_long_annotation_split(annotations, 3)
    assert len(split) == 9
    assert split[0].value == "Rocky Hill"
    assert split[0].start == 0
    assert split[0].end == 10
    assert split[6].value == "Sandra Allen"
    assert split[6].start == 242
    assert split[6].end == 254

    annotations = tagger.get_annotations("New York City-based")
    split = tagger.get_long_annotation_split(annotations, 3)
    assert len(split) == 2
    assert split[1].value == "New York City"

def test_long_annotation_split_curly_quote_no_crash(tagger):
    """Quote-normalized '-'/'&' parts absent from the raw value must not raise
    (Java String.indexOf returns -1; EntityPreprocessingTagger.java:208-218
    then emits start-1). Repro from round-2 advisor finding."""
    from palladian_spark.kernels.tagging import Annotation

    annotations = [Annotation(10, "O’Brien-Smith Holdings", "CANDIDATE")]
    split = tagger.get_long_annotation_split(annotations, 99)
    values = [a.value for a in split]
    # The hyphen split yields "O'Brien" (normalized, absent from raw value →
    # start = 10 + (-1) = 9, mirroring the reference) and "Smith Holdings".
    assert "O'Brien" in values
    assert "Smith Holdings" in values
    starts = {a.value: a.start for a in split}
    assert starts["O'Brien"] == 9
