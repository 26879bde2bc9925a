"""Corpus-level parse goldens (FileFormatParserTest.java:14-50): the CoNLL
training corpus yields exactly 4,598 phrase annotations; offset spot checks."""

import os

import pytest

from palladian_spark.kernels.fileformats import (
    column_to_xml,
    get_annotations_from_column,
    get_annotations_from_xml_text,
    get_text_from_column,
)
from palladian_spark.sources.reference import REFERENCE_ROOT

TRAINING = os.path.join(REFERENCE_ROOT, "src/test/resources/ner/training.txt")

pytestmark = pytest.mark.skipif(
    not os.path.isfile(TRAINING), reason="reference corpus not available"
)


def _read():
    with open(TRAINING, encoding="utf-8") as f:
        return f.read()


def test_training_corpus_annotation_count():
    annotations = get_annotations_from_column(_read())
    assert len(annotations) == 4598


def test_training_corpus_offsets():
    annotations = get_annotations_from_column(_read())
    # FileFormatParserTest.java:39-48 spot checks
    assert annotations[0].start == 0
    assert annotations[0].value == "EU"
    assert annotations[0].tag == "ORG"
    a = annotations[4594]
    assert a.start == 186754
    assert a.value == "Sri Lankans"
    assert a.tag == "MISC"


def test_xml_roundtrip_simple():
    xml = "The <PHONE>iphone 4</PHONE> is a phone."
    anns = get_annotations_from_xml_text(xml)
    assert len(anns) == 1
    assert anns[0].start == 4
    assert anns[0].value == "iphone 4"
    assert anns[0].tag == "PHONE"


def test_column_to_xml_small():
    # note: the reference writes no space before line index 1 (the
    # ``lineNumber > 1`` guard in ColumnToXmlAction) — replicated exactly,
    # so a leading pad line is used here to get natural spacing.
    col = "=-DOCSTART-\tO\n\nJohn\tPER\nSmith\tPER\nlives\tO\nhere\tO\n.\tO\n"
    xml = column_to_xml(col)
    assert xml == "\n<PER>John Smith</PER> lives here."
    text = get_text_from_column(col)
    assert text == "\nJohn Smith lives here."
