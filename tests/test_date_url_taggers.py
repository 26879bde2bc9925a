"""Parity gates for the full DateAndTimeTagger + UrlTagger ports against
goldens produced by the ACTUAL reference taggers (compiled and run via
tools/reference_harness/TaggerGoldenDriver.java on
tests/fixtures/reference/date_texts.txt).

The goldens bake in the reference's own quirks, which the port reproduces
faithfully: the date-string masking uses the matched text AS A REGEX
(DateParser.java:190 replaceFirst), so strings containing '+' fail to
mask and re-annotate under a later format; and the digit-neighbor end
check OVERWRITES the start check (DateParser.java:229-231).
"""

import os
from collections import defaultdict

from palladian_spark.sources.reference import REFERENCE_ROOT

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures", "reference")
TEXTS = os.path.join(FIXDIR, "date_texts.txt")
GOLDEN = os.path.join(FIXDIR, "date_url_annotations.tsv")


def _load():
    with open(TEXTS, encoding="utf-8") as f:
        texts = [line.rstrip("\n") for line in f]
    golden = defaultdict(list)
    with open(GOLDEN, encoding="utf-8") as f:
        for line in f:
            i, start, value, tag = line.rstrip("\n").split("\t")
            golden[int(i)].append((int(start), value, tag))
    return texts, golden


def test_date_tagger_parity_with_reference():
    from palladian_spark.kernels.dateformats import date_time_tag_full

    texts, golden = _load()
    for i, text in enumerate(texts):
        if not text:
            continue
        want = sorted(
            (s, v) for s, v, t in golden.get(i, []) if t == "DATETIME"
        )
        got = sorted((a.start, a.value) for a in date_time_tag_full(text))
        assert got == want, f"line {i}: {text!r}\n got={got}\nwant={want}"


def test_url_tagger_parity_with_reference():
    from palladian_spark.kernels.tagging import url_tag

    texts, golden = _load()
    for i, text in enumerate(texts):
        if not text:
            continue
        want = sorted((s, v) for s, v, t in golden.get(i, []) if t == "URI")
        got = sorted((a.start, a.value) for a in url_tag(text))
        assert got == want, f"line {i}: {text!r}\n got={got}\nwant={want}"


def test_t14_url_date_augmentation_parity():
    """T14 (PalladianNer.java:459-473): tagging with tag_urls=tag_dates=True
    must union URI/DATETIME annotations before removeNested — golden from
    the ACTUAL reference (T14GoldenDriver on a trained English model)."""
    import pytest

    TRAIN = os.path.join(REFERENCE_ROOT, "src/test/resources/ner/training.txt")
    if not os.path.exists(TRAIN):
        pytest.skip("reference corpus not available")

    from palladian_spark.kernels.ner import TaggingSettings, tag_text, train_english

    with open(TRAIN, encoding="utf-8") as f:
        model = train_english(f.read())
    with open(os.path.join(FIXDIR, "t14_texts.txt"), encoding="utf-8") as f:
        texts = [line.rstrip("\n") for line in f]
    golden = defaultdict(list)
    with open(os.path.join(FIXDIR, "t14_annotations.tsv"), encoding="utf-8") as f:
        for line in f:
            i, start, value, tag = line.rstrip("\n").split("\t")
            golden[int(i)].append((int(start), value, tag))

    settings = TaggingSettings(tag_urls=True, tag_dates=True)
    for i, text in enumerate(texts):
        if not text:
            continue
        got = sorted((a.start, a.value, a.tag) for a in tag_text(text, model, settings))
        assert got == sorted(golden[i]), f"line {i}: {text!r}\n got={got}"


def test_reference_unit_fixture():
    """DateAndTimeTaggerTest.java:15-21 verbatim."""
    from palladian_spark.kernels.dateformats import date_time_tag_full

    anns = date_time_tag_full(
        "The mayan calendar ends on 21.12.2012, nobody knows what happens "
        "after end of 12/2012."
    )
    assert len(anns) == 2
    assert anns[0].start == 27
    assert len(anns[0].value) == 10
