"""Spark/kernel parity: the distributed training aggregates and the
broadcast-model tagger must reproduce the pure-Python kernels exactly."""

import pytest

from palladian_spark.kernels import ner as kner
from palladian_spark.kernels.evaluation import evaluate as kernel_evaluate
from palladian_spark.kernels.fileformats import (
    get_annotations_from_column,
    get_text_from_column,
)
from palladian_spark.kernels.tagging import Annotation
from palladian_spark.sources.reference import REFERENCE_ROOT

# A small self-authored CoNLL-style corpus (PER/LOC/ORG) used as the training
# fixture; sentences follow the shapes Palladian's StringTagger detects.
CORPUS = "\n".join(
    [
        "=-DOCSTART-\tO", "",
        "President\tO", "John\tPER", "Smith\tPER", "visited\tO", "Berlin\tLOC",
        "on\tO", "Monday\tO", ".\tO", "",
        "The\tO", "United\tORG", "Nations\tORG", "met\tO", "in\tO",
        "New\tLOC", "York\tLOC", ".\tO", "",
        "President\tO", "Maria\tPER", "Garcia\tPER", "spoke\tO", "with\tO",
        "John\tPER", "Smith\tPER", "in\tO", "Paris\tLOC", ".\tO", "",
        "The\tO", "World\tORG", "Bank\tORG", "praised\tO", "Berlin\tLOC",
        "and\tO", "Paris\tLOC", ".\tO", "",
        "President\tO", "Anna\tPER", "Meyer\tPER", "left\tO", "Berlin\tLOC",
        "for\tO", "New\tLOC", "York\tLOC", ".\tO", "",
    ]
)


@pytest.fixture(scope="module")
def gold_doc():
    text = get_text_from_column(CORPUS)
    annotations = get_annotations_from_column(CORPUS)
    return text, annotations


@pytest.fixture(scope="module")
def kernel_model(gold_doc):
    return kner.train_english(CORPUS, complete_retraining=True)


def _gold_df(spark, gold_doc):
    text, annotations = gold_doc
    rows = [("d0", text, [(a.start, a.end, a.value, a.tag) for a in annotations])]
    from palladian_spark.operators.ner_pipeline import GOLD_SCHEMA

    return spark.createDataFrame(rows, GOLD_SCHEMA)


def test_spark_training_matches_kernel(spark, gold_doc, kernel_model):
    from palladian_spark.operators.ner_pipeline import train_ner

    spark_model = train_ner(_gold_df(spark, gold_doc), complete_retraining=True)

    assert spark_model.entity_dictionary.entries == kernel_model.entity_dictionary.entries
    assert (
        spark_model.entity_dictionary.document_counts
        == kernel_model.entity_dictionary.document_counts
    )
    assert spark_model.lower_case_dictionary == kernel_model.lower_case_dictionary
    assert spark_model.left_contexts == kernel_model.left_contexts
    assert (
        spark_model.annotation_dictionary.entries
        == kernel_model.annotation_dictionary.entries
    )
    assert (
        spark_model.annotation_dictionary.document_counts
        == kernel_model.annotation_dictionary.document_counts
    )
    assert (
        spark_model.annotation_dictionary.term_counts
        == kernel_model.annotation_dictionary.term_counts
    )
    assert (
        spark_model.context_dictionary.entries
        == kernel_model.context_dictionary.entries
    )
    assert spark_model.remove_annotations == kernel_model.remove_annotations


def test_spark_tagging_matches_kernel(spark, gold_doc, kernel_model):
    from palladian_spark.operators.ner_pipeline import tag_documents

    text, _ = gold_doc
    test_text = "President John Smith went to Berlin. The World Bank met in Paris."
    expected = kner.tag_text(test_text, kernel_model)

    df = spark.createDataFrame([("t0", test_text)], ["doc_id", "content"])
    got = tag_documents(df, kernel_model).orderBy("start").collect()
    got_annotations = [Annotation(r["start"], r["value"], r["tag"]) for r in got]
    assert got_annotations == sorted(expected, key=lambda a: (a.start, -a.end))


def test_distributed_evaluation_matches_kernel(spark):
    import os

    from palladian_spark.kernels.fileformats import get_annotations_from_xml_text
    from palladian_spark.operators.evaluate import evaluate_documents

    fixture_dir = os.path.join(REFERENCE_ROOT, "src/test/resources/ner/evaluation")
    if not os.path.isdir(fixture_dir):
        pytest.skip("reference fixtures not available")
    with open(os.path.join(fixture_dir, "goldStandardXml.txt"), encoding="utf-8") as f:
        gold = get_annotations_from_xml_text(f.read())
    with open(os.path.join(fixture_dir, "nerResultXml.txt"), encoding="utf-8") as f:
        ner = get_annotations_from_xml_text(f.read())

    kernel_result = kernel_evaluate(gold, ner)

    gold_df = spark.createDataFrame(
        [("d0", a.start, a.value, a.tag) for a in gold],
        ["doc_id", "start", "value", "tag"],
    )
    ner_df = spark.createDataFrame(
        [("d0", a.start, a.value, a.tag) for a in ner],
        ["doc_id", "start", "value", "tag"],
    )
    spark_result = evaluate_documents(gold_df, ner_df)
    assert spark_result.assignments == kernel_result.assignments
    assert spark_result.precision("EXACT_MATCH") == kernel_result.precision("EXACT_MATCH")
    assert spark_result.recall("MUC") == kernel_result.recall("MUC")


def test_equalize_parity_local_vs_distributed(spark, gold_doc):
    """equalize_type_counts (kernel) and equalize_annotations (Window
    twin) must keep the identical annotation subset (trainEnglish
    :390-404; both use deterministic (start, value) order, not the
    reference's unseeded Random)."""
    from palladian_spark.operators.ner_pipeline import equalize_annotations

    text, annotations = gold_doc
    local = kner.equalize_type_counts(annotations)
    counts = {}
    for a in local:
        counts[a.tag] = counts.get(a.tag, 0) + 1
    assert len(set(counts.values())) == 1  # all tags equal

    rows = [("d0", a.start, a.value, a.tag) for a in annotations]
    ann_df = spark.createDataFrame(rows, ["doc_id", "start", "value", "tag"])
    dist = {(r["start"], r["value"], r["tag"])
            for r in equalize_annotations(ann_df).collect()}
    assert dist == {(a.start, a.value, a.tag) for a in local}


def test_seeded_entity_dictionary_tagging(spark, gold_doc, kernel_model):
    """setEntityDictionary (:279-296): a CONCEPT###ENTITY gazetteer with a
    concept order seeds the model; ambiguous values resolve to the
    earliest listed concept, and seeded tagging picks up dictionary
    entities. Local loader and DataFrame twin must agree."""
    import copy

    from palladian_spark.operators.ner_pipeline import (
        set_entity_dictionary_from_df,
    )

    gazetteer = "PER>LOC>ORG\nLOC###Berlin\nPER###Berlin\nLOC###Paris\nORG###World Bank"
    m1 = copy.deepcopy(kernel_model)
    kner.set_entity_dictionary(m1, gazetteer)
    assert m1.concept_likelihood_order == ["PER", "LOC", "ORG"]
    assert m1.entity_categories("Berlin") == {"LOC": 1, "PER": 1}

    rows = [("LOC", "Berlin"), ("PER", "Berlin"), ("LOC", "Paris"), ("ORG", "World Bank")]
    seed_df = spark.createDataFrame(rows, ["concept", "entity"])
    m2 = copy.deepcopy(kernel_model)
    set_entity_dictionary_from_df(m2, seed_df, ["PER", "LOC", "ORG"])
    assert m2.entity_dictionary.entries == m1.entity_dictionary.entries
    assert m2.concept_likelihood_order == m1.concept_likelihood_order

    # the concept order is consumed at tag time: Berlin is ambiguous
    # (PER|LOC) in the seeded dictionary, and PER precedes LOC in the
    # order, so the dictionary switch must prefer PER
    text, _ = gold_doc
    tags1 = {(a.value, a.tag) for a in kner.tag_text(text, m1)}
    tags2 = {(a.value, a.tag) for a in kner.tag_text(text, m2)}
    assert tags1 == tags2
    assert ("Berlin", "PER") in tags1
