"""Distributed PalladianNer: training as Spark aggregates, tagging as a
broadcast-model pandas UDF.

Architecture (Spark-first, not a port):
- The five dictionary builds (PalladianNer.java:326-346, :191-222, :860-906)
  become groupBy/count aggregates over exploded n-gram rows — partial
  aggregation (map-side combine) is Catalyst-native, so each shuffle moves
  only (term, tag, count) partials, never raw text.
- The trained model is small (term->tag counts); it is collected once and
  broadcast to executors, where the golden-tested kernels run the T1-T14
  inference chain per content blob inside an Arrow-batched UDF. Per-document
  logic (greedy removeNested, sequential sweep) is doc-local by design, so
  inference is embarrassingly parallel — the shape that survives a 1000x
  scale-up.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import ner as ner_kernels
from ..kernels.classifier import (
    ANNOTATION_FEATURE_SETTING,
    CONTEXT_FEATURE_SETTING,
    NO_ENTITY,
    DictionaryModel,
    preprocess,
)
from ..kernels.ner import NerModel, TaggingSettings, get_character_context, get_left_contexts
from ..kernels.tagging import Annotation
from .util import ANNOTATION_STRUCT, annotate

GOLD_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("text", StringType()),
        StructField("annotations", ArrayType(ANNOTATION_STRUCT)),
    ]
)


def _ann_list(rows) -> list[Annotation]:
    if rows is None:
        return []
    # Arrow hands array columns to pandas UDFs as numpy arrays of dicts
    return [Annotation(r["start"], r["value"], r["tag"]) for r in rows]


# ---------------------------------------------------------------------------
# Per-document feature extraction UDFs (each returns small rows; the heavy
# text never shuffles).
# ---------------------------------------------------------------------------
_TERM_TAG = ArrayType(
    StructType([StructField("term", StringType()), StructField("tag", StringType())])
)


def _gram_udf(fs):
    """UDF (text, tag) -> the text's distinct terms under `fs`, first-seen
    and capped at fs.max_terms, each paired with the tag."""

    @F.pandas_udf(_TERM_TAG)
    def grams(texts: pd.Series, tags: pd.Series) -> pd.Series:
        out = []
        for text, tag in zip(texts, tags):
            terms = list(dict.fromkeys(preprocess(text or "", fs)))[: fs.max_terms]
            out.append([(t, tag) for t in terms])
        return pd.Series(out)

    return grams


# padded char-5-grams per entity value: distributed twin of
# buildAnnotationDictionary (PalladianNer.java:335-346)
_annotation_grams = _gram_udf(ANNOTATION_FEATURE_SETTING)
# unpadded char-5-grams of the ±40-char window per annotation: distributed
# twin of buildContextDictionary (PalladianNer.java:894-906)
_context_grams = _gram_udf(CONTEXT_FEATURE_SETTING)


_TOKEN_SIG = ArrayType(
    StructType([StructField("token", StringType()), StructField("sig", StringType())])
)


@F.pandas_udf(_TOKEN_SIG)
def _case_tokens(texts: pd.Series) -> pd.Series:
    """(lowercased token, case-signature head) pairs for tokens not at
    sentence start. Twin of buildCaseDictionary's scan (:191-212)."""
    import regex as _re

    from ..kernels.text import case_signature, iterate_tokens

    out = []
    for text in texts:
        rows = []
        skip = True
        for _, token in iterate_tokens(text or ""):
            if skip:
                skip = False
            elif _re.fullmatch(r"[.?!]", token):
                skip = True
            else:
                trimmed = token.strip()
                if len(trimmed) > 1:
                    sig = case_signature(trimmed)
                    if sig[:1].lower() == "a":
                        rows.append((trimmed.lower(), sig[0]))
        out.append(rows)
    return pd.Series(out)


_CTX_LIST = ArrayType(StringType())


@F.pandas_udf(_CTX_LIST)
def _left_context_tokens(texts: pd.Series, anns: pd.Series) -> pd.Series:
    """1..3-token left contexts per annotation (NerHelper.java:244-278)."""
    out = []
    for text, ann_rows in zip(texts, anns):
        contexts: list[str] = []
        for a in _ann_list(ann_rows):
            contexts.extend(get_left_contexts(a, text or "", 3))
        out.append(contexts)
    return pd.Series(out)


@F.pandas_udf(_CTX_LIST)
def _inside_parts(values: pd.Series) -> pd.Series:
    """Cumulative leading sub-phrases of entity values (PalladianNer.java:
    866-875)."""
    from ..kernels.text import java_split_whitespace

    out = []
    for value in values:
        split = java_split_whitespace(value or "")
        parts = []
        cur = ""
        for i, token in enumerate(split):
            cur = token if i == 0 else cur + " " + token
            parts.append(cur)
        out.append(parts)
    return pd.Series(out)


@F.pandas_udf(StringType())
def _char_context(texts: pd.Series, starts: pd.Series, values: pd.Series) -> pd.Series:
    out = []
    for text, start, value in zip(texts, starts, values):
        a = Annotation(int(start), value or "", "")
        out.append(get_character_context(a, text or ""))
    return pd.Series(out)


# ---------------------------------------------------------------------------
# Model assembly
# ---------------------------------------------------------------------------
def _dictionary_from_rows(rows, doc_counts, term_counts, feature_setting) -> DictionaryModel:
    model = DictionaryModel(feature_setting=feature_setting)
    for r in rows:
        model.entries.setdefault(r["term"], {})[r["tag"]] = r["cnt"]
    model.document_counts = {r["tag"]: r["cnt"] for r in doc_counts}
    model.term_counts = {r["tag"]: r["cnt"] for r in term_counts}
    return model


def _collect_gram_dictionary(exploded: DataFrame, feature_setting) -> DictionaryModel:
    """exploded: (term, tag) one row per (annotation, distinct term)."""
    cached = exploded.persist()
    entries = cached.groupBy("term", "tag").agg(F.count("*").alias("cnt")).collect()
    term_counts = cached.groupBy("tag").agg(F.count("*").alias("cnt")).collect()
    cached.unpersist()
    return entries, term_counts


def set_entity_dictionary_from_df(
    model: NerModel,
    seed_df: DataFrame,
    concept_likelihood_order: list[str] | None = None,
    min_count: int = 1,
) -> NerModel:
    """Distributed twin of PalladianNer.setEntityDictionary (:279-296):
    seed the entity dictionary from a (concept, entity) DataFrame — e.g. a
    parquet gazetteer with millions of rows. One hash aggregate; only the
    final (entity, concept, count) table is collected into the
    broadcastable model. Concept order resolves ambiguous candidates
    (earliest listed concept wins, :522-530)."""
    from ..kernels.classifier import DictionaryModel

    rows = (
        seed_df.groupBy(F.col("entity").alias("term"), F.col("concept").alias("tag"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    dictionary = DictionaryModel()
    for r in sorted(rows, key=lambda r: (r["term"], r["tag"])):
        dictionary.add_document([r["term"]], r["tag"], weight=r["cnt"])
    dictionary.prune_min_count(min_count)
    model.entity_dictionary = dictionary
    model.concept_likelihood_order = concept_likelihood_order
    model._entity_values_ci = None
    return model


def equalize_annotations(ann: DataFrame) -> DataFrame:
    """Distributed twin of the trainEnglish equalizeTypeCounts sampling
    (:390-404): downsample every tag to the rarest tag's count. The
    reference samples with an unseeded Random; this twin takes the first N
    per tag in (start, longer-span-first) order via a window rank — the
    same sort_key = (start, -end) the local kernel uses — so training is
    deterministic. doc_id is only a final tiebreak for cross-document ties
    at equal (start, length), where the local single-list path falls back
    to stable input order instead; within one document the paths agree."""
    from pyspark.sql.window import Window

    min_count = (
        ann.groupBy("tag")
        .agg(F.count("*").alias("cnt"))
        .agg(F.min("cnt").alias("m"))
        .collect()[0]["m"]
    )
    w = Window.partitionBy("tag").orderBy(
        F.col("start"), F.length("value").desc(), F.col("doc_id")
    )
    return (
        ann.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= min_count)
        .drop("_rn")
    )


def train_ner(
    gold_df: DataFrame,
    min_count: int = 1,
    complete_retraining: bool = True,
    equalize: bool = False,
) -> NerModel:
    """Train over (doc_id, text, annotations) rows — distributed twin of
    PalladianNer.trainEnglish (:381-438).

    All five dictionary builds are shuffle-light aggregates; only the final
    (term, tag, count) tables are collected to assemble the broadcastable
    model.
    """
    gold_df = gold_df.persist()

    ann = gold_df.select(
        "doc_id", "text", F.explode("annotations").alias("a")
    ).select(
        "doc_id",
        "text",
        F.col("a.start").alias("start"),
        F.col("a.value").alias("value"),
        F.col("a.tag").alias("tag"),
    )
    if equalize:
        ann = equalize_annotations(ann)
    ann = ann.persist()

    # --- entity dictionary: groupBy(value, tag).count (:326-333)
    ent_rows = (
        ann.groupBy(F.col("value").alias("term"), "tag")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    ann_per_tag = ann.groupBy("tag").agg(F.count("*").alias("cnt")).collect()
    entity_dictionary = DictionaryModel()
    for r in ent_rows:
        entity_dictionary.entries.setdefault(r["term"], {})[r["tag"]] = r["cnt"]
    entity_dictionary.document_counts = {r["tag"]: r["cnt"] for r in ann_per_tag}
    entity_dictionary.term_counts = dict(entity_dictionary.document_counts)
    entity_dictionary.prune_min_count(min_count)

    # --- annotation dictionary: padded 5-gram counts (:335-346)
    ann_grams = ann.select(F.inline(_annotation_grams("value", "tag")))
    entries, term_counts = _collect_gram_dictionary(ann_grams, ANNOTATION_FEATURE_SETTING)
    annotation_dictionary = _dictionary_from_rows(
        entries, ann_per_tag, term_counts, ANNOTATION_FEATURE_SETTING
    )
    annotation_dictionary.prune_min_count(min_count)

    # --- context dictionary: unpadded 5-grams of ±40-char windows (:894-906)
    ctx = ann.withColumn("ctx", _char_context("text", "start", "value"))
    ctx_grams = ctx.select(F.inline(_context_grams("ctx", "tag")))
    entries, term_counts = _collect_gram_dictionary(ctx_grams, CONTEXT_FEATURE_SETTING)
    context_dictionary = _dictionary_from_rows(
        entries, ann_per_tag, term_counts, CONTEXT_FEATURE_SETTING
    )
    context_dictionary.prune_min_count(min_count)

    # --- case dictionary: mean lowercase ratio per token (:191-222)
    case_rows = (
        gold_df.select(F.inline(_case_tokens("text")))
        .groupBy("token")
        .agg(
            F.sum(F.when(F.col("sig") == "a", 1).otherwise(0)).alias("lower_cnt"),
            F.count("*").alias("total"),
        )
        .where(F.col("lower_cnt") / F.col("total") > 0.5)
        .select("token")
        .collect()
    )
    lower_case_dictionary = {r["token"] for r in case_rows}

    # --- left contexts: outside vs inside counts (:860-892)
    outside = (
        gold_df.select(F.explode(_left_context_tokens("text", "annotations")).alias("ctx"))
        .groupBy("ctx")
        .agg(F.count("*").alias("outside"))
    )
    inside = (
        ann.select(F.explode(_inside_parts("value")).alias("ctx"))
        .groupBy("ctx")
        .agg(F.count("*").alias("inside"))
    )
    lc_rows = (
        outside.join(inside, "ctx", "left")
        .fillna(0, subset=["inside"])
        .where(
            (F.col("outside") + F.col("inside") >= min_count)
            & (F.col("inside") / F.col("outside") < 1)
            & (F.col("outside") >= 2)
        )
        .select("ctx")
        .collect()
    )
    from ..kernels.text import starts_uppercase

    left_contexts = {r["ctx"] for r in lc_rows if starts_uppercase(r["ctx"])}

    model = NerModel(
        entity_dictionary=entity_dictionary,
        annotation_dictionary=annotation_dictionary,
        context_dictionary=context_dictionary,
        lower_case_dictionary=lower_case_dictionary,
        left_contexts=left_contexts,
    )

    if complete_retraining:
        # ERROR1 retraining loop (:418-436): tag the training corpus with the
        # stage-1 model, mine spurious values, rebuild with NO_ENTITY
        # negatives. One extra distributed pass over the same DAG.
        model.remove_annotations = set()
        spark = gold_df.sparkSession
        predicted = tag_documents(gold_df.select("doc_id", "text"), model, text_col="text")
        gold_ann = ann.select("doc_id", "start", "value", "tag")
        from .evaluate import evaluate_documents

        eval_result = evaluate_documents(gold_ann, predicted)
        error1 = eval_result.result_annotations["ERROR1"]
        gold_values = {r["value"] for r in ann.select("value").distinct().collect()}
        negatives = []
        for wrong in error1:
            negatives.append(Annotation(0, wrong.value, NO_ENTITY))
            if wrong.value not in gold_values:
                model.remove_annotations.add(wrong.value.lower())
        if negatives:
            neg_df = spark.createDataFrame(
                [(a.value, a.tag) for a in negatives], ["value", "tag"]
            )
            neg_grams = neg_df.select(F.inline(_annotation_grams("value", "tag")))
            for r in neg_grams.groupBy("term", "tag").agg(F.count("*").alias("cnt")).collect():
                cats = model.annotation_dictionary.entries.setdefault(r["term"], {})
                cats[r["tag"]] = cats.get(r["tag"], 0) + r["cnt"]
                tc = model.annotation_dictionary.term_counts
                tc[r["tag"]] = tc.get(r["tag"], 0) + r["cnt"]
            dc = model.annotation_dictionary.document_counts
            dc[NO_ENTITY] = dc.get(NO_ENTITY, 0) + len(negatives)

    ann.unpersist()
    gold_df.unpersist()
    return model


# ---------------------------------------------------------------------------
# Inference
# ---------------------------------------------------------------------------
def tag_documents(
    df: DataFrame,
    model: NerModel,
    text_col: str = "content",
    keep_cols: list[str] | None = None,
    settings: TaggingSettings | None = None,
) -> DataFrame:
    """Run the full T1-T14 chain per row with the broadcast model.

    Returns (keep_cols..., start, end, value, tag). The model ships once per
    executor via a Spark broadcast; all per-document logic stays in one
    Arrow batch pass (no shuffle until the caller aggregates).
    """
    model_bc = df.sparkSession.sparkContext.broadcast(model)
    settings = settings or TaggingSettings()

    def make_rows():
        m = model_bc.value
        return lambda t: [
            (a.start, a.end, a.value, a.tag) for a in ner_kernels.tag_text(t, m, settings)
        ]

    return annotate(df, text_col, keep_cols, ANNOTATION_STRUCT, make_rows)


# ---------------------------------------------------------------------------
# Model persistence: a directory of parquet tables + meta.json — the
# checkpointable stage boundary between training and tagging (SURVEY §2.1,
# replacing PalladianNer.java:155-182 Java serialization).
# ---------------------------------------------------------------------------
_DICT_NAMES = ("entity", "annotation", "context")


def save_model(spark: SparkSession, model: NerModel, path: str) -> None:
    """Write each dictionary as (term, category, cnt) parquet plus priors;
    sets and feature settings go to meta.json. Dictionary tables are the
    potentially-large parts (term x category counts), so they are parquet
    and re-read distributed; the sets are small driver-side data."""
    import dataclasses
    import json
    import os

    os.makedirs(path, exist_ok=True)
    meta: dict = {
        "lower_case_dictionary": sorted(model.lower_case_dictionary),
        "left_contexts": sorted(model.left_contexts),
        "remove_annotations": sorted(model.remove_annotations),
        "concept_likelihood_order": model.concept_likelihood_order,
        "feature_settings": {},
        "has_context_dictionary": model.context_dictionary is not None,
    }
    dicts = {
        "entity": model.entity_dictionary,
        "annotation": model.annotation_dictionary,
        "context": model.context_dictionary,
    }
    for name in _DICT_NAMES:
        dic = dicts[name]
        if dic is None:
            continue
        meta["feature_settings"][name] = dataclasses.asdict(dic.feature_setting)
        entry_rows = [
            (term, cat, int(cnt))
            for term, cats in dic.entries.items()
            for cat, cnt in cats.items()
        ]
        spark.createDataFrame(
            entry_rows, "term string, category string, cnt long"
        ).write.mode("overwrite").parquet(os.path.join(path, f"{name}_entries"))
        prior_rows = [
            ("document", cat, int(cnt)) for cat, cnt in dic.document_counts.items()
        ] + [("term", cat, int(cnt)) for cat, cnt in dic.term_counts.items()]
        spark.createDataFrame(
            prior_rows, "kind string, category string, cnt long"
        ).write.mode("overwrite").parquet(os.path.join(path, f"{name}_priors"))
    with open(os.path.join(path, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)


def load_model(spark: SparkSession, path: str) -> NerModel:
    """Inverse of save_model; the result is broadcast by tag_documents."""
    import json
    import os

    from ..kernels.classifier import DictionaryModel, FeatureSetting

    with open(os.path.join(path, "meta.json"), encoding="utf-8") as f:
        meta = json.load(f)

    def read_dict(name: str) -> DictionaryModel:
        fs = FeatureSetting(**meta["feature_settings"][name])
        dic = DictionaryModel(feature_setting=fs)
        for r in spark.read.parquet(os.path.join(path, f"{name}_entries")).collect():
            dic.entries.setdefault(r["term"], {})[r["category"]] = r["cnt"]
        for r in spark.read.parquet(os.path.join(path, f"{name}_priors")).collect():
            target = dic.document_counts if r["kind"] == "document" else dic.term_counts
            target[r["category"]] = r["cnt"]
        return dic

    model = NerModel(
        entity_dictionary=read_dict("entity"),
        annotation_dictionary=read_dict("annotation"),
        context_dictionary=read_dict("context") if meta["has_context_dictionary"] else None,
        lower_case_dictionary=set(meta["lower_case_dictionary"]),
        left_contexts=set(meta["left_contexts"]),
        remove_annotations=set(meta["remove_annotations"]),
        concept_likelihood_order=meta["concept_likelihood_order"],
    )
    return model
