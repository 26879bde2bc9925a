"""PalladianNer pipeline kernels: training dictionary builds + the T1-T14
tagging chain, as pure per-document functions.

These are the semantics source-of-truth (golden-tested); the Spark layer in
``operators.ner_pipeline`` runs training as distributed aggregates and
tagging inside a grouped pandas UDF with broadcast dictionaries.

Reference: extraction/entity/tagger/PalladianNer.java (cited per function).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import regex

from .classifier import (
    ANNOTATION_FEATURE_SETTING,
    CONTEXT_FEATURE_SETTING,
    NO_ENTITY,
    WINDOW_SIZE,
    CategoryEqualizationScorer,
    DictionaryModel,
    classify,
    normalize_scores,
    train,
)
from .tagging import Annotation, remove_nested, sort_key, string_tag
from .text import (
    case_signature,
    get_sub_phrases,
    is_completely_uppercase,
    is_punctuation,
    iterate_tokens,
    java_split_whitespace,
    starts_uppercase,
)

# ---------------------------------------------------------------------------
# Date fragments (reference: helper/constants/RegExp.java:25-41, :320-321)
# ---------------------------------------------------------------------------
MONTH_NAME_SHORT_ENG = (
    "[Jj]an|[Ff]eb|[Mm]ar|[Aa]pr|[Mm]ay|[Jj]un|[Jj]ul|[Aa]ug|[Ss]ep|[Ss]ept|[Oo]ct|"
    "[Nn]ov|[Dd]ec|JAN|FEB|MAR|APR|MAY|JUN|JUL|AUG|SEP|SEPT|OCT|NOV|DEC"
)
MONTH_NAME_LONG_ENG = (
    "[Jj]anuary|[Ff]ebruary|[Mm]arch|[Aa]pril|[Mm]ay|[Jj]une|[Jj]uly|[Aa]ugust|"
    "[Ss]eptember|[Oo]ctober|[Nn]ovember|[Dd]ecember|"
    "JANUARY|FEBRUARY|MARCH|APRIL|MAY|JUNE|JULY|AUGUST|SEPTEMBER|OCTOBER|NOVEMBER|DECEMBER"
)
WEEKDAY_NAME_SHORT = "Mon|Tue|Wed|Thu|Fri|Sat|Sun"
WEEKDAY_NAME_LONG = "(?:Mon|Tues|Wednes|Thurs|Fri|Satur|Sun)day"

DATE_FRAGMENTS = (
    MONTH_NAME_SHORT_ENG,
    MONTH_NAME_LONG_ENG,
    WEEKDAY_NAME_SHORT,
    WEEKDAY_NAME_LONG,
)
_FRAGMENT_PATTERNS = [regex.compile(f) for f in DATE_FRAGMENTS]
_BEGIN_PATTERNS = [regex.compile(r"^(?:" + f + r")\.? ") for f in DATE_FRAGMENTS]
_END_PATTERNS = [regex.compile(r" (?:" + f + r")\.?$") for f in DATE_FRAGMENTS]


def is_date_fragment(value: str) -> bool:
    """True if the value consists only of month/weekday words.

    Reference: PalladianNer.isDateFragment (:812-819).
    """
    return any(p.sub(" ", value).strip() == "" for p in _FRAGMENT_PATTERNS)


def remove_date_fragment(annotation: Annotation) -> Annotation | None:
    """Strip leading/trailing date words, fixing the offset; None if unchanged.

    Reference: PalladianNer.removeDateFragment (:828-849); goldens
    PalladianNerTest.java:19-36.
    """
    new_value = annotation.value
    new_offset = annotation.start
    for begin_p, end_p in zip(_BEGIN_PATTERNS, _END_PATTERNS):
        text_length = len(new_value)
        if begin_p.search(new_value):
            new_value = begin_p.sub(" ", new_value).strip()
            new_offset += text_length - len(new_value)
        if end_p.search(new_value):
            new_value = end_p.sub(" ", new_value).strip()
    if new_value == annotation.value:
        return None
    return Annotation(new_offset, new_value, annotation.tag)


# ---------------------------------------------------------------------------
# Context extraction (reference: NerHelper.java:244-307)
# ---------------------------------------------------------------------------
_DIGIT_PATTERN = regex.compile(r"\d")


def get_left_contexts(annotation: Annotation, text: str, size: int) -> list[str]:
    """Cumulative 1..size-token left contexts, digits masked to '§'."""
    contexts: list[str] = []
    if len(text) < annotation.start:
        return contexts
    buf: list[str] = []
    for idx in range(annotation.start - 1, -1, -1):
        ch = text[idx]
        buf.append(ch)
        if ch == " " or idx == 0:
            value = _DIGIT_PATTERN.sub("§", "".join(buf).strip())
            if value:
                contexts.append(value[::-1])
        if len(contexts) == size:
            break
    return contexts


def get_right_contexts(annotation: Annotation, text: str, size: int) -> list[str]:
    """Cumulative 1..size-token right contexts; trailing punctuation dropped."""
    contexts: list[str] = []
    buf: list[str] = []
    for idx in range(annotation.end, len(text)):
        ch = text[idx]
        buf.append(ch)
        if ch == " " or idx == 0:
            value = _DIGIT_PATTERN.sub("§", "".join(buf).strip())
            if value:
                if is_punctuation(value[-1]):
                    value = value[:-1]
                if value:
                    contexts.append(value)
        if len(contexts) == size:
            break
    return contexts


def get_character_context(annotation: Annotation, text: str, size: int = WINDOW_SIZE) -> str:
    """±size-char window joined as 'left__right' (NerHelper.java:300-307)."""
    offset = annotation.start
    length = len(annotation.value)
    left = text[max(0, offset - size) : offset].strip()
    right = text[offset + length : min(len(text), offset + length + size)].strip()
    return left + "__" + right


# ---------------------------------------------------------------------------
# Model
# ---------------------------------------------------------------------------
@dataclass
class NerModel:
    """Counterpart of PalladianNerModel (PalladianNerModel.java:20-44)."""

    entity_dictionary: DictionaryModel = field(default_factory=DictionaryModel)
    annotation_dictionary: DictionaryModel = field(default_factory=DictionaryModel)
    context_dictionary: DictionaryModel | None = None
    lower_case_dictionary: set[str] = field(default_factory=set)
    left_contexts: set[str] = field(default_factory=set)
    remove_annotations: set[str] = field(default_factory=set)
    concept_likelihood_order: list[str] | None = None
    _entity_values_ci: set[str] | None = None

    def entity_dictionary_contains(self, value: str) -> bool:
        """Case-insensitive membership (PalladianNerModel.java:63-72)."""
        if self._entity_values_ci is None:
            self._entity_values_ci = {t.lower() for t in self.entity_dictionary.entries}
        return value.lower() in self._entity_values_ci

    def entity_categories(self, value: str) -> dict[str, int]:
        return self.entity_dictionary.entries.get(value, {})


@dataclass
class TaggingSettings:
    """Defaults for English/Complete (PalladianNerTaggingSettings.java:26-40)."""

    remove_dates: bool = True
    remove_date_fragments: bool = True
    remove_incorrectly_tagged: bool = True
    remove_sentence_start_errors: bool = True
    switch_tag_with_context: bool = True
    switch_tag_with_dictionary: bool = True
    fix_start_errors: bool = True
    unwrap_entities: bool = True
    unwrap_with_context: bool = True
    # T14 augmentation (PalladianNerTaggingSettings.java:22-38, default off)
    tag_urls: bool = False
    tag_dates: bool = False


# ---------------------------------------------------------------------------
# Training aggregates (reference: PalladianNer.trainEnglish :381-438)
# Each of these has a distributed twin in operators/ner_pipeline.py.
# ---------------------------------------------------------------------------
def build_case_dictionary(text: str) -> set[str]:
    """Tokens (not at sentence start) that are >50% lowercase in training.

    Reference: PalladianNer.buildCaseDictionary (:191-222); golden
    PalladianNerTest.java:64-74 (33 entries).
    """
    counts: dict[str, dict[str, int]] = {}
    skip = True
    for _, token in iterate_tokens(text):
        if skip:
            skip = False
        elif regex.fullmatch(r"[.?!]", token):
            skip = True
        else:
            trimmed = token.strip()
            if len(trimmed) > 1:
                sig = case_signature(trimmed)
                if sig[:1].lower() == "a":
                    cats = counts.setdefault(trimmed.lower(), {})
                    cats[sig[0]] = cats.get(sig[0], 0) + 1
    out = set()
    for token, cats in counts.items():
        total = sum(cats.values())
        if total and cats.get("a", 0) / total > 0.5:
            out.add(token)
    return out


def build_entity_dictionary(annotations: list[Annotation], min_count: int = 1) -> DictionaryModel:
    """(entity value, tag) counts (reference: :326-333)."""
    model = DictionaryModel()
    for a in annotations:
        model.add_document([a.value], a.tag)
    model.prune_min_count(min_count)
    return model


def set_entity_dictionary(model: NerModel, dictionary_text: str, min_count: int = 1) -> None:
    """Seed the model from a gazetteer file (PalladianNer.setEntityDictionary
    :279-296): first line = concept importance order separated by '>'
    (e.g. ``per>org>city``), every further line ``CONCEPT###ENTITY``.
    Ambiguous candidates then resolve to the earliest listed concept with
    nonzero probability (:522-530, kernels consumption in _post_process).
    """
    lines = dictionary_text.splitlines()
    if not lines:
        return
    model.concept_likelihood_order = lines[0].split(">")
    dictionary = DictionaryModel()
    for line in lines[1:]:
        parts = line.split("###")
        if len(parts) == 2:
            dictionary.add_document([parts[1]], parts[0])
    dictionary.prune_min_count(min_count)
    model.entity_dictionary = dictionary
    model._entity_values_ci = None  # invalidate the case-insensitive cache


def equalize_type_counts(annotations: list[Annotation]) -> list[Annotation]:
    """Per-tag downsample to the rarest tag's count (trainEnglish
    :390-404). The reference samples RANDOMLY (MathHelper.sample, unseeded
    Random — nondeterministic run to run); this port takes the first N per
    tag in (start, value) order so training is reproducible. The
    distributed twin uses the same ordering (Window row_number)."""
    by_tag: dict[str, list[Annotation]] = {}
    for a in annotations:
        by_tag.setdefault(a.tag, []).append(a)
    min_count = min(len(v) for v in by_tag.values())
    out: list[Annotation] = []
    for tag in by_tag:
        out.extend(sorted(by_tag[tag], key=sort_key)[:min_count])
    return sorted(out, key=sort_key)


def build_annotation_dictionary(
    annotations: list[Annotation], min_count: int = 1
) -> DictionaryModel:
    """Padded char-5-gram dictionary over entity values (reference: :335-346)."""
    model = train(
        [(a.value, a.tag) for a in annotations], ANNOTATION_FEATURE_SETTING, min_count
    )
    return model


def build_context_dictionary(
    text: str, annotations: list[Annotation], min_count: int = 1
) -> DictionaryModel:
    """Unpadded char-5-gram dictionary over ±40-char contexts (ref: :894-906)."""
    instances = [
        (get_character_context(a, text, WINDOW_SIZE), a.tag) for a in annotations
    ]
    return train(instances, CONTEXT_FEATURE_SETTING, min_count)


def build_left_contexts(
    text: str, annotations: list[Annotation], min_count: int = 1
) -> set[str]:
    """1-3-token left contexts occurring more outside than inside entities.

    Reference: PalladianNer.buildLeftContexts (:860-892).
    """
    left_counts: dict[str, int] = {}
    inside_counts: dict[str, int] = {}
    for a in annotations:
        for ctx in get_left_contexts(a, text, 3):
            left_counts[ctx] = left_counts.get(ctx, 0) + 1
        split = java_split_whitespace(a.value)
        part = ""
        for i, token in enumerate(split):
            part = token if i == 0 else part + " " + token
            inside_counts[part] = inside_counts.get(part, 0) + 1
    out = set()
    for ctx, outside in left_counts.items():
        if starts_uppercase(ctx):
            inside = inside_counts.get(ctx, 0)
            if outside + inside >= min_count:
                if inside / outside < 1 and outside >= 2:
                    out.add(ctx)
    return out


# ---------------------------------------------------------------------------
# Tagging pipeline (reference: getAnnotationsInternal :547-565 and the
# pre/post-processing chain :603-626, :493-545)
# ---------------------------------------------------------------------------
def _pick_most_likely(probabilities: dict[str, float]) -> str:
    best_tag, best_p = "", float("-inf")
    for tag, p in probabilities.items():
        if p > best_p:
            best_tag, best_p = tag, p
    return best_tag


def _pre_process(
    annotations: set[Annotation], model: NerModel, settings: TaggingSettings
) -> set[Annotation]:
    """T2-T8 (reference: preProcessAnnotations :603-626, exact order)."""
    anns = annotations
    if settings.remove_incorrectly_tagged and model.remove_annotations:
        # T2 (reference: :764-772)
        anns = {a for a in anns if a.value.lower() not in model.remove_annotations}
    if settings.unwrap_entities:
        anns = _unwrap_entities(anns, model)  # T3 (:774-790)
    if settings.unwrap_with_context and model.left_contexts:
        anns = _unwrap_with_context(anns, model)  # T4 (:695-739)
    if settings.remove_date_fragments:
        # T5 (:670-683)
        to_add, to_remove = set(), set()
        for a in anns:
            r = remove_date_fragment(a)
            if r is not None:
                to_remove.add(a)
                to_add.add(r)
        anns = (anns | to_add) - to_remove
    if settings.fix_start_errors and model.lower_case_dictionary:
        anns = _fix_start_errors(anns, model)  # T6 (:628-668)
    if settings.remove_sentence_start_errors and model.lower_case_dictionary:
        # T7 (:748-762): drop single-token candidates in the case dictionary
        anns = {
            a
            for a in anns
            if not (" " not in a.value and a.value.lower() in model.lower_case_dictionary)
        }
    if settings.remove_dates:
        # T8 (:685-693)
        anns = {a for a in anns if not is_date_fragment(a.value)}
    return anns


def _unwrap_entities(annotations: set[Annotation], model: NerModel) -> set[Annotation]:
    """T3: split ALL-UPPERCASE candidates into known sub-phrases (:774-790,
    :922-944)."""
    to_add, to_remove = set(), set()
    for a in sorted(annotations, key=sort_key):
        if not is_completely_uppercase(a.value):
            continue
        other_values = {o.value.lower() for o in annotations if o != a}
        unwrapped = set()
        value_lower = a.value.lower()
        for part in get_sub_phrases(a.value):
            part_lower = part.lower()
            if part_lower in other_values or model.entity_dictionary_contains(part_lower):
                start = a.start + value_lower.find(part_lower)
                unwrapped.add(Annotation(start, part, ""))
        if unwrapped:
            to_add |= unwrapped
            to_remove.add(a)
    return (annotations - to_remove) | to_add


def _unwrap_with_context(annotations: set[Annotation], model: NerModel) -> set[Annotation]:
    """T4: strip learned left-context prefixes (:695-739)."""
    to_add, to_remove = set(), set()
    for a in sorted(annotations, key=sort_key):
        entity = a.value
        if sum(model.entity_categories(entity).values()) > 0:
            continue
        for left_context in sorted(model.left_contexts):
            index1 = entity.find(left_context + " ")
            index2 = entity.find(" " + left_context + " ")
            length = index = -1
            if index1 == 0:
                length = len(left_context) + 1
                index = index1
            elif index2 > -1:
                length = len(left_context) + 2
                index = index2
            if index != -1:
                start = a.start + index + length
                value = a.value[index + length :]
                to_add.add(Annotation(start, value, a.tag))
                prefix = a.value[: index + length]
                for part in get_sub_phrases(prefix):
                    if model.entity_dictionary_contains(part):
                        prefix_start = a.start + prefix.find(part)
                        to_add.add(Annotation(prefix_start, part, ""))
                to_remove.add(a)
                break
    return (annotations | to_add) - to_remove


def _fix_start_errors(annotations: set[Annotation], model: NerModel) -> set[Annotation]:
    """T6: pop leading case-dictionary tokens (:628-668)."""
    to_add, to_remove = set(), set()
    for a in sorted(annotations, key=sort_key):
        value = a.value
        parts = java_split_whitespace(value)
        if len(parts) == 1:
            continue
        offset_cut = 0
        new_value = value
        for token in parts:
            if model.entity_dictionary_contains(new_value):
                break
            if token.lower() not in model.lower_case_dictionary:
                break
            offset_cut += len(token) + 1
            if offset_cut >= len(value):
                break
            new_value = value[offset_cut:]
        if offset_cut >= len(value):
            to_remove.add(a)
        elif offset_cut > 0:
            to_remove.add(a)
            to_add.add(Annotation(a.start + offset_cut, new_value, ""))
    return (annotations - to_remove) | to_add


def classify_candidates(
    candidates: list[Annotation], model: NerModel
) -> list[tuple[Annotation, dict[str, float]]]:
    """T9: char-5-gram classification; drop if P(NO_ENTITY) >= 0.5 (:446-456)."""
    out = []
    for a in candidates:
        probs = classify(a.value, model.annotation_dictionary)
        if probs.get(NO_ENTITY, 0.0) < 0.5:
            out.append((a, probs))
    return out


def _apply_context_analysis(
    annotation: Annotation,
    probs: dict[str, float],
    text: str,
    model: NerModel,
) -> dict[str, float]:
    """T10: classify the ±40-char window with CategoryEqualizationScorer, sum
    probability maps, renormalize (:792-804)."""
    builder = dict(probs)
    context = get_character_context(annotation, text, WINDOW_SIZE)
    if len(context.strip()) > 2:
        ctx_probs = classify(
            context, model.context_dictionary, CategoryEqualizationScorer()
        )
        for cat, p in ctx_probs.items():
            builder[cat] = builder.get(cat, 0.0) + p
    return normalize_scores(builder)


def _post_process(
    classified: list[tuple[Annotation, dict[str, float]]],
    text: str,
    model: NerModel,
    settings: TaggingSettings,
) -> list[tuple[Annotation, dict[str, float]]]:
    """T10 + T11 (reference: postProcessAnnotations :493-545)."""
    result = classified
    if settings.switch_tag_with_context and model.context_dictionary is not None:
        result = [
            (a, _apply_context_analysis(a, p, text, model)) for a, p in result
        ]
    if settings.switch_tag_with_dictionary:
        switched = []
        for a, p in result:
            cats = model.entity_categories(a.value)
            if cats:
                total = sum(cats.values())
                entries = {c: n / total for c, n in cats.items()}
                if model.concept_likelihood_order:
                    for concept in model.concept_likelihood_order:
                        if entries.get(concept, 0.0) > 0:
                            entries = {concept: 1.0}
                            break
                p = entries
            switched.append((a, p))
        result = switched
    return result


def tag_text(
    text: str,
    model: NerModel,
    settings: TaggingSettings | None = None,
) -> list[Annotation]:
    """Full inference chain for one document (reference: getAnnotations
    :459-473; T14 URL/DATETIME augmentation behind settings.tag_urls /
    settings.tag_dates, defaults false like the reference).

    Returns annotations tagged with the most likely category, nested spans
    removed.
    """
    settings = settings or TaggingSettings()
    candidates = set(string_tag(text))  # T1 (:548-556)
    candidates = _pre_process(candidates, model, settings)
    classified = classify_candidates(sorted(candidates, key=sort_key), model)  # T9
    classified = _post_process(classified, text, model, settings)  # T10-T11
    tagged = [
        Annotation(a.start, a.value, _pick_most_likely(p))
        for a, p in classified
        if _pick_most_likely(p) != NO_ENTITY  # T12 filter (:560)
    ]
    # T14: union URI/DATETIME annotations before removeNested, so entity
    # candidates nested inside a URL or date are suppressed (:461-471)
    if settings.tag_urls:
        from .tagging import url_tag

        tagged.extend(url_tag(text))
    if settings.tag_dates:
        from .dateformats import date_time_tag_full

        tagged.extend(date_time_tag_full(text))
    return remove_nested(tagged)  # T12 removeNested (:471)


def train_english(
    column_text: str,
    min_count: int = 1,
    complete_retraining: bool = True,
    equalize: bool = False,
) -> NerModel:
    """Train on a CoNLL column corpus (reference: trainEnglish :381-438).

    Complete mode runs the tagger on the training text, mines ERROR1
    annotations into NO_ENTITY negatives + a removal blacklist, and rebuilds
    the annotation dictionary (:418-436). ``equalize`` applies the
    per-tag downsample before any dictionary is built (:390-404,
    Builder.equalizeTypeCounts; default off like the reference).
    """
    from .evaluation import ERROR1, evaluate
    from .fileformats import get_annotations_from_column, get_text_from_column

    text = get_text_from_column(column_text)
    file_annotations = get_annotations_from_column(column_text)
    if equalize:
        file_annotations = equalize_type_counts(file_annotations)

    model = NerModel()
    model.lower_case_dictionary = build_case_dictionary(text)
    model.left_contexts = build_left_contexts(text, file_annotations, min_count)
    model.context_dictionary = build_context_dictionary(text, file_annotations, min_count)
    model.entity_dictionary = build_entity_dictionary(file_annotations, min_count)
    model.annotation_dictionary = build_annotation_dictionary(file_annotations, min_count)

    if complete_retraining:
        model.remove_annotations = set()
        predicted = tag_text(text, model)
        result = evaluate(file_annotations, predicted)
        gold_values = {a.value for a in file_annotations}
        extra = list(file_annotations)
        for wrong in result.result_annotations[ERROR1]:
            extra.append(Annotation(wrong.start, wrong.value, NO_ENTITY))
            if wrong.value not in gold_values:
                model.remove_annotations.add(wrong.value.lower())
        model.annotation_dictionary = build_annotation_dictionary(extra, min_count)
    return model
