"""Snowball Russian stemmer (snowballstem.org — the reference dispatches
RUSSIAN to org.tartarus.snowball.ext.russianStemmer,
extraction/feature/Stemmer.java:84-85).

Golden-tested word-for-word against the official implementation shipped in
PostgreSQL 15 (dict_snowball): tests/fixtures/russian_stem_golden.tsv,
regenerated by tools/gen_snowball_goldens.py.

All ending removal happens inside the RV limit (suffix start >= rv; the
"preceded by а/я" tests also look only inside RV). Group-1 endings keep
the preceding а/я in the word.
"""

from __future__ import annotations

from .snowball import longest_suffix, r1_r2

_RU_VOWELS = set("аеиоуыэюя")


_PERF_GERUND_1 = ["вшись", "вши", "в"]
_PERF_GERUND_2 = ["ившись", "ывшись", "ивши", "ывши", "ив", "ыв"]
_ADJECTIVE = [
    "ими", "ыми", "его", "ого", "ему", "ому", "ее", "ие", "ые", "ое",
    "ей", "ий", "ый", "ой", "ем", "им", "ым", "ом", "их", "ых", "ую",
    "юю", "ая", "яя", "ою", "ею",
]
_PARTICIPLE_1 = ["ем", "нн", "вш", "ющ", "щ"]
_PARTICIPLE_2 = ["ивш", "ывш", "ующ"]
_VERB_1 = [
    "ете", "йте", "ешь", "нно", "ла", "на", "ли", "ем", "ло", "но",
    "ет", "ют", "ны", "ть", "й", "л", "н",
]
_VERB_2 = [
    "ейте", "уйте", "ила", "ыла", "ена", "ите", "или", "ыли", "ило",
    "ыло", "ено", "ует", "уют", "ены", "ить", "ыть", "ишь", "ей", "уй",
    "ил", "ыл", "им", "ым", "ен", "ят", "ит", "ыт", "ую", "ю",
]
_NOUN = [
    "иями", "ями", "ами", "ией", "иям", "ием", "иях", "ию", "ью", "ия",
    "ья", "ев", "ов", "ие", "ье", "еи", "ии", "ей", "ой", "ий", "ям",
    "ем", "ам", "ом", "ах", "ях", "а", "е", "и", "й", "о", "у", "ы",
    "ь", "ю", "я",
]


def _grouped_delete(w: str, group1, group2, rv: int) -> tuple[str, bool]:
    """One among over both groups, longest wins; group-1 entries require a
    preceding а/я inside RV (which stays in the word)."""
    best = longest_suffix(w, group1 + group2, rv)
    if not best:
        return w, False
    p = len(w) - len(best)
    if best in group1 and best not in group2:
        if p - 1 >= rv and w[p - 1] in ("а", "я"):
            return w[:p], True
        return w, False
    return w[:p], True


def russian_stem(word: str) -> str:
    w = word.replace("ё", "е")
    # RV: the region after the first vowel
    rv = next((i + 1 for i, c in enumerate(w) if c in _RU_VOWELS), len(w))
    r2 = r1_r2(w, _RU_VOWELS)[1]

    # ---- step 1 ----
    w2, done = _grouped_delete(w, _PERF_GERUND_1, _PERF_GERUND_2, rv)
    if done:
        w = w2
    else:
        m = longest_suffix(w, ["ся", "сь"], rv)
        if m:
            w = w[: len(w) - len(m)]
        # adjectival, else verb, else noun — first success stops
        m = longest_suffix(w, _ADJECTIVE, rv)
        if m:
            w = w[: len(w) - len(m)]
            w, _ = _grouped_delete(w, _PARTICIPLE_1, _PARTICIPLE_2, rv)
        else:
            w2, done = _grouped_delete(w, _VERB_1, _VERB_2, rv)
            if done:
                w = w2
            else:
                m = longest_suffix(w, _NOUN, rv)
                if m:
                    w = w[: len(w) - len(m)]

    # ---- step 2: final и ----
    if w.endswith("и") and len(w) - 1 >= rv:
        w = w[:-1]

    # ---- step 3: derivational (R2) ----
    for suf in ("ость", "ост"):
        if w.endswith(suf) and len(w) - len(suf) >= r2:
            w = w[: len(w) - len(suf)]
            break

    # ---- step 4: tidy up ----
    m = longest_suffix(w, ["ейше", "ейш"], rv)
    if m:
        w = w[: len(w) - len(m)]
    if w.endswith("нн") and len(w) - 2 >= rv:
        w = w[:-1]
    elif w.endswith("ь") and len(w) - 1 >= rv:
        w = w[:-1]
    return w
