"""Snowball Danish, Norwegian and Swedish stemmers (snowballstem.org —
the same published algorithms the reference dispatches to through
org.tartarus.snowball.ext.danishStemmer / norwegianStemmer /
swedishStemmer in extraction/feature/Stemmer.java:56-57,74-75,92-93).

Golden-tested word-for-word against the official implementation shipped
in PostgreSQL 15 (dict_snowball): tests/fixtures/{danish,norwegian,
swedish}_stem_golden.tsv, regenerated by tools/gen_snowball_goldens.py.

All three share the Scandinavian scaffold: a single R1 region whose
start is clamped so at least 3 characters precede it, one big
delete-if-in-R1 suffix among, an s-deletion guarded by a per-language
"valid s-ending" set, a consonant-cluster shortening step, and a small
derivational step.
"""

from __future__ import annotations

from .snowball import longest_suffix, r1_r2

_DA_VOWELS = set("aeiouyæåø")
_NO_VOWELS = set("aeiouyæåø")
_SV_VOWELS = set("aeiouyäåö")


def _r1_min3(w: str, vowels: set) -> int:
    """Standard R1, clamped so the region before it holds at least 3
    characters."""
    return max(r1_r2(w, vowels)[0], min(3, len(w)))


# ---------------------------------------------------------------------------
# Danish
# ---------------------------------------------------------------------------

_DA_STEP1 = [
    "erendes", "erende", "hedens", "ethed", "erede", "heden", "heder",
    "endes", "ernes", "erens", "erets", "ered", "ende", "erne", "eren",
    "erer", "heds", "enes", "eres", "eret", "hed", "ene", "ere", "ens",
    "ers", "ets", "en", "er", "es", "et", "e",
]
_DA_S_ENDING = set("abcdfghjklmnoprtvyzå")


def danish_stem(word: str) -> str:
    w = word
    r1 = _r1_min3(w, _DA_VOWELS)

    # step 1
    m = longest_suffix(w, _DA_STEP1 + ["s"], r1)
    if m == "s":
        if len(w) >= 2 and w[-2] in _DA_S_ENDING:
            w = w[:-1]
    elif m:
        w = w[: len(w) - len(m)]

    def step2(v: str) -> str:
        # consonant-cluster shortening: gd dt gt kt fully inside R1 -> drop
        # one (whole-cluster convention, pinned by the bygd/husgd goldens)
        for end in ("gd", "dt", "gt", "kt"):
            if v.endswith(end) and len(v) - 2 >= r1:
                return v[:-1]
        return v

    w = step2(w)

    # step 3
    if w.endswith("igst") and len(w) - 2 >= r1:
        w = w[:-2]
    m = longest_suffix(w, ["elig", "løst", "lig", "els", "ig"], r1)
    if m == "løst":
        w = w[:-1]
    elif m:
        w = w[: len(w) - len(m)]
        w = step2(w)

    # step 4: undouble — identical consonants at the end, second in R1
    if (
        len(w) >= 2
        and w[-1] == w[-2]
        and w[-1] not in _DA_VOWELS
        and len(w) - 1 >= r1
    ):
        w = w[:-1]
    return w


# ---------------------------------------------------------------------------
# Norwegian
# ---------------------------------------------------------------------------

_NO_STEP1 = [
    "hetenes", "hetene", "hetens", "heter", "heten", "endes",
    "edes", "enes", "ande", "ende", "erte", "ede", "ane", "ene",
    "ens", "ers", "ets", "het", "ast", "ert", "en", "ar", "er", "as",
    "es", "et", "a", "e",
]
_NO_S_ENDING = set("bcdfghjlmnoprtvyz")
_NO_STEP3 = [
    "hetslov", "eleg", "elov", "slov", "elig", "eig", "leg", "lig",
    "els", "lov", "ig",
]


def norwegian_stem(word: str) -> str:
    w = word
    r1 = _r1_min3(w, _NO_VOWELS)

    m = longest_suffix(w, _NO_STEP1 + ["s"], r1)
    if m == "s":
        # valid s-ending: the listed consonants, or k not after a vowel
        if len(w) >= 2 and (
            w[-2] in _NO_S_ENDING
            or (w[-2] == "k" and (len(w) < 3 or w[-3] not in _NO_VOWELS))
        ):
            w = w[:-1]
    elif m in ("erte", "ert"):
        w = w[: len(w) - len(m)] + "er"
    elif m:
        w = w[: len(w) - len(m)]

    # step 2: dt / vt fully inside R1 -> drop t (blidt/husdt probe goldens)
    for end in ("dt", "vt"):
        if w.endswith(end) and len(w) - 2 >= r1:
            w = w[:-1]
            break

    m = longest_suffix(w, _NO_STEP3, r1)
    if m:
        w = w[: len(w) - len(m)]
    return w


# ---------------------------------------------------------------------------
# Swedish
# ---------------------------------------------------------------------------

_SV_STEP1 = [
    "heterna", "hetens", "arnas", "ernas", "ornas", "heter", "heten",
    "anden", "andes", "andet", "arens", "arna", "erna", "orna", "ande",
    "arne", "aste", "aren", "ades", "erns", "ade", "are", "ern", "ens",
    "het", "ast", "ad", "en", "ar", "er", "or", "as", "es", "at", "e",
    "a",
]
_SV_S_ENDING = set("bcdfghjklmnoprtvy")


def swedish_stem(word: str) -> str:
    w = word
    r1 = _r1_min3(w, _SV_VOWELS)

    m = longest_suffix(w, _SV_STEP1 + ["s"], r1)
    if m == "s":
        if len(w) >= 2 and w[-2] in _SV_S_ENDING:
            w = w[:-1]
    elif m:
        w = w[: len(w) - len(m)]

    # step 2: dd gd nn dt gt kt tt fully inside R1 -> drop one
    # (whole-cluster convention: nytt/denna keep theirs, husdd loses one)
    for end in ("dd", "gd", "nn", "dt", "gt", "kt", "tt"):
        if w.endswith(end) and len(w) - 2 >= r1:
            w = w[:-1]
            break

    m = longest_suffix(w, ["fullt", "löst", "lig", "els", "ig"], r1)
    if m == "fullt":
        w = w[:-1]
    elif m == "löst":
        w = w[:-1]
    elif m:
        w = w[: len(w) - len(m)]
    return w
