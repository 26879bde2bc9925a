"""Snowball Finnish stemmer (snowballstem.org — the reference dispatches
FINNISH to org.tartarus.snowball.ext.finnishStemmer,
extraction/feature/Stemmer.java:62-63).

Golden-tested word-for-word against the official implementation shipped in
PostgreSQL 15 (dict_snowball): tests/fixtures/finnish_stem_golden.tsv,
regenerated by tools/gen_snowball_goldens.py.
"""

from __future__ import annotations

from .snowball import longest_suffix, r1_r2

_FI_VOWELS = set("aeiouyäö")
_FI_LV = ("aa", "ee", "ii", "oo", "uu", "ää", "öö")


_STEP1_PARTICLES = ["kaan", "kään", "kin", "han", "hän", "ko", "kö", "pa", "pä"]
# illative h-forms: six entries only (no hun/hyn — puuhun/syyhyn lose just
# their n), and unlike the rest of step 3 they BLOCK on harmony failure
# (aikahen stays whole; aikahun falls through to the 'n' rule)
_STEP3_H = {"han": "a", "hen": "e", "hin": "i", "hon": "o",
            "hän": "ä", "hön": "ö"}
_STEP3_PLAIN = ["ta", "tä", "ssa", "ssä", "sta", "stä", "lla", "llä",
                "lta", "ltä", "lle", "na", "nä", "ksi", "ine"]


def finnish_stem(word: str) -> str:
    w = word
    r1, r2 = r1_r2(w, _FI_VOWELS)

    # ---- step 1: particle etc. ----
    m = longest_suffix(w, _STEP1_PARTICLES + ["sti"], r1)
    if m == "sti":
        if len(w) - 3 >= r2:
            w = w[:-3]
    elif m:
        p = len(w) - len(m)
        if p > 0 and (w[p - 1] in ("n", "t") or w[p - 1] in _FI_VOWELS):
            w = w[:p]

    # ---- step 2: possessive ----
    m = longest_suffix(w, ["si", "ni", "nsa", "nsä", "mme", "nne", "an",
                           "än", "en"], r1)
    if m:
        p = len(w) - len(m)
        if m == "si":
            if not (p > 0 and w[p - 1] == "k"):
                w = w[:p]
        elif m == "ni":
            w = w[:p]
            if w.endswith("kse"):
                w = w[:-1] + "i"
        elif m in ("nsa", "nsä", "mme", "nne"):
            w = w[:p]
        elif m == "an":
            if any(w[:p].endswith(e) for e in ("ta", "ssa", "sta", "lla",
                                               "lta", "na")):
                w = w[:p]
        elif m == "än":
            if any(w[:p].endswith(e) for e in ("tä", "ssä", "stä", "llä",
                                               "ltä", "nä")):
                w = w[:p]
        elif m == "en":
            if any(w[:p].endswith(e) for e in ("lle", "ine")):
                w = w[:p]

    # ---- step 3: case endings ----
    # Condition-FOLDED matching (unlike the Romance steps): the preceding-
    # context requirements behave as part of the among patterns, so a
    # longer suffix whose context is absent never blocks a shorter one
    # (aikaden loses its n even though 'den' lacks the Vi context).
    def _case_condition(m: str, p: int) -> bool:
        if m in _STEP3_H:
            return p > 0 and w[p - 1] == _STEP3_H[m]
        if m in ("siin", "den", "tten"):
            return p >= 2 and w[p - 1] == "i" and w[p - 2] in _FI_VOWELS
        if m == "seen":
            return p >= 2 and w[p - 2 : p] in _FI_LV
        if m in ("a", "ä"):
            # preceded by consonant-then-vowel
            return p >= 2 and w[p - 1] in _FI_VOWELS and w[p - 2] not in _FI_VOWELS
        if m in ("tta", "ttä"):
            return p > 0 and w[p - 1] == "e"
        return True  # plain list and 'n'

    ended3 = False
    hbest = longest_suffix(w, list(_STEP3_H), r1)
    if hbest:
        p = len(w) - len(hbest)
        if p > 0 and w[p - 1] == _STEP3_H[hbest]:
            w = w[:p]
            ended3 = True
        # harmony mismatch: the h-entry blocks the whole step
    else:
        best = None
        for m in (["siin", "seen", "tten", "den", "tta", "ttä"]
                  + _STEP3_PLAIN + ["a", "ä", "n"]):
            if (
                w.endswith(m)
                and len(w) - len(m) >= r1
                and _case_condition(m, len(w) - len(m))
            ):
                if best is None or len(m) > len(best):
                    best = m
        if best:
            p = len(w) - len(best)
            w = w[:p]
            ended3 = True
            if best == "n" and (w[-2:] in _FI_LV or w.endswith("ie")):
                w = w[:-1]

    # ---- step 4: other endings (R2) ----
    m = longest_suffix(
        w,
        ["impi", "impa", "impä", "immi", "imma", "immä", "mpi", "mpa",
         "mpä", "mmi", "mma", "mmä", "eja", "ejä"],
        r2,
    )
    if m:
        p = len(w) - len(m)
        if m in ("mpi", "mpa", "mpä", "mmi", "mma", "mmä"):
            if not w[:p].endswith("po"):
                w = w[:p]
        else:
            w = w[:p]

    # ---- step 5: plurals ----
    if ended3:
        if w and w[-1] in ("i", "j") and len(w) - 1 >= r1:
            w = w[:-1]
    else:
        if (
            w.endswith("t")
            and len(w) - 1 >= r1
            and len(w) >= 2
            and w[-2] in _FI_VOWELS
        ):
            w = w[:-1]
            m = longest_suffix(w, ["imma", "mma"], r2)
            if m == "imma":
                w = w[:-4]
            elif m == "mma" and not w[: len(w) - 3].endswith("po"):
                w = w[:-3]

    # ---- step 6: tidy ----
    # (a) long vowel in R1 -> drop one
    if len(w) >= 2 and w[-2:] in _FI_LV and len(w) - 1 >= r1:
        w = w[:-1]
    # (b) final consonant (inside R1) + one of a ä e i -> drop the vowel
    # ('aika' keeps its a — the k sits before R1; 'aikaha' loses it)
    if (
        len(w) >= 2
        and w[-1] in ("a", "ä", "e", "i")
        and w[-2] not in _FI_VOWELS
        and len(w) - 2 >= r1
    ):
        w = w[:-1]
    # (c) oj / uj -> drop the j
    if len(w) >= 2 and w[-2:] in ("oj", "uj") and len(w) - 1 >= r1:
        w = w[:-1]
    # (d) jo -> drop the o
    if w.endswith("jo") and len(w) - 1 >= r1:
        w = w[:-1]
    # (e) undouble: final double consonant, possibly followed by vowels
    i = len(w)
    while i > 0 and w[i - 1] in _FI_VOWELS:
        i -= 1
    if i >= 2 and w[i - 1] not in _FI_VOWELS and w[i - 1] == w[i - 2]:
        w = w[: i - 1] + w[i:]
    return w
