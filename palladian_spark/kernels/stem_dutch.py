"""Snowball Dutch stemmer (snowballstem.org — the reference dispatches
DUTCH to org.tartarus.snowball.ext.dutchStemmer,
extraction/feature/Stemmer.java:58-59).

Golden-tested word-for-word against the official implementation shipped in
PostgreSQL 15 (dict_snowball): tests/fixtures/dutch_stem_golden.tsv,
regenerated by tools/gen_snowball_goldens.py.
"""

from __future__ import annotations

from .snowball import longest_suffix, r1_r2

_NL_VOWELS = set("aeiouyè")  # marked I/Y are uppercase -> non-vowels

_ACCENT_MAP = str.maketrans("äëïöüáéíóú", "aeiouaeiou")


def _nl_prelude(w: str) -> str:
    w = w.translate(_ACCENT_MAP)
    chars = list(w)
    n = len(chars)
    for i in range(n):
        c = chars[i]
        if c == "y" and (i == 0 or chars[i - 1] in _NL_VOWELS):
            chars[i] = "Y"
        elif (
            c == "i"
            and 0 < i < n - 1
            and chars[i - 1] in _NL_VOWELS
            and chars[i + 1] in _NL_VOWELS
        ):
            chars[i] = "I"
    return "".join(chars)


def _undouble(w: str) -> str:
    for end in ("kk", "dd", "tt"):
        if w.endswith(end):
            return w[:-1]
    return w


def dutch_stem(word: str) -> str:
    w = _nl_prelude(word)
    r1, r2 = r1_r2(w, _NL_VOWELS)
    r1 = max(r1, min(3, len(w)))  # 3-letter floor; R2 keeps the raw R1

    def in_r1(pos: int) -> bool:
        return pos >= r1

    def in_r2(pos: int) -> bool:
        return pos >= r2

    def en_delete(v: str) -> str:
        """Step-1b 'en'/'ene' removal: valid en-ending = non-vowel prefix
        not ending 'gem'; then undouble kk/dd/tt."""
        for suf in ("ene", "en"):
            if v.endswith(suf):
                p = len(v) - len(suf)
                if (
                    in_r1(p)
                    and p > 0
                    and v[p - 1] not in _NL_VOWELS
                    and not v[:p].endswith("gem")
                ):
                    return _undouble(v[:p])
                return v
        return v

    # ---- step 1 ----
    m = longest_suffix(w, ("heden", "ene", "en", "se", "s"))
    if m == "heden":
        p = len(w) - 5
        if in_r1(p):
            w = w[:p] + "heid"
    elif m in ("ene", "en"):
        w = en_delete(w)
    elif m in ("se", "s"):
        p = len(w) - len(m)
        # valid s-ending: a non-vowel other than j
        if in_r1(p) and p > 0 and w[p - 1] not in _NL_VOWELS and w[p - 1] != "j":
            w = w[:p]

    # ---- step 2 ----
    e_found = False
    if w.endswith("e") and in_r1(len(w) - 1) and len(w) >= 2 and w[-2] not in _NL_VOWELS:
        w = _undouble(w[:-1])
        e_found = True

    # ---- step 3a: heid ----
    if w.endswith("heid") and in_r2(len(w) - 4) and (len(w) < 5 or w[-5] != "c"):
        w = w[:-4]
        w = en_delete(w)

    # ---- step 3b: derivational ----
    m = longest_suffix(w, ("lijk", "baar", "end", "ing", "bar", "ig"))
    if m in ("end", "ing"):
        p = len(w) - 3
        if in_r2(p):
            w = w[:p]
            if w.endswith("ig") and in_r2(len(w) - 2) and (len(w) < 3 or w[-3] != "e"):
                w = w[:-2]
            else:
                w = _undouble(w)
    elif m == "ig":
        p = len(w) - 2
        if in_r2(p) and (p == 0 or w[p - 1] != "e"):
            w = w[:p]
    elif m == "lijk":
        p = len(w) - 4
        if in_r2(p):
            w = w[:p]
            # repeat step 2
            if (
                w.endswith("e")
                and in_r1(len(w) - 1)
                and len(w) >= 2
                and w[-2] not in _NL_VOWELS
            ):
                w = _undouble(w[:-1])
    elif m == "baar":
        p = len(w) - 4
        if in_r2(p):
            w = w[:p]
    elif m == "bar":
        p = len(w) - 3
        if in_r2(p) and e_found:
            w = w[:p]

    # ---- step 4: undouble vowel (CVvD, D != I) ----
    if len(w) >= 4:
        c, v1, v2, d = w[-4], w[-3], w[-2], w[-1]
        if (
            c not in _NL_VOWELS
            and v1 == v2
            and v1 in ("a", "e", "o", "u")
            and d not in _NL_VOWELS
            and d != "I"
        ):
            w = w[:-2] + w[-1]

    return w.replace("I", "i").replace("Y", "y")
