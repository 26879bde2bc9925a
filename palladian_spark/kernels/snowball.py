"""Snowball primitives shared by the stemmers (snowballstem.org).

Every stemmer in `stem_*.py` and the German one in `morphology.py` is
built from the same few pieces of the Snowball language: the standard
R1/R2 regions, the Spanish/Italian/Portuguese/Romanian RV region and the
`among` longest-suffix match. Each takes the language's vowel set; the
language-specific rules (French RV exceptions, Russian RV, Hungarian R1
digraphs, the 3-letter R1 floor of Dutch, German and the Nordic
languages) stay with their stemmer.
"""

from __future__ import annotations


def _after_vowel_consonant(w: str, vowels, start: int) -> int:
    """Cursor after the first non-vowel that follows a vowel at or after
    `start`; len(w) if the pattern never occurs."""
    for i in range(start + 1, len(w)):
        if w[i] not in vowels and w[i - 1] in vowels:
            return i + 1
    return len(w)


def r1_r2(w: str, vowels) -> tuple[int, int]:
    """Standard R1 and R2: R1 starts after the first non-vowel following a
    vowel; R2 applies the same rule again inside R1. Callers that clamp R1
    (a 3-letter floor) do so afterwards: R2 continues from the unclamped
    R1 cursor, as the Dutch and German `mark_regions` do."""
    r1 = _after_vowel_consonant(w, vowels, 0)
    return r1, _after_vowel_consonant(w, vowels, r1)


def rv(w: str, vowels) -> int:
    """Spanish/Italian/Portuguese/Romanian RV: if the second letter is a
    non-vowel, after the next vowel; if the first two letters are vowels,
    after the next non-vowel; otherwise (non-vowel, vowel) after the third
    letter. Words under 3 letters have an empty RV."""
    n = len(w)
    if n < 3:
        return n
    if w[1] not in vowels:
        return next((i + 1 for i in range(2, n) if w[i] in vowels), n)
    if w[0] in vowels:
        return next((i + 1 for i in range(2, n) if w[i] not in vowels), n)
    return 3


def longest_suffix(w: str, suffixes, limit: int = 0) -> str | None:
    """The longest of `suffixes` that `w` ends with and that starts at or
    after `limit`; None if there is none.

    Snowball matches suffixes in two ways, and they differ when a longer
    suffix reaches left of a region:

    - `setlimit tomark pX for ([substring] among(...))`: only suffixes
      lying wholly inside the region compete, so a shorter in-region
      suffix wins over a longer one that crosses the boundary. Pass the
      region start as `limit`.
    - `[substring] among(...)` followed by a region condition (`R1`,
      `R2`, ...): the longest suffix matches wherever it starts, and if
      it lies outside the region the whole step fails; no shorter suffix
      is tried (Hungarian 'csak' keeps its k because 'ak' starts before
      R1). Call with the default `limit=0` and test the region after.
    """
    best = None
    for suf in suffixes:
        if w.endswith(suf) and len(w) - len(suf) >= limit:
            if best is None or len(suf) > len(best):
                best = suf
    return best
