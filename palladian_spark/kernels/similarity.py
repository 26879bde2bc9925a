"""String similarity metrics (canonicalization kernels).

All return values in [0, 1]; variants replicate the reference exactly
(golden-tested with the census pairs etc.).
"""

from __future__ import annotations


def levenshtein_distance(s1: str, s2: str) -> int:
    """Classic DP edit distance (insert/delete/substitute, unit costs)."""
    if s1 == s2:
        return 0
    if not s1:
        return len(s2)
    if not s2:
        return len(s1)
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1, 1):
        cur = [i]
        for j, c2 in enumerate(s2, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (c1 != c2)))
        prev = cur
    return prev[-1]


def levenshtein_similarity(s1: str, s2: str) -> float:
    """1 - dist/max(len); equal or both-empty -> 1.

    Reference: helper/nlp/LevenshteinSimilarity.java:24-37.
    """
    if s1 == s2:
        return 1.0
    max_len = max(len(s1), len(s2))
    if max_len == 0:
        return 1.0
    return 1.0 - levenshtein_distance(s1, s2) / max_len


def jaro_winkler_similarity(s1: str, s2: str) -> float:
    """Exact port of the reference's (slightly nonstandard) Jaro-Winkler.

    Reference: helper/nlp/JaroWinklerSimilarity.java:24-102. Notable
    quirks kept intact: trim+UPPERCASE first; shorter string becomes s1;
    match range = len2/2 with the *upper* bound ``j < i + range`` (not the
    usual i + range + 1); transpositions counted over flagged positions;
    prefix bonus l*0.1*(1-jaro) with l<=4.
    """
    s1 = s1.strip().upper()
    s2 = s2.strip().upper()
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    if l1 > l2:
        s1, s2 = s2, s1
        l1, l2 = l2, l1

    # each s1 char takes the first untaken equal s2 char in its window;
    # transpositions pair the matched chars of both strings in order
    taken = bytearray(l2)
    matched = []
    rng = l2 // 2
    for i, c in enumerate(s1):
        hi = min(l2, i + rng)
        j = s2.find(c, max(0, i - rng), hi)
        while j != -1 and taken[j]:
            j = s2.find(c, j + 1, hi)
        if j != -1:
            taken[j] = 1
            matched.append(c)
    m = len(matched)
    if m == 0:
        return 0.0
    t = sum(a != b for a, b in zip(matched, [c for c, f in zip(s2, taken) if f])) // 2

    jaro = (m / l1 + m / l2 + (m - t) / m) / 3
    l = 0
    while l < min(4, l1) and s1[l] == s2[l]:
        l += 1
    return jaro + l * 0.1 * (1.0 - jaro)


# ---------------------------------------------------------------------------
# Set similarities (reference: helper/math/SetSimilarities.java:20-120)
# ---------------------------------------------------------------------------
def dice(s1: set, s2: set) -> float:
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    inter = len(s1 & s2)
    return 2.0 * inter / (len(s1) + len(s2))


def jaccard(s1: set, s2: set) -> float:
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    inter = len(s1 & s2)
    return inter / (len(s1) + len(s2) - inter)


def overlap(s1: set, s2: set) -> float:
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    return len(s1 & s2) / min(len(s1), len(s2))


def char_ngram_set(text: str, n: int) -> set[str]:
    """#-padded char n-gram set of a (caller-lowercased) string.

    Reference: CharacterNGramSimilarity.createNGrams (:73-86).
    """
    pad = "#" * (n - 1)
    s = pad + text + pad
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def char_ngram_similarity(s1: str, s2: str, n: int = 3, set_sim=dice) -> float:
    """Reference: helper/nlp/CharacterNGramSimilarity.java:50-62."""
    a, b = s1.lower(), s2.lower()
    if a == b:
        return 1.0
    return set_sim(char_ngram_set(a, n), char_ngram_set(b, n))


def token_similarity(s1: str, s2: str, set_sim=jaccard) -> float:
    """Lowercased whitespace-token set similarity (default Jaccard).

    Reference: helper/nlp/TokenSimilarity.java:32-48.
    """
    a, b = s1.lower().strip(), s2.lower().strip()
    if a == b:
        return 1.0
    import regex as _re

    t1 = set(_re.split(r"\s", a))
    t2 = set(_re.split(r"\s", b))
    return set_sim(t1, t2)
