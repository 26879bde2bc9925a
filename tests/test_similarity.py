"""Goldens from LevenshteinSimilarityTest.java:10-17 and
JaroWinklerDistanceTest.java:12-51 (census pairs)."""

import pytest

from palladian_spark.kernels.similarity import (
    char_ngram_similarity,
    dice,
    jaccard,
    jaro_winkler_similarity,
    levenshtein_similarity,
    overlap,
    token_similarity,
)


def test_levenshtein_goldens():
    assert levenshtein_similarity("Levenshtein", "Lenvinsten") == pytest.approx(0.64, abs=0.01)
    assert levenshtein_similarity("Levenshtein", "Levensthein") == pytest.approx(0.82, abs=0.01)
    assert levenshtein_similarity("Levenshtein", "Levenshten") == pytest.approx(0.91, abs=0.01)
    assert levenshtein_similarity("Levenshtein", "Levenshtein") == 1
    assert levenshtein_similarity("", "") == 1


JW_GOLDENS = [
    ("", "", 1), ("MARHTA", "", 0), ("", "MARHTA", 0), ("MARHTA", "MARHTA", 1),
    ("MARTHA", "MARHTA", 0.961), ("DWAYNE", "DUANE", 0.84), ("DIXON", "DICKSONX", 0.813),
    ("SHACKLEFORD", "SHACKELFORD", 0.982), ("DUNNINGHAM", "CUNNIGHAM", 0.896),
    ("NICHLESON", "NICHULSON", 0.956), ("JONES", "JOHNSON", 0.832),
    ("MASSEY", "MASSIE", 0.933), ("ABROMS", "ABRAMS", 0.922),
    ("JERALDINE", "GERALDINE", 0.926), ("MARHTA", "MARTHA", 0.961),
    ("MICHELLE", "MICHAEL", 0.921), ("JULIES", "JULIUS", 0.933),
    ("TANYA", "TONYA", 0.880), ("SEAN", "SUSAN", 0.805), ("JON", "JOHN", 0.933),
    ("cat", "car", 0.822),
    ("http://movies.yahoo.com/browse/list/q", "http://movies.yahoo.com/browse/list/r", 0.989),
    ("http://movies.yahoo.com/browse/list/r", "http://movies.yahoo.com/browse/list/q", 0.989),
]


@pytest.mark.parametrize("s1,s2,expected", JW_GOLDENS)
def test_jaro_winkler_goldens(s1, s2, expected):
    assert jaro_winkler_similarity(s1, s2) == pytest.approx(expected, abs=0.001)


def _reference_jaro_winkler(s1: str, s2: str) -> float:
    """The flag loops of JaroWinklerSimilarity.java:24-102, line for line."""
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
    s1_flag = [False] * l2
    s2_flag = [False] * l2
    m = 0
    rng = l2 // 2
    for i in range(l1):
        for j in range(max(0, i - rng), min(l2, i + rng)):
            if not s2_flag[j] and s1[i] == s2[j]:
                s2_flag[j] = True
                s1_flag[i] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if s1_flag[i]:
            j = k
            while j < l2:
                if s2_flag[j]:
                    k = j + 1
                    break
                j += 1
            if s1[i] != s2[j]:
                t += 1
    t //= 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3
    l = 0
    while l < min(4, l1) and s1[l] == s2[l]:
        l += 1
    return jaro + l * 0.1 * (1.0 - jaro)


def test_jaro_winkler_equals_reference_loop():
    """Seeded random pairs, repeats and case-folding oddities included
    (ß upper-cases to SS, ſ to S, İ and ı change under upper(), non-BMP
    letters are one code point): the kernel equals the reference loop
    exactly, not approximately."""
    import random

    rng = random.Random(20261019)
    alphabet = "abcABC \tßſİıé\U0001d44e\U0001f600-."
    for _ in range(20_000):
        s1 = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        s2 = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        if rng.random() < 0.3:  # near-duplicates: the pairs canonicalization scores
            s2 = "".join(c for c in s1 if rng.random() > 0.2) + s2[:2]
        assert jaro_winkler_similarity(s1, s2) == _reference_jaro_winkler(s1, s2), (s1, s2)


def test_set_similarities():
    a, b = {"x", "y", "z"}, {"y", "z", "w"}
    assert dice(a, b) == pytest.approx(4 / 6)
    assert jaccard(a, b) == pytest.approx(2 / 4)
    assert overlap(a, b) == pytest.approx(2 / 3)
    assert dice(set(), set()) == 1
    assert jaccard(set(), {"a"}) == 0


def test_char_ngram_similarity_identity():
    assert char_ngram_similarity("Word", "word", 3) == 1
    assert 0 < char_ngram_similarity("word", "ward", 3) < 1


def test_token_similarity():
    assert token_similarity("new york", "New York") == 1
    assert token_similarity("new york city", "new york") == pytest.approx(2 / 3)
