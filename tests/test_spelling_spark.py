"""Distributed spelling correction: parity of the explode+join plan
(correct_tokens) and the broadcast-kernel plan (auto_correct_docs)
against the golden-tested kernel, on the same dictionary the compiled
reference was run with."""

import os

import pytest

from palladian_spark.kernels.spelling import SpellChecker
from palladian_spark.operators.spelling import (
    auto_correct_docs,
    bigram_typos,
    corpus_context,
    corpus_dictionary,
    correct_tokens,
    double_deletion_typos,
    spell_edits1,
)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def dict_lines():
    with open(os.path.join(FIX, "spell_dict.txt"), encoding="utf-8") as f:
        return f.read().splitlines()


@pytest.fixture(scope="module")
def kernel(dict_lines):
    return SpellChecker.from_lines(dict_lines)


@pytest.fixture(scope="module")
def dict_docs(spark, dict_lines):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(dict_lines)], "doc_id long, text string"
    )


def test_dictionary_and_context_parity(dict_docs, kernel):
    words = {
        r["word"]: r["count"] for r in corpus_dictionary(dict_docs).collect()
    }
    assert words == kernel.words
    ctx = {
        r["left"] + "_" + r["word"]: r["count"]
        for r in corpus_context(dict_docs).collect()
    }
    assert ctx == kernel.context


def test_dictionary_parity_on_number_characters(spark):
    """Java's [\\w\\p{L}-]+ splits at Unicode Nl/No number characters
    (roman numerals, superscripts, circled digits) — the kernel's
    tokenizer must split there too, not treat them as letters."""
    from palladian_spark.kernels.spelling import build_dictionary

    lines = ["Chapter Ⅻ and x² plus ③rd", "abc²def ⅷ über-all_1 ½cup", "x² plus"]
    docs = spark.createDataFrame(list(enumerate(lines)), "doc_id long, text string")
    words, ctx = build_dictionary(lines)
    assert "x" in words and "x²" not in words
    assert {r["word"]: r["count"] for r in corpus_dictionary(docs).collect()} == words
    assert {
        r["left"] + "_" + r["word"]: r["count"]
        for r in corpus_context(docs).collect()
    } == ctx


def test_edits1_parity(spark):
    from palladian_spark.kernels.spelling import edits

    toks = spark.createDataFrame(
        [("cat",), ("wrd",), ("e-mail",), ("ab",), ("schöner",)], "token string"
    )
    got = {}
    for r in spell_edits1(toks).collect():
        got.setdefault(r["token"], []).append((r["seq"], r["edit"]))
    for tok, pairs in got.items():
        pairs.sort()
        want = edits(tok)
        assert [e for _, e in pairs] == want, tok


def test_correct_tokens_matches_kernel(spark, dict_docs, kernel):
    # probe set = the reference golden probes (covers dist-1, dist-2,
    # ties, context flips, gates) — distributed answers must equal the
    # kernel's (which equals the compiled reference's)
    with open(os.path.join(FIX, "spell_word_golden.tsv"), encoding="utf-8") as f:
        rows = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    # lowercase grain only (case folding is autoCorrect's concern)
    probes = [
        (w, l or None, r or None)
        for w, l, r, _ in rows
        if w == w.lower()
    ]
    toks = spark.createDataFrame(probes, "token string, left string, right string")
    out = correct_tokens(
        toks, corpus_dictionary(dict_docs), corpus_context(dict_docs)
    )
    got = {(r["token"], r["left"], r["right"]): r["corrected"] for r in out.collect()}
    bad = []
    for w, l, r in probes:
        want = kernel.correct_word(w, l, r)
        if got[(w, l, r)] != want:
            bad.append((w, l, r, want, got[(w, l, r)]))
    assert not bad, f"{len(bad)} mismatches: {bad[:10]}"


def test_auto_correct_docs_matches_kernel(spark, dict_docs, dict_lines):
    # corpus-as-dictionary semantics: the operator builds its dictionary
    # from the very documents it corrects, so the parity target is a
    # kernel built on the SAME merged corpus
    with open(os.path.join(FIX, "spell_text_golden.tsv"), encoding="utf-8") as f:
        rows = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    docs = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(rows)], "doc_id long, text string"
    )
    merged = dict_docs.selectExpr("doc_id + 1000000 as doc_id", "text").unionByName(docs)
    got = {
        r["doc_id"]: r["corrected"]
        for r in auto_correct_docs(merged).where("doc_id < 1000000").collect()
    }
    merged_kernel = SpellChecker.from_lines(dict_lines + [t for t, _ in rows])
    bad = []
    for i, (text, _) in enumerate(rows):
        want = merged_kernel.auto_correct(text)
        if got[i] != want:
            bad.append((text, want, got[i]))
    assert not bad, f"{len(bad)} mismatches: {bad[:5]}"


def test_typo_synthesis_deterministic(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    a = {(r["left"], r["word"], r["token"]) for r in bigram_typos(docs, top_k=30).collect()}
    b = {(r["left"], r["word"], r["token"]) for r in bigram_typos(docs, top_k=30).collect()}
    assert a == b and len(a) == 30
    d = {(r["word"], r["token"]) for r in double_deletion_typos(docs).collect()}
    for word, token in d:
        assert len(token) == len(word) - 2


def test_dist2_strategy_parity(spark, dict_docs, kernel):
    # symdelete meet-in-the-middle vs the naive second-level expansion:
    # identical (corrected, score) for every probe — including the
    # distance-2-only probes and their exact Java tie-breaks
    from palladian_spark.operators.spelling import corpus_dictionary

    with open(os.path.join(FIX, "spell_word_golden.tsv"), encoding="utf-8") as f:
        rows = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    probes = [(w, None, None) for w, l, r, _ in rows if w == w.lower()]
    toks = spark.createDataFrame(probes, "token string, left string, right string")
    dic = corpus_dictionary(dict_docs)
    out = {}
    for strat in ("symdelete", "expand"):
        res = correct_tokens(toks, dic, dist2_strategy=strat)
        out[strat] = {
            (r["token"]): (r["corrected"], r["score"]) for r in res.collect()
        }
    assert out["symdelete"] == out["expand"]
    # and both equal the kernel
    for w, _, _ in probes:
        assert out["symdelete"][w][0] == kernel.correct_word(w, None, None), w


def test_dist2_strategy_parity_runs_fuzz(spark):
    # run-heavy fuzz: repeated-char words are where the max-seq-in-run
    # recovery of the symdelete path could diverge from the naive
    # expansion (delete/insert position ambiguity) — scores must match
    # exactly, pinning the Java last-put tie-break
    import random

    rng = random.Random(99)
    alpha = "ab"  # tiny alphabet maximizes runs and count ties
    words = set()
    while len(words) < 60:
        words.add("".join(rng.choice(alpha) for _ in range(rng.randint(2, 6))))
    dic_rows = [(w, rng.randint(1, 5)) for w in sorted(words)]
    dic = spark.createDataFrame(dic_rows, "word string, count long")
    # tokens: distance-2-ish junk over the same alphabet + 'c' noise
    toks = set()
    while len(toks) < 80:
        toks.add("".join(rng.choice("abc") for _ in range(rng.randint(2, 7))))
    tdf = spark.createDataFrame([(t, None, None) for t in sorted(toks)],
                                "token string, left string, right string")
    out = {}
    for strat in ("symdelete", "expand"):
        res = correct_tokens(tdf, dic, dist2_strategy=strat)
        out[strat] = {r["token"]: (r["corrected"], r["score"]) for r in res.collect()}
    assert out["symdelete"] == out["expand"]
