"""The StringTagger scan runs in the JVM and equals its kernel.

operators/mentions.detect_mentions runs tagging.STRING_TAGGER_REGEX in
java.util.regex; tagging.string_tag runs the same pattern in Python
`regex` and is the oracle. Checked here:
- the pattern: its five possessive loops and its spelled-out `\\s` give
  the same matches as the backtracking form under Python `regex` (seeded
  fuzz), and the two engines read `\\p{Ll}` and the `\\s` class alike on
  every code point, up to the declared Unicode-version differences;
- the scan: rows, values and code-point offsets equal the kernel's on
  fuzz, on hostile rows (long runs that overflowed the backtracking
  pattern's Java stack, marker characters, non-BMP text, U+00A0, empty,
  null) and on the capitalized contract corpora;
- the pipeline: a driver-local, staged extract_triples -> write_triples
  -> verify_lineage run starts no Python worker.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

import pytest
import regex
from pyspark.sql import functions as F

from conftest import SF_DIR
from palladian_spark.kernels import tagging
from palladian_spark.operators.mentions import detect_mentions

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the scale-factor directories beside the configured test data
_SF = {sf: os.path.join(os.path.dirname(SF_DIR), f"sf{sf}") for sf in ("0.001", "0.01", "0.1")}

# (possessive form in STRING_TAGGER_REGEX, the backtracking form it replaced)
_REWRITES = [
    ("{0,10})*+", "{0,10})*"),
    (
        r"[A-Z][A-Za-z\p{Ll}]+( [A-Z][A-Za-z\p{Ll}]+)*+(?=-+? )",
        r"([A-Z][A-Za-z\p{Ll}]+ )*[A-Z][A-Za-z\p{Ll}]+(?=-+? )",
    ),
    (r"[A-Za-z\p{Ll}]+ )++(?:of|de)", r"[A-Za-z\p{Ll}]+ )+(?:of|de)"),
    (r"[A-Za-z\p{Ll}]+)++)", r"[A-Za-z\p{Ll}]+){1,})"),
    ("0-9®]+))?)*+)", "0-9®]+))?)*)"),
    (tagging._WHITESPACE, r"\s"),
]

# 53 tokens: capitals, initials, of/de, dashes, &, apostrophes,
# GmbH/LLC/Inc., camel case, digits, accents, lowercase fill, separators
_TOKENS = [
    "Spark", "Anna", "Berlin", "McDonald", "USA", "IBM", "THURSDAY", "Xi",
    "A.", "J.", "U.S.", "Dr.", "Mr.", "St.",
    "of", "de",
    "-", "--", "Ontario-based", "ex-President", "Real-",
    "&", "D&G", "S&P",
    "O'Sullivan", "L’Arc", "'", "’",
    "GmbH", "LLC", "Inc.", "Corp.", "Co.", "Ave.",
    "iPhone", "eBay",
    "4", "2024", "X5",
    "Émile", "Köln", "é", "Zoë",
    "the", "and", "met", "in",
    " ", "  ", ".", ",", "\u00a0", "\u2003",
]
assert len(_TOKENS) == 53


def _fuzz(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    return [
        "".join(rng.choice(_TOKENS) + rng.choice(["", " ", " ", " "]) for _ in range(rng.randint(1, 14)))
        for _ in range(n)
    ]


def _spans(pattern, text: str) -> list[tuple[int, int]]:
    return [m.span() for m in pattern.finditer(text) if m.group()]


def test_possessive_pattern_matches_the_backtracking_one():
    backtracking = tagging.STRING_TAGGER_REGEX
    for possessive, original in _REWRITES:
        assert backtracking.count(possessive) == 1, possessive
        backtracking = backtracking.replace(possessive, original)
    old = regex.compile(backtracking)
    new = regex.compile(tagging.STRING_TAGGER_REGEX)
    for text in _fuzz(6000, seed=14):
        text = text.replace("\u00a0", " ")
        assert _spans(new, text) == _spans(old, text), text


def _kernel_rows(texts: list[str | None]) -> list[tuple]:
    return sorted(
        (i, a.start, a.end, a.value, a.tag)
        for i, t in enumerate(texts)
        if t is not None
        for a in tagging.string_tag(t)
    )


def _scan_rows(spark, texts: list[str | None]) -> list[tuple]:
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = detect_mentions(docs, text_col="text", keep_cols=["doc_id"])
    assert out.columns == ["doc_id", "start", "end", "value", "tag"]
    return sorted(tuple(r) for r in out.collect())


def test_scan_matches_kernel_on_fuzz(spark):
    texts = _fuzz(5000, seed=15)
    want = _kernel_rows(texts)
    assert len(want) > 5000
    assert _scan_rows(spark, texts) == want


def _names_row(n: int) -> str:
    """n two-word names in a comma list, about 11 chars per name."""
    rng = random.Random(7)

    def word():
        return rng.choice("ABCDEFGHIJKLMNOPRSTW") + "".join(
            rng.choice("aeiouynrst") for _ in range(rng.randint(2, 4))
        )

    return ", ".join(f"{word()} {word()}" for _ in range(n))


_HOSTILE = {
    # java.util.regex recursed per repetition of the backtracking loops
    "spark_run": "Spark " * 5000,
    "names_run": _names_row(20_000),
    "markers": "Ann \u0001Lee\u0002 met Bob\u0002 Ray\u0001 and \u0001\u0002Cy Dee\u0003.",
    "non_bmp": "\U0001d400lice met Zola\U0001d44e and Émile \U0001f600 Hans Müller in Köln Dom",
    "nbsp": "Mayor Bobby\u00a0E. Horton met\u00a0New York\u00a0City",
    # the X-of-Y lookahead reads Unicode whitespace
    "unicode_space": "the National Bank of Scotland\u2003Yes and the Royal Bank of Ireland\x85Now, Bank of Wales\x1cNo",
    "empty": "",
    "null": None,
}


@pytest.mark.parametrize("name", _HOSTILE)
def test_scan_matches_kernel_on_hostile_rows(spark, name):
    texts = [_HOSTILE[name], "Mary Smith moved to Berlin."]
    want = _kernel_rows(texts)
    t0 = time.perf_counter()
    got = _scan_rows(spark, texts)
    secs = time.perf_counter() - t0
    assert got == want
    if name == "names_run":
        assert len(texts[0]) > 200_000 and len(want) > 19_000
        # the window offset step took about 1.6 s here; a step quadratic
        # in the matches of one row took 30 s and more
        assert secs < 20, secs


def test_scan_rows_null_empty_and_no_match(spark):
    """Null, empty and no-match texts give no rows; keep_cols defaults to
    every other column."""
    match = "Mary Smith moved to Berlin with John Smith."
    docs = spark.createDataFrame(
        [(1, None, "a"), (2, "", "b"), (3, "lower case words only, nothing to tag", "c"), (4, match, "d")],
        "doc_id long, text string, note string",
    )
    got = detect_mentions(docs, text_col="text").collect()
    assert {(r["doc_id"], r["note"]) for r in got} == {(4, "d")}
    want = [(a.start, a.end, a.value, a.tag) for a in tagging.string_tag(match)]
    assert sorted((r["start"], r["end"], r["value"], r["tag"]) for r in got) == sorted(want)


@pytest.mark.parametrize("sf", _SF)
def test_scan_matches_kernel_on_contract_corpus(spark, sf):
    from contract.common import _capitalized_corpus

    path = os.path.join(_SF[sf], "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    corpus = _capitalized_corpus(spark.read.parquet(path))
    want = sorted(
        (r["doc_id"], a.start, a.end, a.value, a.tag)
        for r in corpus.select("doc_id", "content").collect()
        if r["content"] is not None
        for a in tagging.string_tag(r["content"])
    )
    got = detect_mentions(corpus, text_col="content", keep_cols=["doc_id"]).collect()
    assert sorted(tuple(r) for r in got) == want


# \p{Ll} code points where JDK 17 (Unicode 13) and the `regex` module's
# newer Unicode tables disagree: lowercase letters added after Unicode 13,
# and U+0295, which Unicode 16 recategorized Ll -> Lo
_LL_DIFFERS = {0x295, 0x1C8A, 0x2C5F, 0xA7C1, 0xA7CD, 0xA7CF, 0xA7D1, 0xA7D3, 0xA7D5,
               0xA7D7, 0xA7D9, 0xA7DB}
for _lo, _hi in [(0x10597, 0x105A1), (0x105A3, 0x105B1), (0x105B3, 0x105B9),
                 (0x105BB, 0x105BC), (0x10D70, 0x10D85), (0x16EBB, 0x16ED3),
                 (0x1DF00, 0x1DF09), (0x1DF0B, 0x1DF1E), (0x1DF25, 0x1DF2A)]:
    _LL_DIFFERS.update(range(_lo, _hi + 1))


# name -> (class, code points where the engines may differ)
_CLASSES = {"whitespace": (tagging._WHITESPACE, set()), "lowercase": (r"\p{Ll}", _LL_DIFFERS)}


@pytest.mark.parametrize("name", _CLASSES)
def test_character_classes_agree_across_engines(spark, name):
    """Every code point but the surrogates, in one string: each engine
    lists the characters the class matches."""
    cls, differs = _CLASSES[name]
    every = "".join(chr(c) for c in range(0x110000) if not 0xD800 <= c < 0xE000)
    python = {ord(m.group()) for m in regex.finditer(cls, every)}
    row = spark.createDataFrame([(every,)], "s string")
    (java,) = row.select(F.regexp_extract_all("s", F.lit(cls), 0)).first()
    java = {ord(c) for c in java}
    assert python ^ java <= differs, sorted(hex(c) for c in python ^ java)
    if name == "whitespace":
        assert python == {ord(m.group()) for m in regex.finditer(r"\s", every)}


def test_driver_local_kg_path_starts_no_python_worker(tmp_path):
    """tools/run_pipeline.py (StageStore extract_triples with code
    triples, write_triples, verify_lineage) with a Python worker
    executable that does not exist: any step that starts a worker fails
    the job."""
    sf_dir = _SF["0.01"]
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    env = dict(os.environ, PYSPARK_PYTHON="/nonexistent/python")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "run_pipeline.py"),
         "--input", sf_dir, "--output", str(tmp_path / "sink"),
         "--checkpoint-dir", str(tmp_path / "store"), "--code-entities"],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["lineage_violations"] == 0
    assert summary["triples"] > 0 and summary["stages"]["mentions"] > 0
