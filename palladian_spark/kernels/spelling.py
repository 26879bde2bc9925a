"""Norvig-style spelling correction — faithful twin of the reference's
``semantics/PalladianSpellChecker.java:1-507`` (itself based on the
published algorithm at norvig.com/spell-correct.html, public knowledge).

Semantics replicated exactly, including the reference's quirks:

* dictionary build (``PalladianSpellChecker.java:90-130``): lowercase
  lines, tokenize with ``[\\w\\p{L}-]+`` (ASCII word chars + any Unicode
  letter + hyphen), count words AND adjacent-pair context bigrams
  ``left + "_" + right``;
* ``edits()`` (``:182-240``): deletes, transpositions, a-z + ä/ö/ü
  alternations and insertions, in exactly the Java generation order —
  the order matters because of the next point;
* candidate selection (``:376-393``): Java stores candidates in a
  ``HashMap<Integer, String>`` KEYED BY COUNT, so among candidates with
  the same score the LAST one generated wins (``put`` overwrites), and
  the winner is ``candidates.get(max(keys))``.  We replicate with a
  ``dict[int, str]``;
* context boost (``:385-390``): ``count += 100 * context[left_"_"s]``
  (and right), where left/right are the RAW neighbouring whitespace
  tokens from the text — NOT lowercased, NOT trimmed — while the
  context table was built from lowercased text, a real reference quirk;
* distance-2 fallback (``:422-434``): only when distance-1 found
  nothing, only through intermediates ``len(s) <= 10``, candidate must
  share the first character with the (lowercased) input word, and the
  score at distance 2 carries NO context boost;
* case handling (``:337-345,441-445``): exactly one ``[A-Z]`` anywhere
  in the word (``StringHelper.countUppercaseLetters``, `:885-890`)
  means "uppercase word" -> first letter of the correction is
  uppercased; more than one -> the word is returned LOWERCASED
  unchanged;
* ``auto_correct`` (``:250-307``): split on single ``\\s`` (Java
  ``split`` drops trailing empties only), skip words shorter than 2 /
  longer than 20 chars or matching ``[0-9<>=\\-*'#/+&.]``, re-attach a
  leading/trailing char of Unicode category Po around the corrected,
  ``StringHelper.trim``-med word, join with single spaces;
* ``StringHelper.trim`` twin (``StringHelper.java:962-1032``):
  HTML-unescape then repeatedly strip the reference's literal unwanted
  char list plus space separators (Zs) and paragraph separators (Zp —
  Java compares ``getType`` against the constant 14, which is category
  Zp);
* optional German compound handling (``:395-419``) through
  ``GermanMorphology.split_compound_words`` when a morphology object is
  supplied.
"""

from __future__ import annotations

import html
import re
import unicodedata

# Java: Pattern.compile("[\\w\\p{L}-]+") over the LOWERCASED line.
# Python re has no \p{L}; [^\W\d_] with the Unicode flag is "Unicode
# letter" plus the number characters of categories Nl/No (Ⅻ, ²), which
# \p{L} excludes — _dict_tokens splits those out of each match.
_DICT_TOKEN_RE = re.compile(r"(?:[A-Za-z0-9_\-]|[^\W\d_])+", re.UNICODE)


def _dict_tokens(line: str):
    """Java's [\\w\\p{L}-]+ tokens of `line`, in order."""
    for m in _DICT_TOKEN_RE.finditer(line):
        tok = m.group()
        if tok.isascii():
            yield tok
            continue
        part = []
        for c in tok:
            if unicodedata.category(c) in ("Nl", "No"):
                if part:
                    yield "".join(part)
                part = []
            else:
                part.append(c)
        if part:
            yield "".join(part)


# Java: "[0-9" + Pattern.quote("<>=-*'#/+'&.") + "]"
_NO_CORRECTION_RE = re.compile(r"[0-9<>=\-*'#/+&.]")

_UPPER_RE = re.compile(r"[A-Z]")

_SPLIT_RE = re.compile(r"\s")

# StringHelper.trim's literal unwanted list (StringHelper.java:975-977).
# The two distinct space entries are U+0020 and U+00A0.
_TRIM_UNWANTED = set(
    ",.:;!|?\u00ac \u00a0#-'\"*/\\@<>=\u00b7^_+\u00bb\uffc2\u2022\u201d\u201c\u00b4`\u00af~\u00ae\u2122\u25cb"
)

MAX_WORD_LENGTH = 20
MAX_WORD_LENGTH_DISTANCE_TWO = 10
MIN_WORD_LENGTH = 2
GERMAN_COMPOUND_STOP_COUNT = 50
CONTEXT_BOOST = 100

_EXTRA_LETTERS = "äöü"
_ALPHABET = "abcdefghijklmnopqrstuvwxyz" + _EXTRA_LETTERS


def _upper_first(s: str) -> str:
    """StringHelper.upperCaseFirstLetter (:214-220)."""
    if not s:
        return ""
    return s[:1].upper() + s[1:]


def _count_uppercase(s: str) -> int:
    """StringHelper.countUppercaseLetters (:885-890) — [A-Z] only, NOT
    Unicode uppercase (Ä does not count)."""
    return len(_UPPER_RE.findall(s))


def _is_space_char(ch: str) -> bool:
    # Character.isSpaceChar: Unicode Zs/Zl/Zp
    return unicodedata.category(ch) in ("Zs", "Zl", "Zp")


def string_helper_trim(s: str | None) -> str | None:
    """Twin of StringHelper.trim(String) (StringHelper.java:947-1032).

    Java's loop also strips any char whose ``Character.getType`` equals
    the int value of DIRECTIONALITY_RIGHT_TO_LEFT_EMBEDDING (14), which
    as a TYPE is PARAGRAPH_SEPARATOR — category Zp here."""
    if s is None:
        return None
    string = s.strip()
    if not string:
        return string
    string = html.unescape(string)

    def _unwanted(ch: str) -> bool:
        return (
            ch in _TRIM_UNWANTED
            or unicodedata.category(ch) == "Zp"
            or _is_space_char(ch)
        )

    delete_first = delete_last = True
    while (delete_first or delete_last) and string:
        delete_first = _unwanted(string[0])
        delete_last = _unwanted(string[-1])
        if delete_first:
            string = string[1:]
        if delete_last and string:
            string = string[:-1]
        string = string.strip()
    return string.strip()


def build_dictionary(lines, ignore_diacritics: bool = False):
    """Dictionary + context-bigram build (PalladianSpellChecker.java:90-130).

    Returns (word_counts, context_counts) where context keys are
    ``left + "_" + right`` over ADJACENT tokens within one line."""
    words: dict[str, int] = {}
    context: dict[str, int] = {}
    for line in lines:
        if ignore_diacritics:
            line = "".join(
                c
                for c in unicodedata.normalize("NFD", line)
                if unicodedata.category(c) != "Mn"
            )
        last = None
        for tok in _dict_tokens(line.lower()):
            words[tok] = words.get(tok, 0) + 1
            if last is not None:
                key = last + "_" + tok
                context[key] = context.get(key, 0) + 1
            last = tok
    return words, context


def edits(word: str) -> list[str]:
    """All distance-1 edits in exactly the Java generation order
    (PalladianSpellChecker.java:182-240): deletes, transpositions,
    alternations (a-z, ä, ö, ü per position), insertions (same
    letters).  Empty results are removed (1-char word delete)."""
    n = len(word)
    if n == 0:
        return []
    result: list[str] = []
    for i in range(n):
        result.append(word[:i] + word[i + 1 :])
    for i in range(n - 1):
        result.append(word[:i] + word[i + 1] + word[i] + word[i + 2 :])
    for i in range(n):
        head, tail = word[:i], word[i + 1 :]
        for c in _ALPHABET:
            result.append(head + c + tail)
    for i in range(n + 1):
        head, tail = word[:i], word[i:]
        for c in _ALPHABET:
            result.append(head + c + tail)
    return [r for r in result if r]


class SpellChecker:
    """Decision-procedure twin of PalladianSpellChecker (state = the
    word/context dictionaries plus the manual-mapping tables)."""

    def __init__(
        self,
        words: dict[str, int],
        context: dict[str, int] | None = None,
        german_morphology=None,
        german_compound_support: bool = False,
        max_word_length: int = MAX_WORD_LENGTH,
        max_word_length_distance_two: int = MAX_WORD_LENGTH_DISTANCE_TWO,
        min_word_length: int = MIN_WORD_LENGTH,
        german_compound_stop_count: int = GERMAN_COMPOUND_STOP_COUNT,
    ):
        self.words = words
        self.context = context or {}
        self.german_morphology = german_morphology
        self.german_compound_support = german_compound_support
        self.max_word_length = max_word_length
        self.max_word_length_distance_two = max_word_length_distance_two
        self.min_word_length = min_word_length
        self.german_compound_stop_count = german_compound_stop_count
        self.manual_word_mappings: dict[str, str] = {}
        self.manual_phrase_mappings: dict[str, str] = {}

    @classmethod
    def from_lines(cls, lines, ignore_diacritics: bool = False, **kw):
        words, context = build_dictionary(lines, ignore_diacritics)
        return cls(words, context, **kw)

    def add_manual_mapping(self, source: str, target: str) -> None:
        """addManualMapping (:160-166) — keys lowercased, targets kept."""
        if " " in source:
            self.manual_phrase_mappings[source.lower()] = target
        else:
            self.manual_word_mappings[source.lower()] = target

    # -- correctWord (:337-446) ------------------------------------
    def correct_word(
        self,
        word: str,
        left_context: str | None = None,
        right_context: str | None = None,
        case_sensitive: bool = False,
    ) -> str:
        uppercase = False
        upper_count = 0
        if not case_sensitive:
            upper_count = _count_uppercase(word)
            uppercase = upper_count == 1
            word = word.lower()

        mapped = self.manual_word_mappings.get(word)
        if mapped is not None:
            return _upper_first(mapped) if uppercase else mapped

        if len(word) > self.max_word_length:
            return word
        if not case_sensitive and upper_count > 1:
            return word
        if not word:
            return word
        if word in self.words:
            return _upper_first(word) if uppercase else word

        edit_list = edits(word)
        # HashMap<Integer,String>: keyed by score, last put wins
        candidates: dict[int, str] = {}
        for s in edit_list:
            count = self.words.get(s)
            if count is not None:
                if left_context is not None:
                    count += CONTEXT_BOOST * self.context.get(
                        left_context + "_" + s, 0
                    )
                if right_context is not None:
                    count += CONTEXT_BOOST * self.context.get(
                        s + "_" + right_context, 0
                    )
                candidates[count] = s

        compound_correct = False
        if self.german_compound_support and self.german_morphology is not None:
            if not candidates or max(candidates) < self.german_compound_stop_count:
                compound_correct = True
                for part in self.german_morphology.split_compound_words(word):
                    if len(part) < 2:
                        compound_correct = False
                        break
                    if part not in self.words:
                        key = self.german_morphology._to_singular_cs(part)
                        if key not in self.words:
                            compound_correct = False
                            break

        if not candidates and not compound_correct:
            for s in edit_list:
                if len(s) > self.max_word_length_distance_two:
                    continue
                for w in edits(s):
                    count = self.words.get(w)
                    if count is not None and w[:1] == word[:1] and w and word:
                        candidates[count] = w

        corrected = word
        if candidates and not compound_correct:
            corrected = candidates[max(candidates)]
        if uppercase:
            corrected = _upper_first(corrected)
        return corrected

    # -- autoCorrect (:250-307) ------------------------------------
    def _contains_word(self, word: str, text: str) -> bool:
        """StringHelper.containsWord (:517-519) — case-insensitive
        whole-word containment (borders: non-letter/digit left,
        non-letter/digit/'+' right; StringHelper.java:476-501)."""
        word = word.lower()
        text = text.lower()
        start = 0
        while True:
            idx = text.find(word, start)
            if idx == -1 or not word:
                return False
            left_ok = idx == 0 or not (
                text[idx - 1].isalpha() or text[idx - 1].isdigit()
            )
            end = idx + len(word)
            right_ok = end == len(text) or not (
                text[end].isalpha() or text[end].isdigit() or text[end] == "+"
            )
            if left_ok and right_ok:
                return True
            start = idx + 1

    def auto_correct(self, text: str, case_sensitive: bool = False) -> str:
        for phrase in self.manual_phrase_mappings:
            if self._contains_word(phrase, text):
                # Java: text.replace(s, mapping) with the LOWERCASED
                # key — replaces only verbatim-lowercase occurrences
                text = text.replace(phrase, self.manual_phrase_mappings[phrase])
                break

        tokens = _SPLIT_RE.split(text)
        while tokens and tokens[-1] == "":  # Java split drops trailing empties
            tokens.pop()

        out: list[str] = []
        for i, word in enumerate(tokens):
            left = tokens[i - 1] if i > 0 else None
            right = tokens[i + 1] if i < len(tokens) - 1 else None
            n = len(word)
            if (
                n < self.min_word_length
                or n > self.max_word_length
                or _NO_CORRECTION_RE.search(word)
            ):
                out.append(word)
                out.append(" ")
                continue
            start_ch, end_ch = word[0], word[-1]
            trimmed = string_helper_trim(word)
            if unicodedata.category(start_ch) == "Po":
                out.append(start_ch)
            out.append(
                self.correct_word(trimmed, left, right, case_sensitive=case_sensitive)
            )
            if unicodedata.category(end_ch) == "Po":
                out.append(end_ch)
            out.append(" ")
        return "".join(out).strip()
