"""Term-normalization kernels: WordTransformer (English plural <-> singular,
German dictionary-driven morphology), StopWordRemover, and a Porter stemmer.

References: semantics/WordTransformer.java:196-478 (rule order and the
quirky ves-handling preserved exactly; unit goldens from
WordTransformerTest.java), extraction/feature/StopWordRemover.java:26-160
with StringHelper.removeWord/replaceWord boundary semantics
(StringHelper.java:555-622). The stemmer deviates by design: the reference
wraps the snowball-stemmer jar (English Snowball/Porter2), unavailable
here, so this is the classic Porter (1980) algorithm — both are public
specifications; stemming is default-OFF in every reference pipeline
(FeatureSetting), so no golden-tested path depends on the variant.
"""

from __future__ import annotations

import regex

from .irregular_nouns import IRREGULAR_NOUN_PAIRS
from .snowball import longest_suffix, r1_r2
from .stopwords_en import STOPWORDS_EN
from .stopwords_en_small import STOPWORDS_EN_SMALL

# singular -> plural and plural -> singular (last-wins on duplicates, like
# the reference's line-ordered HashMap puts)
SINGULAR_TO_PLURAL = {s: p for p, s in IRREGULAR_NOUN_PAIRS}
PLURAL_TO_SINGULAR = {p: s for p, s in IRREGULAR_NOUN_PAIRS}
_ALL_PLURALS = set(PLURAL_TO_SINGULAR)

_VOWELS = set("aeiouAEIOU")


def _is_vowel(ch: str) -> bool:
    return ch in _VOWELS


def _upper_first(s: str) -> str:
    return s[:1].upper() + s[1:] if s else s


def word_to_singular_english(plural_form: str) -> str:
    """WordTransformer.wordToSingularEnglish (:215-277), rule order exact."""
    if plural_form is None:
        return ""
    plural = plural_form
    singular = plural

    if plural in _ALL_PLURALS:  # containsValue on the irregular map
        singular = PLURAL_TO_SINGULAR[singular]
        if plural[:1].isupper():
            singular = _upper_first(singular)
        return singular

    if len(singular) < 4:
        return singular

    if plural.lower().endswith("ices"):
        return plural[:-4] + "ix"
    if plural.lower().endswith("ies"):
        return plural[:-3] + "y"
    if plural.lower().endswith("ves"):
        letter_before_ves = plural[-3]
        plural = plural[:-3] + "f"
        if not _is_vowel(letter_before_ves) and _is_vowel(plural[-2]):
            plural += "e"
        return plural
    if plural.lower().endswith("es") and len(plural) >= 5:
        letters_before_es = plural[-4:-2]
        letter_before_es = letters_before_es[1]
        if (
            letters_before_es.lower() in ("ss", "ch", "sh")
            or letter_before_es.lower() == "x"
            or _is_vowel(letter_before_es)
        ):
            return plural[:-2]
    if plural.lower().endswith("s"):
        return plural[:-1]
    return plural


def word_to_plural_english(singular: str) -> str:
    """WordTransformer.wordToPluralEnglish(CaseSensitive) (:398-478)."""
    if singular is None:
        return ""
    lowercase_singular = singular.lower()

    prefix = ""
    parts = lowercase_singular.split(" ")
    if len(parts) > 1:
        lowercase_singular = parts[-1]
        prefix = " ".join(parts[:-1]) + " "

    if lowercase_singular in SINGULAR_TO_PLURAL:
        plural_word = SINGULAR_TO_PLURAL[lowercase_singular]
        return prefix + plural_word

    if len(lowercase_singular) < 3:
        return prefix + lowercase_singular

    last = lowercase_singular[-1]
    last_two = lowercase_singular[-2:]

    if last_two in ("ay", "ey", "iy", "oy", "uy"):
        return prefix + lowercase_singular + "s"
    if last == "y":
        return prefix + lowercase_singular[:-1] + "ies"
    if last_two == "is":
        return prefix + lowercase_singular[:-2] + "es"
    if last in ("s", "z", "x") or last_two in ("ch", "sh"):
        return prefix + lowercase_singular + "es"
    return prefix + lowercase_singular + "s"


# ---------------------------------------------------------------------------
# Stop words
# ---------------------------------------------------------------------------
_MULTI_SPACE = regex.compile("[ ]{2,10}")


def _is_word_char(ch: str) -> bool:
    """Letter, digit, or dash punctuation (StringHelper.java:598-606)."""
    return ch.isalpha() or ch.isdigit() or regex.match(r"\p{Pd}", ch) is not None


def replace_word(word: str, replacement: str, text: str) -> str:
    """Case-insensitive whole-word replace (StringHelper.replaceWord
    :577-622): boundaries are non-letter/digit/dash characters."""
    if not word:
        return text
    word = word.lower()
    text_lc = text.lower()
    old_index = 0
    while True:
        index = text_lc.find(word, old_index)
        if index == -1:
            return text
        old_index = index + len(word)
        left = index == 0 or not _is_word_char(text_lc[index - 1])
        end = index + len(word)
        right = end == len(text_lc) or not _is_word_char(text_lc[end])
        if left and right:
            text = text[:index] + replacement + text[old_index:]
            text_lc = text.lower()
            old_index = index + len(replacement)


def remove_word(word: str, text: str) -> str:
    """StringHelper.removeWord (:555-557): whole-word cut + whitespace
    collapse (2-10 spaces -> 1)."""
    return _MULTI_SPACE.sub(" ", replace_word(word, "", text))


class StopWordRemover:
    """StopWordRemover.java:26-160; snowball word lists for 13 languages
    shipped as data modules (kernels/stopwords_*.py), custom lists
    injectable. Romanian has a stemmer but no snowball stop list (none
    is distributed), so it falls to the empty-set default branch."""

    def __init__(self, stopwords=None, small: bool = False, language: str = "en"):
        if stopwords is not None:
            self.stopwords = {w.lower() for w in stopwords}
        elif language == "de":
            from .stopwords_de import STOPWORDS_DE

            # the reference ships stopwords_de_small.txt too, but its small
            # list is a strict subset; one list suffices here
            self.stopwords = set(STOPWORDS_DE)
        elif language in ("fr", "es", "it", "pt", "da", "no", "sv", "nl",
                          "ru", "fi", "hu", "tr"):
            import importlib

            mod = importlib.import_module(
                f".stopwords_{language}", package=__package__
            )
            self.stopwords = set(getattr(mod, f"STOPWORDS_{language.upper()}"))
        elif language == "en":
            self.stopwords = set(STOPWORDS_EN_SMALL if small else STOPWORDS_EN)
        else:
            # StopWordRemover.java:96-99 default branch: empty set for
            # languages without a shipped list
            self.stopwords = set()

    def is_stop_word(self, word: str) -> bool:
        return word.lower() in self.stopwords

    def __call__(self, word: str) -> bool:
        """Predicate semantics: True = KEEP (not a stop word)."""
        return not self.is_stop_word(word)

    def remove_stop_words(self, text: str) -> str:
        for stop_word in self.stopwords:
            text = remove_word(stop_word, text)
        return text


# ---------------------------------------------------------------------------
# Porter stemmer (1980 algorithm, public specification)
# ---------------------------------------------------------------------------
def _porter_is_consonant(word: str, i: int) -> bool:
    ch = word[i]
    if ch in "aeiou":
        return False
    if ch == "y":
        return i == 0 or not _porter_is_consonant(word, i - 1)
    return True


def _porter_measure(stem: str) -> int:
    """Number of VC sequences."""
    forms = "".join(
        "c" if _porter_is_consonant(stem, i) else "v" for i in range(len(stem))
    )
    return forms.count("vc")


def _contains_vowel(stem: str) -> bool:
    return any(not _porter_is_consonant(stem, i) for i in range(len(stem)))


def _ends_double_consonant(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _porter_is_consonant(word, len(word) - 1)
    )


def _cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    return (
        _porter_is_consonant(word, len(word) - 3)
        and not _porter_is_consonant(word, len(word) - 2)
        and _porter_is_consonant(word, len(word) - 1)
        and word[-1] not in "wxy"
    )


_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
]
_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]
_STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement", "ment",
    "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def porter_stem(word: str) -> str:
    """Classic Porter stemmer; lowercase input expected."""
    w = word
    if len(w) <= 2:
        return w
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    flag_1b = False
    if w.endswith("eed"):
        if _porter_measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and _contains_vowel(w[:-2]):
        w = w[:-2]
        flag_1b = True
    elif w.endswith("ing") and _contains_vowel(w[:-3]):
        w = w[:-3]
        flag_1b = True
    if flag_1b:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _ends_double_consonant(w) and w[-1] not in "lsz":
            w = w[:-1]
        elif _porter_measure(w) == 1 and _cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and _contains_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suffix, repl in _STEP2:
        if w.endswith(suffix):
            stem = w[: -len(suffix)]
            if _porter_measure(stem) > 0:
                w = stem + repl
            break
    # step 3
    for suffix, repl in _STEP3:
        if w.endswith(suffix):
            stem = w[: -len(suffix)]
            if _porter_measure(stem) > 0:
                w = stem + repl
            break
    # step 4
    for suffix in _STEP4:
        if w.endswith(suffix):
            stem = w[: -len(suffix)]
            if suffix == "ion" and not (stem and stem[-1] in "st"):
                continue
            if _porter_measure(stem) > 1:
                w = stem
            break
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _porter_measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem
    # step 5b
    if _porter_measure(w) > 1 and _ends_double_consonant(w) and w.endswith("l"):
        w = w[:-1]
    return w


# ---------------------------------------------------------------------------
# German Snowball stemmer (public specification,
# snowballstem.org/algorithms/german/stemmer.html — the same algorithm the
# reference's org.tartarus.snowball.ext.germanStemmer implements; see
# extraction/feature/Stemmer.java:66-67). Validated exhaustively against
# PostgreSQL 15's snowball german_stem dictionary (tests/fixtures/
# german_stem_golden.tsv) — classic variant, no 2021 'syst' exception.
# ---------------------------------------------------------------------------
_DE_VOWELS = set("aeiouyäöü")
_DE_S_ENDING = set("bdfghklmnrt")
_DE_ST_ENDING = set("bdfghklmnt")


def _de_prelude(word: str) -> str:
    """ß -> ss, then mark u/y between vowels as U/Y (consonant markers)."""
    w = list(word.replace("ß", "ss"))
    n = len(w)
    i = 0
    # snowball `repeat goto (v [('u'] test v ...)`: find a vowel, and if
    # the next char is u/y followed by another vowel, mark it; the
    # following vowel is NOT consumed, so it can anchor the next mark
    # (validated against PG snowball: 'aueue...' marks both u's)
    while i < n:
        if w[i] in _DE_VOWELS:
            if i + 2 < n and w[i + 1] in "uy" and w[i + 2] in _DE_VOWELS:
                w[i + 1] = w[i + 1].upper()
                i += 2
                continue
            i += 1
        else:
            i += 1
    return "".join(w)


def german_stem(word: str) -> str:
    """Snowball German stemmer; lowercase input expected (the reference's
    snowball jar is case-preserving, but every caller lowercases first —
    Preprocessor lowercases unless case_sensitive)."""
    w = _de_prelude(word)
    # p2 continues from the UNADJUSTED p1 cursor; the 3-letter floor
    # applies to the r1 variable only (german.sbl mark_regions)
    r1, r2 = r1_r2(w, _DE_VOWELS)
    r1 = max(r1, min(3, len(w)))

    def in_r1(pos: int) -> bool:
        return pos >= r1

    def in_r2(pos: int) -> bool:
        return pos >= r2

    # --- Step 1 (longest of: em ern er | e en es | s) ------------------
    suf = longest_suffix(w, ("ern", "em", "er", "en", "es", "e", "s"))
    if suf:
        pos = len(w) - len(suf)
        if suf in ("em", "ern", "er"):
            if in_r1(pos):
                w = w[:pos]
        elif suf in ("e", "en", "es"):
            if in_r1(pos):
                w = w[:pos]
                if w.endswith("niss"):  # bedürfnissen -> bedürfnis
                    w = w[:-1]
        else:  # 's'
            if in_r1(pos) and pos > 0 and w[pos - 1] in _DE_S_ENDING:
                w = w[:pos]

    # --- Step 2 (longest of: en er est | st) ----------------------------
    suf = longest_suffix(w, ("est", "en", "er", "st"))
    if suf:
        pos = len(w) - len(suf)
        if suf == "st":
            # valid st-ending itself preceded by >= 3 letters
            if in_r1(pos) and pos > 3 and w[pos - 1] in _DE_ST_ENDING:
                w = w[:pos]
        elif in_r1(pos):
            w = w[:pos]

    # --- Step 3 (d-suffixes) --------------------------------------------
    suf = longest_suffix(
        w, ("isch", "lich", "heit", "keit", "end", "ung", "ig", "ik")
    )
    if suf:
        pos = len(w) - len(suf)
        if suf in ("end", "ung"):
            if in_r2(pos):
                w = w[:pos]
                if w.endswith("ig") and not w.endswith("eig") and in_r2(len(w) - 2):
                    w = w[:-2]
        elif suf in ("ig", "ik", "isch"):
            if in_r2(pos) and not (pos > 0 and w[pos - 1] == "e"):
                w = w[:pos]
        elif suf in ("lich", "heit"):
            if in_r2(pos):
                w = w[:pos]
                for inner in ("er", "en"):
                    if w.endswith(inner) and in_r1(len(w) - 2):
                        w = w[: len(w) - 2]
                        break
        else:  # 'keit'
            if in_r2(pos):
                w = w[:pos]
                for inner in ("lich", "ig"):
                    if w.endswith(inner) and in_r2(len(w) - len(inner)):
                        w = w[: len(w) - len(inner)]
                        break

    # --- Postlude: unmark, fold umlauts ---------------------------------
    return (
        w.replace("U", "u")
        .replace("Y", "y")
        .replace("ä", "a")
        .replace("ö", "o")
        .replace("ü", "u")
    )


class Stemmer:
    """API twin of extraction/feature/Stemmer.java:29-110 (callable,
    per-language dispatch like createStemmer). English is the classic
    Porter variant — see module docstring for the Snowball deviation;
    German, French, Spanish, Italian, Portuguese, Romanian, Danish,
    Norwegian, Swedish, Dutch, Russian, Finnish, Hungarian and Turkish
    are the Snowball algorithms (each golden-tested word-for-word
    against the PostgreSQL snowball build — the same upstream
    implementation the reference's tartarus *Stemmer classes compile
    from; Stemmer.java:53-100 dispatches 15 languages, ALL 15 shipped
    here)."""

    def __init__(self, language: str = "en"):
        if language not in ("en", "de", "fr", "es", "it", "pt", "da", "no",
                            "sv", "nl", "ru", "ro", "fi", "hu", "tr"):
            raise ValueError(f"no stemmer for language {language!r}")
        self.language = language

    def __call__(self, word: str) -> str:
        return self.stem(word)

    def stem(self, word: str) -> str:
        lang = self.language
        if lang == "de":
            return german_stem(word.lower())
        if lang in ("fr", "es", "it", "pt"):
            from . import stem_romance

            fn = {
                "fr": stem_romance.french_stem,
                "es": stem_romance.spanish_stem,
                "it": stem_romance.italian_stem,
                "pt": stem_romance.portuguese_stem,
            }[lang]
            return fn(word.lower())
        if lang in ("da", "no", "sv"):
            from . import stem_nordic

            fn = {
                "da": stem_nordic.danish_stem,
                "no": stem_nordic.norwegian_stem,
                "sv": stem_nordic.swedish_stem,
            }[lang]
            return fn(word.lower())
        if lang == "nl":
            from .stem_dutch import dutch_stem

            return dutch_stem(word.lower())
        if lang == "ru":
            from .stem_russian import russian_stem

            return russian_stem(word.lower())
        if lang == "ro":
            from .stem_romanian import romanian_stem

            return romanian_stem(word.lower())
        if lang == "fi":
            from .stem_finnish import finnish_stem

            return finnish_stem(word.lower())
        if lang == "hu":
            from .stem_hungarian import hungarian_stem

            return hungarian_stem(word.lower())
        if lang == "tr":
            from .stem_turkish import turkish_stem

            return turkish_stem(word.lower())
        return porter_stem(word.lower())


# ---------------------------------------------------------------------------
# German morphology (WordTransformer.java:286-360, :493-530): dictionary-
# driven singular<->plural plus longest-suffix compound handling. The
# reference ships a 55k-row wiktionary-derived TSV resource
# (germanSingularPluralNouns.tsv, columns: article, singular, article,
# plural); the data is injected here rather than bundled (2 MB).
# ---------------------------------------------------------------------------
class GermanMorphology:
    def __init__(self, tsv_lines):
        self.singular_to_plural: dict[str, str] = {}
        self.plural_to_singular: dict[str, str] = {}
        for line in tsv_lines:
            parts = line.rstrip("\n").split("\t")
            if len(parts) < 4 or not parts[1]:
                continue
            singular = parts[1].lower()
            plural = parts[3].lower()
            self.singular_to_plural[singular] = plural
            self.plural_to_singular[plural] = singular
        # GERMAN_NOUNS: singulars + plurals, longest first, ties
        # case-insensitive alphabetical (StringLengthComparator.java:23-26)
        self.nouns = sorted(
            list(self.singular_to_plural) + list(self.singular_to_plural.values()),
            key=lambda w: (-len(w), w.lower()),
        )

    @classmethod
    def from_file(cls, path: str) -> "GermanMorphology":
        with open(path, encoding="utf-8") as f:
            return cls(f)

    @classmethod
    def from_triples(cls, triples) -> "GermanMorphology":
        """Build the noun morphology from (subj, pred, obj) edges as the
        WiktionaryParser emits them (kernels/wiktionary.entry_triples /
        operators/relations.wiktionary_triples) — the glue the reference
        gets from parsing the wiktionary dump INTO WordDB and reading
        GERMAN_NOUNS back out of it (semantics/WordDB.java +
        GermanMorphology's germanWordDatabase.txt resource)."""
        lines = (
            f"\t{subj}\t\t{obj}"
            for subj, pred, obj in triples
            if pred == "has-plural"
        )
        return cls(lines)

    def word_to_singular(self, plural_form: str) -> str:
        """wordToSingularGerman(CaseSensitive) (:286-308)."""
        return self._to_singular_cs(plural_form.lower())

    def _to_singular_cs(self, word: str) -> str:
        singular = self.plural_to_singular.get(word)
        if singular is not None:
            return singular
        max_length = len(word) - 1
        for noun in self.nouns:
            if len(noun) < max_length and word.endswith(noun):
                return word.replace(noun, self._to_singular_cs(noun))
        return word

    def word_to_plural(self, singular_form: str) -> str:
        """wordToPluralGerman(CaseSensitive) (:493-523)."""
        word = singular_form.lower()
        plural = self.singular_to_plural.get(word)
        if plural is not None:
            return plural
        for noun in self.nouns:
            if len(noun) < len(word) and word.endswith(noun):
                return word.replace(noun, self.word_to_plural(noun))
        return word

    def split_compound_words(self, word: str) -> list[str]:
        """splitGermanCompoundWords (:317-353): peel known nouns off the
        (singularized) compound right-to-left, longest-first, restarting
        the scan after each match; an unsplittable head stays as-is.
        NOTE: the reference iterates its GERMAN_WORDS list, loaded from a
        germanWords.txt resource ABSENT from the repository — the noun
        vocabulary (same wiktionary data) stands in for it here."""
        words: list[str] = []
        remaining = self._to_singular_cs(word.lower())
        word_length = len(remaining)
        i = 0
        while i < len(self.nouns):
            noun = self.nouns[i]
            if (
                len(noun) > 3
                and (len(noun) <= word_length or words)
                and remaining.endswith(noun)
            ):
                words.insert(0, noun)
                remaining = remaining.replace(noun, "")
                if not remaining:
                    break
                i = 0
                continue
            i += 1
        if remaining:
            words.insert(0, remaining)
        return words
