"""WordTransformer / StopWordRemover / Porter stemmer tests. The word
transformation goldens are ported verbatim from WordTransformerTest.java
(English built-in; German via the reference's wiktionary-derived TSV,
injected — see GermanMorphology)."""

from palladian_spark.kernels.morphology import (
    Stemmer,
    StopWordRemover,
    porter_stem,
    remove_word,
    word_to_plural_english,
    word_to_singular_english,
)


def test_word_to_singular_english():
    """WordTransformerTest.java:48-80 verbatim."""
    cases = {
        "cloves": "clove", "slices": "slice", "elephants": "elephant",
        "cities": "city", "enemies": "enemy", "trays": "tray",
        "studios": "studio", "boxes": "box", "churches": "church",
        "fish": "fish", "ladies": "lady", "thieves": "thief",
        "wives": "wife", "shelves": "shelf", "tomatoes": "tomato",
        "heroes": "hero", "pianos": "piano", "articles": "article",
        "kisses": "kiss", "dishes": "dish", "phases": "phase",
        "vertices": "vertex", "indices": "index", "matrices": "matrix",
        "movies": "movie", "status": "status", "yves": "yf",
    }
    for plural, singular in cases.items():
        assert word_to_singular_english(plural) == singular, plural


def test_word_to_plural_english():
    """WordTransformerTest.java:101-130 subset (plus composites)."""
    cases = {
        "qualcomm msm7627 3": "qualcomm msm7627 3",
        "elephant": "elephants", "city": "cities", "enemy": "enemies",
        "tray": "trays", "studio": "studios", "box": "boxes",
        "church": "churches", "vertex": "vertices", "movie": "movies",
        "status": "status", "computer mouse": "computer mice",
        "computer key": "computer keys", "slice": "slices",
        "addendum": "addenda", "alga": "algae", "alumna": "alumnae",
        "alumnus": "alumni", "analysis": "analyses",
        "appendix": "appendices", "axis": "axes", "bacillus": "bacilli",
        "bacterium": "bacteria", "basis": "bases", "beau": "beaux",
        "bison": "bison",
    }
    for singular, plural in cases.items():
        assert word_to_plural_english(singular) == plural, singular


def test_remove_word_boundaries():
    """StringHelper.replaceWord boundary semantics (:577-622): whole-word,
    case-insensitive, dash counts as a word character."""
    assert remove_word("the", "the cat sat on the mat") == " cat sat on mat"
    assert remove_word("cat", "catalog is not a cat") == "catalog is not a "
    assert remove_word("the", "The-matic stays") == "The-matic stays"


def test_stop_word_remover():
    r = StopWordRemover()
    assert r.is_stop_word("The")
    assert not r.is_stop_word("spark")
    assert r("spark") and not r("the")  # predicate: True = keep
    small = StopWordRemover(small=True)
    assert len(small.stopwords) < len(r.stopwords)
    assert "quick brown fox" in r.remove_stop_words("the quick brown fox")


def test_porter_stemmer():
    """Canonical examples from the published Porter (1980) paper."""
    cases = {
        "caresses": "caress", "ponies": "poni", "ties": "ti",
        "caress": "caress", "cats": "cat", "feed": "feed",
        "agreed": "agre", "plastered": "plaster", "bled": "bled",
        "motoring": "motor", "sing": "sing", "conflated": "conflat",
        "troubled": "troubl", "sized": "size", "hopping": "hop",
        "tanned": "tan", "falling": "fall", "hissing": "hiss",
        "fizzed": "fizz", "failing": "fail", "filing": "file",
        "happy": "happi", "sky": "sky", "relational": "relat",
        "conditional": "condit", "rational": "ration",
        "digitizer": "digit", "operator": "oper",
        "triplicate": "triplic", "formative": "form",
        "formalize": "formal", "electrical": "electr",
        "hopefulness": "hope", "goodness": "good",
        "revival": "reviv", "allowance": "allow", "inference": "infer",
        "adjustable": "adjust", "adoption": "adopt",
        "probate": "probat", "rate": "rate", "cease": "ceas",
        "controller": "control", "roll": "roll",
    }
    s = Stemmer()
    for word, stem in cases.items():
        assert porter_stem(word) == stem, word
        assert s(word) == stem


def test_german_morphology():
    """WordTransformerTest.java German goldens (the subset that depends on
    the shipped germanSingularPluralNouns.tsv, not the absent
    germanWords.txt resource)."""
    import os

    import pytest

    from palladian_spark.sources.reference import REFERENCE_ROOT

    tsv = os.path.join(REFERENCE_ROOT, "src/main/resources/germanSingularPluralNouns.tsv")
    if not os.path.exists(tsv):
        pytest.skip("reference German noun data not available")
    from palladian_spark.kernels.morphology import GermanMorphology

    de = GermanMorphology.from_file(tsv)
    assert de.word_to_singular("Ketten") == "kette"
    assert de.word_to_singular("Halsketten") == "halskette"
    assert de.word_to_singular("Äpfel") == "apfel"
    assert de.word_to_singular("Apfelkuchen") == "apfelkuchen"
    assert de.word_to_singular("eßtische") == "eßtisch"
    assert de.word_to_plural("arten") == "arten"
    assert de.word_to_plural("Kette") == "ketten"
    assert de.word_to_plural("Apfelkuchen") == "apfelkuchen"
    assert de.split_compound_words("Teaktische") == ["teak", "tisch"]
    assert de.split_compound_words("Kunststofftische") == ["kunststoff", "tisch"]


def test_german_snowball_stemmer_goldens():
    """Snowball German stemmer vs 8,570 goldens generated from the official
    Snowball implementation shipped in PostgreSQL 15 (dict_snowball,
    language='german'); tests/fixtures/german_stem_golden.tsv. The
    reference dispatches GERMAN to the same tartarus germanStemmer
    (extraction/feature/Stemmer.java:66-67)."""
    import os

    from palladian_spark.kernels.morphology import german_stem

    path = os.path.join(os.path.dirname(__file__), "fixtures", "german_stem_golden.tsv")
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("#"):
                continue
            word, expected = line.rstrip("\n").split("\t")
            assert german_stem(word) == expected, word
            n += 1
    assert n > 8000


def test_german_stemmer_spot_checks():
    from palladian_spark.kernels.morphology import Stemmer, german_stem

    de = Stemmer(language="de")
    assert de("wärme") == "warm"
    assert de("Versicherungen") == "versicher"
    assert german_stem("bedürfnissen") == "bedurfnis"
    assert german_stem("aufeinanderfolgen") == "aufeinanderfolg"
    assert german_stem("möglichkeit") == "moglich"
    assert german_stem("großartig") == "grossart"  # ß->ss, ig deleted in R2


def test_german_stopwords_and_feature_setting():
    from palladian_spark.kernels.classifier import FeatureSetting, preprocess
    from palladian_spark.kernels.morphology import StopWordRemover

    de = StopWordRemover(language="de")
    assert de.is_stop_word("aber")
    assert de.is_stop_word("während")
    assert not de.is_stop_word("versicherung")
    # unknown language -> empty set (StopWordRemover.java:96-99)
    assert not StopWordRemover(language="xx").is_stop_word("aber")

    fs = FeatureSetting(
        "word", 1, 1, language="de", remove_stopwords=True, stem=True
    )
    terms = preprocess("aber die Versicherungen, nicht die Bedürfnisse", fs)
    assert "aber" not in terms and "nicht" not in terms
    assert "versicher" in terms


def test_snowball_stemmer_goldens_twelve_languages():
    """FR/ES/IT/PT/RO/DA/NO/SV/NL/RU/FI/HU/TR Snowball stemmers vs goldens generated from the
    official implementation in PostgreSQL 15 (dict_snowball; regenerate via
    tools/gen_snowball_goldens.py). The reference dispatches FRENCH/SPANISH
    to the same tartarus frenchStemmer/spanishStemmer
    (extraction/feature/Stemmer.java:68-69,86-87). Word lists cross every
    suffix in the algorithm tables with real stems, plus the full snowball
    stopword lists and hard cases (He/Hi diaeresis marking, qu/gu guards,
    attached pronouns)."""
    import os

    from palladian_spark.kernels.stem_nordic import (
        danish_stem,
        norwegian_stem,
        swedish_stem,
    )
    from palladian_spark.kernels.stem_romance import (
        french_stem,
        italian_stem,
        portuguese_stem,
        spanish_stem,
    )

    from palladian_spark.kernels.stem_dutch import dutch_stem
    from palladian_spark.kernels.stem_finnish import finnish_stem
    from palladian_spark.kernels.stem_hungarian import hungarian_stem
    from palladian_spark.kernels.stem_romanian import romanian_stem
    from palladian_spark.kernels.stem_russian import russian_stem
    from palladian_spark.kernels.stem_turkish import turkish_stem

    for lang, fn, floor in (("french", french_stem, 4900),
                            ("spanish", spanish_stem, 3700),
                            ("italian", italian_stem, 4300),
                            ("portuguese", portuguese_stem, 4600),
                            ("danish", danish_stem, 900),
                            ("norwegian", norwegian_stem, 1200),
                            ("swedish", swedish_stem, 1100),
                            ("dutch", dutch_stem, 900),
                            ("russian", russian_stem, 2300),
                            ("romanian", romanian_stem, 5000),
                            ("finnish", finnish_stem, 4400),
                            ("hungarian", hungarian_stem, 4300),
                            ("turkish", turkish_stem, 12000)):
        path = os.path.join(os.path.dirname(__file__), "fixtures",
                            f"{lang}_stem_golden.tsv")
        n = 0
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.startswith("#"):
                    continue
                word, expected = line.rstrip("\n").split("\t")
                assert fn(word) == expected, (lang, word)
                n += 1
        assert n > floor


def test_all_languages_wired_through_stemmer_and_stopwords():
    from palladian_spark.kernels.classifier import FeatureSetting, preprocess
    from palladian_spark.kernels.morphology import Stemmer, StopWordRemover

    fr = Stemmer(language="fr")
    assert fr("continuations") == "continu"
    assert fr("Majestueusement") == "majestu"
    es = Stemmer(language="es")
    assert es("investigaciones") == "investig"
    assert es("escribiéndole") == "escrib"
    assert StopWordRemover(language="fr").is_stop_word("dans")
    assert StopWordRemover(language="es").is_stop_word("porque")
    # the rest of the 9-language surface, one spot-check each
    assert Stemmer("it")("organizzazione") == "organizz"
    assert Stemmer("pt")("investigação") == "investig"
    assert Stemmer("da")("mulighederne") == "mulighed"
    assert Stemmer("no")("mulighetene") == "mul"
    assert Stemmer("sv")("möjligheterna") == "möj"
    assert Stemmer("nl")("mogelijkheden") == dutch_golden("mogelijkheden")
    assert Stemmer("ru")("государственного") == russian_golden("государственного")
    assert Stemmer("ro")("lucrurile") == _golden("romanian", "lucrurile")
    assert Stemmer("fi")("mahdollisuuksien") == _golden("finnish", "mahdollisuuksien")
    assert Stemmer("hu")("lehetőségeket") == _golden("hungarian", "lehetőségeket")
    assert Stemmer("tr")("kitaplarımızdan") == _golden("turkish", "kitaplarımızdan")
    assert Stemmer("tr")("güzelliği") == "güzellik"   # final-consonant ğ->k
    for lang, word in (("it", "questo"), ("pt", "isso"), ("da", "hvad"),
                       ("no", "hvordan"), ("sv", "vilken"), ("nl", "omdat"), ("fi", "mutta"), ("hu", "azonban"),
                       ("ru", "когда"), ("tr", "belki")):
        assert StopWordRemover(language=lang).is_stop_word(word), lang


def dutch_golden(word):
    return _golden("dutch", word)


def russian_golden(word):
    return _golden("russian", word)


def _golden(lang, word):
    import os

    path = os.path.join(os.path.dirname(__file__), "fixtures",
                        f"{lang}_stem_golden.tsv")
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith(word + "\t"):
                return line.rstrip("\n").split("\t")[1]
    raise AssertionError(f"{word} not in {lang} goldens")
    # classifier path accepts the new languages end-to-end
    fs = FeatureSetting("word", 1, 1, language="fr", remove_stopwords=True,
                        stem=True)
    grams = preprocess("les continuations rapides", fs)
    assert "continu" in grams and "les" not in grams
