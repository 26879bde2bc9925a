"""Snowball Hungarian stemmer (snowballstem.org — the reference dispatches
HUNGARIAN to org.tartarus.snowball.ext.hungarianStemmer,
extraction/feature/Stemmer.java:70-71).

Golden-tested word-for-word against the official implementation shipped in
PostgreSQL 15 (dict_snowball): tests/fixtures/hungarian_stem_golden.tsv,
regenerated by tools/gen_snowball_goldens.py.
"""

from __future__ import annotations

from .snowball import longest_suffix

_HU_VOWELS = set("aáeéiíoóöőuúüű")
_HU_DIGRAPHS = ("dzs", "cs", "dz", "gy", "ly", "ny", "sz", "ty", "zs")
# doubled consonants incl. doubled digraphs (first letter repeated)
_HU_DOUBLES = (
    "bb", "cc", "ccs", "dd", "ff", "gg", "ggy", "jj", "kk", "ll",
    "lly", "mm", "nn", "nny", "pp", "rr", "ss", "ssz", "tt", "tty",
    "vv", "zz", "zzs",
)


def _hu_r1(w: str) -> int:
    n = len(w)
    if n and w[0] in _HU_VOWELS:
        # region after the first consonant or digraph
        for i in range(1, n):
            if w[i] not in _HU_VOWELS:
                for dg in _HU_DIGRAPHS:
                    if w.startswith(dg, i):
                        return i + len(dg)
                return i + 1
        return n
    for i in range(1, n):
        if w[i] in _HU_VOWELS:
            return i + 1
    return n


def _undouble(w: str) -> str:
    dbl = longest_suffix(w, _HU_DOUBLES)
    return w if dbl is None else w[: len(w) - len(dbl)] + dbl[1:]


def _ends_double(w: str) -> bool:
    return any(w.endswith(d) for d in _HU_DOUBLES)


def _match(w: str, suffixes, r1: int) -> str | None:
    """`among` then the R1 condition: a longer suffix sitting outside R1
    fails the whole step ('csak' keeps its k)."""
    m = longest_suffix(w, suffixes)
    return m if m is not None and len(w) - len(m) >= r1 else None


_CASE = [
    "képpen", "onként", "enként", "anként", "képp", "ként", "ban",
    "ben", "nak", "nek", "val", "vel", "tól", "től", "ról", "ről",
    "ból", "ből", "hoz", "hez", "höz", "nál", "nél", "ért", "kor",
    "ba", "be", "ra", "re", "ig", "at", "et", "ot", "öt", "ul", "ül",
    "vá", "vé", "en", "on", "an", "ön", "n", "t",
]

_SING_OWNER = [
    "ünk", "unk", "juk", "jük", "ánk", "énk", "nk", "uk", "ük", "em",
    "om", "am", "ám", "ém", "od", "ed", "ad", "öd", "ád", "éd", "ja",
    "je", "m", "d", "a", "e", "o", "á", "é",
]

_PLUR_OWNER = [
    "jaitok", "jeitek", "aitok", "eitek", "áitok", "éitek", "jaink",
    "jeink", "aink", "eink", "áink", "éink", "itek", "jaim", "jeim",
    "jaid", "jeid", "jaik", "jeik", "aim", "eim", "áim", "éim", "aid",
    "eid", "áid", "éid", "jai", "jei", "aik", "eik", "áik", "éik",
    "ink", "im", "id", "ai", "ei", "ái", "éi", "ik", "i",
]


def hungarian_stem(word: str) -> str:
    w = word
    r1 = _hu_r1(w)

    def in_r1(pos: int) -> bool:
        return pos >= r1

    # ---- step 1: instrumental (al/el after a double consonant) ----
    m = _match(w, ["al", "el"], r1)
    if m:
        p = len(w) - 2
        if _ends_double(w[:p]):
            w = _undouble(w[:p])

    # ---- step 2: case endings ----
    m = _match(w, _CASE, r1)
    if m:
        w = w[: len(w) - len(m)]
        # un-accent the exposed final á/é — only inside R1 ('lába' keeps
        # its á at position 1, 'munkában' normalizes to munka)
        if w.endswith("á") and len(w) - 1 >= r1:
            w = w[:-1] + "a"
        elif w.endswith("é") and len(w) - 1 >= r1:
            w = w[:-1] + "e"

    # ---- step 3: special cases ----
    m = _match(w, ["ánként", "án", "én"], r1)
    if m == "ánként" or m == "án":
        w = w[: len(w) - len(m)] + "a"
    elif m == "én":
        w = w[:-2] + "e"

    # ---- step 4: other cases ----
    m = _match(w, ["ástul", "éstül", "astul", "estül", "stul", "stül"], r1)
    if m == "ástul":
        w = w[:-5] + "a"
    elif m == "éstül":
        w = w[:-5] + "e"
    elif m:
        w = w[: len(w) - len(m)]

    # ---- step 5: factive (á/é after a double consonant) ----
    if w and w[-1] in ("á", "é") and in_r1(len(w) - 1) and _ends_double(w[:-1]):
        w = _undouble(w[:-1])

    # ---- step 6: owned ----
    m = _match(w, ["oké", "öké", "aké", "eké", "áké", "éké", "ké",
                   "ééi", "éi", "é"], r1)
    if m in ("áké", "ééi"):
        w = w[: len(w) - len(m)] + ("a" if m == "áké" else "e")
    elif m:
        w = w[: len(w) - len(m)]

    # ---- step 7: singular owner ----
    m = _match(w, _SING_OWNER, r1)
    if m in ("á", "ám", "ád", "ánk"):
        w = w[: len(w) - len(m)] + "a"
    elif m in ("é", "ém", "éd", "énk"):
        w = w[: len(w) - len(m)] + "e"
    elif m:
        w = w[: len(w) - len(m)]

    # ---- step 8: plural owner ----
    m = _match(w, _PLUR_OWNER, r1)
    if m:
        p = len(w) - len(m)
        if m.startswith("á"):
            w = w[:p] + "a"
        elif m.startswith("é"):
            w = w[:p] + "e"
        else:
            w = w[:p]

    # ---- step 9: plural ----
    m = _match(w, ["ák", "ék", "ök", "ok", "ek", "ak", "k"], r1)
    if m == "ák":
        w = w[:-2] + "a"
    elif m == "ék":
        w = w[:-2] + "e"
    elif m:
        w = w[: len(w) - len(m)]
    return w
