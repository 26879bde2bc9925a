"""Snowball Turkish stemmer (snowballstem.org — the reference dispatches
TURKISH to org.tartarus.snowball.ext.turkishStemmer,
extraction/feature/Stemmer.java:83-84).

Reconstructed from the published algorithm (Evren Kapusuz Çilden,
"Stemming Turkish Words Using Snowball") and validated word-for-word
against the official implementation shipped in PostgreSQL 15
(dict_snowball): tests/fixtures/turkish_stem_golden.tsv (12,813 goldens),
regenerated by tools/gen_snowball_goldens.py.

Structure: a nominal-verb-suffix pass, then (unless a plural verb form
consumed the word) a noun-suffix pass of ordered suffix families with
per-family chained continuations, then postlude (harmonic-vowel append
for d/g-final stems, final-consonant de-voicing) guarded by the reserved
words 'ad'/'soyad'. Words with fewer than two vowels are never stemmed.

Suffix attachment is validated by "optional letter" markers mirroring
Turkish buffer-consonant phonology: an optional y/n/s consonant is
consumed only when preceded by a vowel; an optional high vowel (U) only
when preceded by a consonant; with no optional letter present the
boundary must still alternate (consonant after vowel / vowel after
consonant). Vowel harmony (a/e after back/front vowels, high vowels
matching backness and rounding) gates most — not all — families; the
per-family flags below are golden-verified.
"""

from __future__ import annotations

VOWELS = "aeıioöuü"
_U = "ıiuü"

# suffix vowel -> allowed preceding stem vowels (standard Turkish harmony)
_HARMONY = {
    "a": "aıou", "e": "eiöü",
    "ı": "aı", "i": "ei", "u": "ou", "ü": "öü",
    "o": "ou", "ö": "öü",
}


def _harmony_ok(w: str, c: int) -> bool:
    """Vowel harmony of the candidate suffix's vowel (the nearest vowel
    left of the cursor) against the rest of the word: passes if ANY
    harmonizing vowel occurs anywhere further left — the check scans
    PAST disharmonic vowels (golden-verified: 'bilgisayarde' strips its
    'de' because an 'i' exists four vowels back, while 'zotde' keeps
    it). Fails with fewer than two vowels."""
    i = c - 1
    while i >= 0 and w[i] not in VOWELS:
        i -= 1
    if i < 0:
        return False
    allowed = _HARMONY[w[i]]
    for j in range(i - 1, -1, -1):
        if w[j] in allowed:
            return True
    return False


def _harmony_at(w: str, c: int) -> bool:
    """Lenient positional harmony for optional-letter consumption: true
    when a harmonizing vowel exists anywhere left of the candidate's own
    vowel OR when no earlier vowel exists at all ('günün' consumes its
    'n' with nothing before 'gü'; 'rojoini' does not, its earlier vowels
    are all disharmonic)."""
    i = c - 1
    while i >= 0 and w[i] not in VOWELS:
        i -= 1
    if i < 0:
        return True
    allowed = _HARMONY[w[i]]
    seen = False
    for j in range(i - 1, -1, -1):
        if w[j] in VOWELS:
            seen = True
            if w[j] in allowed:
                return True
    return not seen


# ---- optional-letter markers (cursor c sits just left of the matched
# suffix body; return the new cursor, or None if attachment is invalid) --

def _opt_y(w: str, c: int) -> int | None:
    if c >= 2 and w[c - 1] == "y" and w[c - 2] in VOWELS:
        return c - 1
    if c >= 2 and w[c - 2] in VOWELS:
        return c
    return None


def _opt_n(w: str, c: int) -> int | None:
    """-(n)U attachment: consume an n preceded by a HARMONIC U vowel
    ('kentini' consumes 'ni'; 'rojoini' and 'cieaeni' keep their n), or
    accept any non-y char preceded by a vowel ('türkü' keeps its ü)."""
    if (
        c >= 2
        and w[c - 1] == "n"
        and w[c - 2] in _U
        and _harmony_at(w, c - 1)
    ):
        return c - 1
    if c >= 2 and w[c - 1] != "y" and w[c - 2] in VOWELS:
        return c
    return None


def _opt_n_loose(w: str, c: int) -> int | None:
    """Genitive -(n)Un attachment: like _opt_n but WITHOUT the inner
    vowel requirement ('zatnın' strips 'ın' after the n-t cluster)."""
    if (
        c >= 2
        and w[c - 1] == "n"
        and w[c - 2] in _U
    ):
        return c - 1
    if c >= 1 and w[c - 1] not in VOWELS and w[c - 1] != "y":
        return c
    if c >= 2 and w[c - 1] in VOWELS and w[c - 2] in VOWELS:
        return c
    return None


def _ends_any(w: str, c: int, suffixes) -> int | None:
    """Longest suffix of w[:c] from the tuple; returns new cursor."""
    best = None
    for s in suffixes:
        if c >= len(s) and w.startswith(s, c - len(s)):
            if best is None or len(s) > len(best):
                best = s
    return c - len(best) if best is not None else None


# ---- suffix families -------------------------------------------------

_YDU = tuple(
    d + v + p
    for d in "dt"
    for v in "ıiuü"
    for p in ("", "m", "n", "k")
)
_YSA = tuple("s" + v + p for v in "ae" for p in ("", "m", "n", "k"))
_YMUS = ("mış", "miş", "muş", "müş")
_SUN = ("sın", "sin", "sun", "sün")
_SUNUZ = ("sınız", "siniz", "sunuz", "sünüz")
_NUZ = ("nız", "niz", "nuz", "nüz")
_YUM = ("ım", "im", "um", "üm")
_YUZ = ("ız", "iz", "uz", "üz")
_DUR = ("dır", "dir", "dur", "dür", "tır", "tir", "tur", "tür")
_CASINA = ("casına", "cesine")
_MUZ = ("mız", "miz", "muz", "müz")
_LAR = ("lar", "ler")
_LARI = ("ları", "leri")
_DA = ("da", "de", "ta", "te")
_DAN = ("dan", "den", "tan", "ten")
_NA = ("na", "ne")
_NCA = ("ca", "ce")
_YLA = ("la", "le")


def _mark(w, c, suffixes, marker=None, harmony=True):
    """Generic mark_* routine: optional harmony gate (checked at the
    pre-match cursor, like the reference), longest-among match, optional
    attachment marker. Returns the new cursor or None."""
    if harmony and not _harmony_ok(w, c):
        return None
    c2 = _ends_any(w, c, suffixes)
    if c2 is None:
        return None
    return marker(w, c2) if marker is not None else c2


def _mark_ymus(w, c):
    return _mark(w, c, _YMUS, _opt_y, harmony=True)


def _mark_ydu(w, c):
    return _mark(w, c, _YDU, _opt_y, harmony=True)


def _mark_ysa(w, c):
    return _mark(w, c, _YSA, _opt_y, harmony=False)


def _mark_yken(w, c):
    return _mark(w, c, ("ken",), _opt_y, harmony=False)


def _mark_sun(w, c):
    return _mark(w, c, _SUN, None, harmony=True)


def _mark_sunuz(w, c):
    return _mark(w, c, _SUNUZ, None, harmony=False)


def _mark_nuz(w, c):
    return _mark(w, c, _NUZ, None, harmony=True)


def _mark_yum(w, c):
    return _mark(w, c, _YUM, _opt_y, harmony=True)


def _mark_yuz(w, c):
    return _mark(w, c, _YUZ, _opt_y, harmony=True)


def _mark_dur(w, c):
    return _mark(w, c, _DUR, None, harmony=True)


def _mark_lar(w, c):
    return _mark(w, c, _LAR, None, harmony=True)


def _person_after_dur(w, c):
    """(sUnUz | lAr | yUm | sUn | yUz | nothing) before a stripped DUr/
    cAsInA, then a REQUIRED ymUş."""
    for m in (_mark_sunuz, _mark_lar, _mark_yum, _mark_sun, _mark_yuz):
        c2 = m(w, c)
        if c2 is not None:
            c3 = _mark_ymus(w, c2)
            if c3 is not None:
                return c3
    return _mark_ymus(w, c)


def stem_nominal_verb_suffixes(w: str) -> tuple[str, bool]:
    """First pass; returns (word, continue_with_noun_suffixes)."""
    c = len(w)
    # g1: -(y)mUş / -(y)DU(+m/n/k) / -(y)sA(+m/n/k) / -(y)ken
    for m in (_mark_ymus, _mark_ydu, _mark_ysa, _mark_yken):
        c2 = m(w, c)
        if c2 is not None:
            return w[:c2], True
    # g2: -cAsInA preceded by optional person suffix and a required -ymUş
    c2 = _mark(w, c, _CASINA, None, harmony=False)
    if c2 is not None:
        c3 = _person_after_dur(w, c2)
        if c3 is not None:
            return w[:c3], True
    # g3: plural -lAr (verb reading): strip, optionally strip a preceding
    # tense suffix, and STOP (noun pass skipped: 'geldiler' -> 'gel')
    c2 = _mark_lar(w, c)
    if c2 is not None:
        w = w[:c2]
        c3 = None
        for m in (_mark_dur, _mark_ydu, _mark_ysa, _mark_ymus):
            c3 = m(w, len(w))
            if c3 is not None:
                w = w[:c3]
                break
        return w, False
    # g4: -nUz with a REQUIRED preceding tense suffix ('zotdunuz')
    c2 = _mark_nuz(w, c)
    if c2 is not None:
        for m in (_mark_ydu, _mark_ysa):
            c3 = m(w, c2)
            if c3 is not None:
                return w[:c3], True
    # g5: person suffixes, then optional -ymUş
    for m in (_mark_sunuz, _mark_yuz, _mark_sun, _mark_yum):
        c2 = m(w, c)
        if c2 is not None:
            w = w[:c2]
            c3 = _mark_ymus(w, len(w))
            if c3 is not None:
                w = w[:c3]
            return w, True
    # g6: -DUr, then optional (person) + required -ymUş ('zotmuştur')
    c2 = _mark_dur(w, c)
    if c2 is not None:
        w = w[:c2]
        c3 = _person_after_dur(w, len(w))
        if c3 is not None:
            w = w[:c3]
        return w, True
    return w, True


# ---- noun suffix chains ----------------------------------------------

_U_SUF = ("ı", "i", "u", "ü")


def _opt_n_ki(w: str, c: int) -> int | None:
    """Genitive attachment inside the -ki chain: the leading n is
    consumed after ANY vowel ('onunki' -> 'o')."""
    if c >= 2 and w[c - 1] == "n" and w[c - 2] in VOWELS:
        return c - 1
    if c >= 1 and w[c - 1] not in VOWELS and w[c - 1] != "y":
        return c
    return None


def _vowel_after_consonant(w: str, c: int) -> int | None:
    """Attachment test for -(n)dA / -(n)A: the char before the suffix
    must be a vowel itself preceded by a consonant ('tonda' strips 'nda',
    'onda'/'oonda' fall through to the plain -DA rule)."""
    if c >= 2 and w[c - 1] in VOWELS and w[c - 2] not in VOWELS:
        return c
    return None


def _poss_marker(w: str, c: int) -> int | None:
    """Possessive -(U)m/-(U)n/-(U)mUz/-(U)nUz attachment: consume a U
    vowel after a consonant ('evimiz' -> 'ev', 'orduniz' -> 'ord' which
    the postlude restores to 'ordu'), or require a consonant two back
    ('ken', 'arkadaşyn' strip their n; 'on', 'arkadaşn' keep it)."""
    if c >= 2 and w[c - 1] in _U and w[c - 2] not in VOWELS:
        return c - 1
    if (
        c >= 3
        and w[c - 1] in _U
        and w[c - 2] in VOWELS
        and w[c - 3] in VOWELS
        and w[c - 2] not in _HARMONY[w[c - 1]]
        and _harmony_ok(w, c)
    ):
        return c - 1
    if c >= 2 and w[c - 2] not in VOWELS:
        return c
    return None


def _chain_su(w: str, bare: str | None = "cons") -> str:
    """Possessive -(s)U continuation after a stripped case suffix.

    Stage 1 (harmony-gated): U plus a consumed vowel-preceded 's'
    ('zotcesine' -> 'zotce'). Stage 2: a bare U, with the per-family
    attachment mode golden-verified against PostgreSQL:
      - "cons":     any consonant before the U ('kentine' -> 'kent')
      - "alt":      consonant before, vowel/limit before that
                    ('kentince' -> 'kenti' keeps its i)
      - "alt_harm": "alt" plus vowel harmony ('arabasiyle' keeps
                    'arabasi'; 'arabalarıyla' strips to 'arabalar')
    """
    c = len(w)
    c2 = _ends_any(w, c, _U_SUF)
    if c2 is None:
        return w
    harm = _harmony_ok(w, c)
    if harm and c2 >= 2 and w[c2 - 1] == "s" and w[c2 - 2] in VOWELS:
        return w[:c2 - 1]
    if bare is None:
        return w
    if w[c2 - 1] in VOWELS if c2 >= 1 else True:
        return w
    if bare in ("alt", "alt_harm") and not (c2 < 2 or w[c2 - 2] in VOWELS):
        return w
    if bare == "alt_harm" and not harm:
        return w
    return w[:c2]


def _chain_poss(w: str, mn_consume_only: bool = False) -> str:
    """Possessive -(U)m / -(U)n / -(U)mUz / -(U)nUz continuation (no
    harmony gate — golden-verified: 'kentun', 'arabamiz' strip).
    mn_consume_only: in the genitive chain a bare m/n fires only in its
    U-consuming form ('gözlerimin' -> 'gözler' but 'kalbnın' keeps its
    n; the mUz/nUz forms are unrestricted: 'denizin' -> 'de')."""
    c = len(w)
    c2 = _ends_any(w, c, ("m", "n") + _MUZ + _NUZ)
    if c2 is None:
        return w
    if mn_consume_only and c - c2 == 1 and not (
        w[c2 - 1] in VOWELS
        or (c2 >= 2 and w[c2 - 1] in _U and w[c2 - 2] not in VOWELS)
    ):
        return w
    c3 = _poss_marker(w, c2)
    return w[:c3] if c3 is not None else w


def _chain_lar(w: str) -> str:
    c2 = _mark_lar(w, len(w))
    if c2 is None:
        return w
    return _ki_chain(w[:c2])


def _case_chain(w: str, su_mode: str | None = None,
                mn_consume_only: bool = False,
                post_lar_poss: bool = False) -> str:
    """Shared one-shot continuation after a stripped case suffix,
    golden-verified step order (each step fires at most once):
      - plural first: lAr (+ki), then the family's sU
        ('kapıların' -> kapılar -> kapı -> kap)
      - else sU, then lAr, and STOP — no possessive
        ('denizlerinin' -> denizleri -> denizler -> deniz, not 'de';
        'kapılarından' -> kapıları -> kapılar -> kapı, not 'kap')
      - else possessive, then lAr
        ('gözlerimin' -> gözlerim -> gözler -> göz).
    post_lar_poss: only the genitive chain tries a possessive after the
    plural ('denizlerin' -> deniz -> de; 'denizlerde' stops at deniz)."""
    out = _chain_lar(w)
    if out != w:
        if su_mode is not None:
            out = _chain_su(out, bare=su_mode)
        if post_lar_poss:
            out = _chain_poss(out)
        return out
    if su_mode is not None:
        out = _chain_su(w, bare=su_mode)
        if out != w:
            return _chain_lar(out)
    out = _chain_poss(w, mn_consume_only=mn_consume_only)
    if out != w:
        return _chain_lar(out)
    return w


def _ki_chain(w: str) -> str:
    """-ki relative chains: '...daki' / '...nınki' / '...ndaki'."""
    c = len(w)
    if not (c >= 2 and w.endswith("ki")):
        return w
    c2 = c - 2
    # DA before ki
    c3 = _mark(w, c2, _DA, None, harmony=True)
    if c3 is not None:
        out = w[:c3]
        out2 = _chain_lar(out)
        if out2 != out:
            return out2
        return _chain_poss(out)
    # genitive -(n)Un before ki ('yarınki', 'onunki' -> 'o')
    if c2 >= 1 and w[c2 - 1] == "n":
        c4 = _mark(w, c2 - 1, _U_SUF, _opt_n_ki, harmony=True)
        if c4 is not None:
            return w[:c4]
    return w


def stem_noun_suffixes(w: str) -> str:
    c = len(w)

    # -lAr (+ki chain)
    c2 = _mark_lar(w, c)
    if c2 is not None:
        return _chain_lar(w)

    # -ki chain
    if w.endswith("ki"):
        out = _ki_chain(w)
        if out != w:
            return out

    # -lArI
    c2 = _mark(w, c, _LARI, None, harmony=True)
    if c2 is not None:
        return w[:c2]

    # -(n)cA
    c2 = _mark(w, c, _NCA, _opt_n, harmony=True)
    if c2 is not None:
        return _case_chain(w[:c2], su_mode="alt")

    # -ndAn (ablative after possessive: 'fakültesinden' -> 'fakülte')
    c2 = _mark(w, c, ("ndan", "nden"), _vowel_after_consonant, harmony=True)
    if c2 is not None:
        return _case_chain(w[:c2], su_mode="cons")

    # -DAn (+plural / possessive continuation)
    c2 = _mark(w, c, _DAN, None, harmony=True)
    if c2 is not None:
        return _case_chain(w[:c2])

    # -ndA (locative after possessive: 'arabasında' -> 'araba')
    c2 = _mark(w, c, ("nda", "nde"), _vowel_after_consonant, harmony=True)
    if c2 is not None:
        return _case_chain(w[:c2], su_mode="cons")

    # -DA (+plural / possessive continuation)
    c2 = _mark(w, c, _DA, None, harmony=True)
    if c2 is not None:
        return _case_chain(w[:c2])

    # -(y)lA (+harmony-gated sU then plural: 'arabalarıyla' -> 'araba',
    # 'arabaleriyle' -> 'arabaler' because inharmonic 'ler' blocks)
    c2 = _mark(w, c, _YLA, _opt_y, harmony=True)
    if c2 is not None:
        return _case_chain(w[:c2], su_mode="alt_harm")

    # genitive -(n)Un (U + n, optional leading n) + chains
    if c >= 2 and w[c - 1] == "n":
        c2 = _mark(w, c - 1, _U_SUF, _opt_n_loose, harmony=True)
        if c2 is not None:
            return _case_chain(
                w[:c2], su_mode="alt_harm",
                mn_consume_only=True, post_lar_poss=True,
            )

    # dative -(n)A (+lArI or the shared continuation loop)
    c2 = _mark(w, c, _NA, _vowel_after_consonant, harmony=True)
    if c2 is not None:
        out = w[:c2]
        c3 = _mark(out, len(out), _LARI, None, harmony=True)
        if c3 is not None:
            return out[:c3]
        return _case_chain(out, su_mode="cons")

    # accusative/possessive -(n)U
    c2 = _mark(w, c, _U_SUF, _opt_n, harmony=True)
    if c2 is not None:
        return _case_chain(w[:c2], su_mode="cons")

    # -(y)U (buffer-y accusative: 'sarayı')
    c2 = _mark(w, c, _U_SUF, _opt_y, harmony=True)
    if c2 is not None:
        return _case_chain(w[:c2])

    # -(y)A (+plural or possessive: 'arabalara' -> 'araba',
    # 'denize' -> 'de' via the nUz possessive)
    c2 = _mark(w, c, ("a", "e"), _opt_y, harmony=True)
    if c2 is not None:
        return _case_chain(w[:c2])

    # possessive -(U)m / -(U)n / -(U)mUz / -(U)nUz (+plural:
    # 'şiirlerimiz' -> şiirler -> şiir)
    out = _chain_poss(w)
    if out != w:
        return _chain_lar(out)
    return w


# ---- postlude ---------------------------------------------------------

_RESERVED = {"ad", "soyad"}
_DEVOICE = {"b": "p", "c": "ç", "d": "t", "ğ": "k"}
_APPEND_U = {"a": "ı", "ı": "ı", "e": "i", "i": "i",
             "o": "u", "u": "u", "ö": "ü", "ü": "ü"}


def _postlude(w: str) -> str:
    if w in _RESERVED:
        return w
    if w and w[-1] in ("d", "g"):
        for ch in reversed(w):
            if ch in VOWELS:
                return w + _APPEND_U[ch]
        return w
    if w and w[-1] in _DEVOICE:
        return w[:-1] + _DEVOICE[w[-1]]
    return w


def turkish_stem(word: str) -> str:
    w = word
    if sum(1 for ch in w if ch in VOWELS) <= 1:
        return w
    w, cont = stem_nominal_verb_suffixes(w)
    if not cont:
        # plural-verb reading consumed the word: noun pass AND postlude
        # skipped (golden-verified: 'kitablar' -> 'kitab', no devoicing)
        return w
    w = stem_noun_suffixes(w)
    out = _postlude(w)
    # PostgreSQL's dict_snowball keeps the original word when the stem
    # reduces to nothing ('sunuz' stems to the empty string)
    return out if out else word
