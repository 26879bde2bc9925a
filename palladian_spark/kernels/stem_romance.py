"""Snowball French and Spanish stemmers (snowballstem.org — the same
published algorithms the reference dispatches to through
org.tartarus.snowball.ext.frenchStemmer / spanishStemmer in
extraction/feature/Stemmer.java:68-69,86-87).

Implemented from the published algorithm descriptions (Snowball 2.x
revision: French marks ë/ï as He/Hi, and the verb/residual steps match
suffixes INSIDE the RV limit — a suffix extending left of RV can never
match, so a shorter in-region suffix wins) and golden-tested word-for-word
against the official implementation shipped in PostgreSQL 15
(dict_snowball): tests/fixtures/french_stem_golden.tsv and
spanish_stem_golden.tsv, regenerated by tools/gen_snowball_goldens.py.

Both stemmers take an already-lowercased unicode word (the Stemmer wrapper
lowercases, mirroring SnowballStemmer usage in the reference).
"""

from __future__ import annotations

from .snowball import longest_suffix, r1_r2, rv as std_rv

# ---------------------------------------------------------------------------
# French
# ---------------------------------------------------------------------------

# markers U/I/Y/H are uppercase or H -> non-vowels
_FR_VOWELS = set("aeiouyâàëéêèïîôûù")


def _fr_prelude(w: str) -> str:
    """Snowball-2.x marking pass (repeat goto semantics, left to right):
    u/i between vowels -> U/I, y next to a vowel -> Y, u after q -> U,
    ë -> He, ï -> Hi (H is a non-vowel placeholder removed in postlude)."""
    out: list[str] = []
    i, n = 0, len(w)
    while i < n:
        c = w[i]
        if c in _FR_VOWELS and i + 1 < n:
            d = w[i + 1]
            if d == "u" and i + 2 < n and w[i + 2] in _FR_VOWELS:
                out += [c, "U"]
                i += 2
                continue
            if d == "i" and i + 2 < n and w[i + 2] in _FR_VOWELS:
                out += [c, "I"]
                i += 2
                continue
            if d == "y":
                out += [c, "Y"]
                i += 2
                continue
        if c == "ë":
            out += ["H", "e"]
            i += 1
            continue
        if c == "ï":
            out += ["H", "i"]
            i += 1
            continue
        if c == "y" and i + 1 < n and w[i + 1] in _FR_VOWELS:
            out.append("Y")
            i += 1
            continue
        if c == "q" and i + 1 < n and w[i + 1] == "u":
            out += ["q", "U"]
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _fr_rv(w: str) -> int:
    """French RV: after the third letter if the word starts with two
    vowels or with par/col/tap; else after the first vowel that is not the
    first letter."""
    if (len(w) >= 3 and w[0] in _FR_VOWELS and w[1] in _FR_VOWELS) or (
        w[:3] in ("par", "col", "tap")
    ):
        return 3
    return next((i + 1 for i in range(1, len(w)) if w[i] in _FR_VOWELS), len(w))


_FR_STEP1 = [
    "issements", "issement", "atrices", "amment", "emment", "atrice",
    "ateurs", "ations", "logies", "usions", "utions", "ements", "euses",
    "ances", "iqUes", "ismes", "ables", "istes", "ateur", "ation", "logie",
    "usion", "ution", "ences", "ement", "ments", "ance", "iqUe", "isme",
    "able", "iste", "ence", "ités", "ives", "eaux", "euse", "ment", "eux",
    "ité", "ive", "ifs", "aux", "if",
]

_FR_STEP2A = [
    "issaIent", "issantes", "iraIent", "issante", "issants", "issions",
    "irions", "issais", "issait", "issant", "issent", "issiez", "issons",
    "irais", "irait", "irent", "iriez", "irons", "iront", "isses", "issez",
    "îmes", "îtes", "irai", "iras", "irez", "isse", "ira", "ies", "ît",
    "ie", "ir", "is", "it", "i",
]

_FR_STEP2B_E = [
    "eraIent", "erions", "èrent", "erais", "erait", "eriez", "erons",
    "eront", "erai", "eras", "erez", "ées", "era", "iez", "ée", "és",
    "er", "ez", "é",
]
_FR_STEP2B_A = [
    "assions", "assent", "assiez", "aIent", "antes", "asses", "âmes",
    "âtes", "ante", "ants", "asse", "ais", "ait", "ant", "as", "ai", "ât",
    "a",
]


def french_stem(word: str) -> str:
    w = _fr_prelude(word)
    rv = _fr_rv(w)
    r1, r2 = r1_r2(w, _FR_VOWELS)

    def in_rv(pos: int) -> bool:
        return pos >= rv

    def in_r1(pos: int) -> bool:
        return pos >= r1

    def in_r2(pos: int) -> bool:
        return pos >= r2

    step1_changed = False
    ment_family = False
    suf = longest_suffix(w, _FR_STEP1)
    if suf:
        p = len(w) - len(suf)
        if suf in ("ance", "iqUe", "isme", "able", "iste", "eux",
                   "ances", "iqUes", "ismes", "ables", "istes"):
            if in_r2(p):
                w = w[:p]
                step1_changed = True
        elif suf in ("atrice", "ateur", "ation", "atrices", "ateurs", "ations"):
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("ic"):
                    q = len(w) - 2
                    w = w[:q] if in_r2(q) else w[:q] + "iqU"
        elif suf in ("logie", "logies"):
            if in_r2(p):
                w = w[:p] + "log"
                step1_changed = True
        elif suf in ("usion", "ution", "usions", "utions"):
            if in_r2(p):
                w = w[:p] + "u"
                step1_changed = True
        elif suf in ("ence", "ences"):
            if in_r2(p):
                w = w[:p] + "ent"
                step1_changed = True
        elif suf in ("ement", "ements"):
            if in_rv(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("iv"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]
                        if w.endswith("at"):
                            q2 = len(w) - 2
                            if in_r2(q2):
                                w = w[:q2]
                elif w.endswith("eus"):
                    q = len(w) - 3
                    if in_r2(q):
                        w = w[:q]
                    elif in_r1(q):
                        w = w[:q] + "eux"
                elif w.endswith("abl"):
                    q = len(w) - 3
                    if in_r2(q):
                        w = w[:q]
                elif w.endswith("iqU"):
                    q = len(w) - 3
                    if in_r2(q):
                        w = w[:q]
                elif w.endswith("ièr") or w.endswith("Ièr"):
                    q = len(w) - 3
                    if in_rv(q):
                        w = w[:q] + "i"
        elif suf in ("ité", "ités"):
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("abil"):
                    q = len(w) - 4
                    w = w[:q] if in_r2(q) else w[:q] + "abl"
                elif w.endswith("ic"):
                    q = len(w) - 2
                    w = w[:q] if in_r2(q) else w[:q] + "iqU"
                elif w.endswith("iv"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]
        elif suf in ("if", "ive", "ifs", "ives"):
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("at"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]
                        if w.endswith("ic"):
                            q2 = len(w) - 2
                            w = w[:q2] if in_r2(q2) else w[:q2] + "iqU"
        elif suf == "eaux":
            w = w[:p] + "eau"
            step1_changed = True
        elif suf == "aux":
            if in_r1(p):
                w = w[:p] + "al"
                step1_changed = True
        elif suf in ("euse", "euses"):
            if in_r2(p):
                w = w[:p]
                step1_changed = True
            elif in_r1(p):
                w = w[:p] + "eux"
                step1_changed = True
        elif suf in ("issement", "issements"):
            if in_r1(p) and p > 0 and w[p - 1] not in _FR_VOWELS:
                w = w[:p]
                step1_changed = True
        elif suf == "amment":
            if in_rv(p):
                w = w[:p] + "ant"
                step1_changed = True
                ment_family = True
        elif suf == "emment":
            if in_rv(p):
                w = w[:p] + "ent"
                step1_changed = True
                ment_family = True
        elif suf in ("ment", "ments"):
            if p > 0 and w[p - 1] in _FR_VOWELS and in_rv(p - 1):
                w = w[:p]
                step1_changed = True
                ment_family = True

    do_step2 = (not step1_changed) or ment_family
    step2_changed = False
    if do_step2:
        m2a = longest_suffix(w, _FR_STEP2A, rv)
        removed_2a = False
        if m2a:
            p = len(w) - len(m2a)
            # preceded (inside the RV limit) by a non-vowel that is not the
            # He/Hi placeholder H
            if p - 1 >= rv and w[p - 1] not in _FR_VOWELS and w[p - 1] != "H":
                w = w[:p]
                step2_changed = True
                removed_2a = True
        if not removed_2a:
            best = longest_suffix(
                w, ["ions"] + _FR_STEP2B_E + _FR_STEP2B_A, rv
            )
            if best:
                p = len(w) - len(best)
                if best == "ions":
                    if in_r2(p):
                        w = w[:p]
                        step2_changed = True
                elif best in _FR_STEP2B_E:
                    w = w[:p]
                    step2_changed = True
                else:
                    w = w[:p]
                    step2_changed = True
                    if w.endswith("e") and len(w) - 1 >= rv:
                        w = w[:-1]

    if step1_changed or step2_changed:
        # step 3
        if w.endswith("Y"):
            w = w[:-1] + "i"
        elif w.endswith("ç"):
            w = w[:-1] + "c"
    else:
        # step 4 (residual). The s-rule is NOT RV-limited; 2.x allows the
        # deletion after Hi (ï), blocks it after a plain i.
        if len(w) >= 2 and w.endswith("s"):
            prev = w[-2]
            if (prev == "i" and len(w) >= 3 and w[-3] == "H") or prev not in "aiouès":
                w = w[:-1]
        best = longest_suffix(
            w, ["ière", "Ière", "ion", "ier", "Ier", "e"], rv
        )
        if best:
            p = len(w) - len(best)
            if best == "ion":
                if in_r2(p) and p - 1 >= rv and w[p - 1] in ("s", "t"):
                    w = w[:p]
            elif best in ("ier", "ière", "Ier", "Ière"):
                w = w[:p] + "i"
            elif best == "e":
                w = w[:p]

    # step 5: un-double
    for end in ("enn", "onn", "ett", "ell", "eill"):
        if w.endswith(end):
            w = w[:-1]
            break
    # step 6: un-accent (é/è followed by trailing non-vowels -> e)
    j = len(w)
    k = j
    while k > 0 and w[k - 1] not in _FR_VOWELS:
        k -= 1
    if 0 < k < j and w[k - 1] in ("é", "è"):
        w = w[: k - 1] + "e" + w[k:]

    # postlude: unmark, restore He/Hi to ë/ï, drop orphaned H
    out: list[str] = []
    i, n = 0, len(w)
    while i < n:
        c = w[i]
        if c == "H":
            if i + 1 < n and w[i + 1] == "e":
                out.append("ë")
                i += 2
                continue
            if i + 1 < n and w[i + 1] == "i":
                out.append("ï")
                i += 2
                continue
            i += 1
            continue
        out.append({"I": "i", "U": "u", "Y": "y"}.get(c, c))
        i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# Spanish
# ---------------------------------------------------------------------------

_ES_VOWELS = set("aeiouáéíóúü")
_ES_UNACUTE = str.maketrans("áéíóú", "aeiou")


_ES_PRONOUNS = [
    "selas", "selos", "sela", "selo", "las", "les", "los", "nos",
    "me", "se", "la", "le", "lo",
]
_ES_PRE_A = ["iéndo", "ándo", "ár", "ér", "ír"]  # accent removed on match
_ES_PRE_B = ["iendo", "ando", "ar", "er", "ir"]

_ES_STEP1_DELETE_R2 = [
    "amientos", "imientos", "amiento", "imiento", "anzas", "ismos",
    "ables", "ibles", "istas", "anza", "icos", "icas", "ismo", "able",
    "ible", "ista", "osos", "osas", "ico", "ica", "oso", "osa",
]
_ES_STEP1_ADOR = [
    "aciones", "adoras", "adores", "ancias", "adora", "ación", "antes",
    "ancia", "ador", "ante",
]
_ES_STEP1_IDAD = ["idades", "idad"]
_ES_STEP1_IVA = ["ivas", "ivos", "iva", "ivo"]

_ES_STEP2A = [
    "yeron", "yendo", "yamos", "yais", "yan", "yen", "yas", "yes",
    "ya", "ye", "yo", "yó",
]
_ES_STEP2B_GU = ["emos", "éis", "en", "es"]
_ES_STEP2B = [
    "aríamos", "eríamos", "iríamos", "iéramos", "iésemos", "ábamos",
    "áramos", "ásemos", "aríais", "aremos", "eríais", "eremos", "iríais",
    "iremos", "ierais", "ieseis", "asteis", "isteis", "íamos", "arían",
    "arías", "aréis", "erían", "erías", "eréis", "irían", "irías",
    "iréis", "abais", "arais", "aseis", "íais", "aría", "ará", "aré",
    "ería", "erá", "eré", "iría", "irá", "iré", "aban", "ían", "aran",
    "ieran", "asen", "iesen", "aron", "ieron", "ando", "iendo", "arán",
    "arás", "erán", "erás", "irán", "irás", "abas", "adas", "idas",
    "ías", "aras", "ieras", "ases", "ieses", "ados", "idos", "amos",
    "imos", "aba", "ada", "ida", "ara", "iera", "ase", "iese", "aste",
    "iste", "ado", "ido", "ías", "ía", "ad", "ed", "id", "an", "ió",
    "ar", "er", "ir", "as", "ís", "áis",
]


def spanish_stem(word: str) -> str:
    w = word
    rv = std_rv(w, _ES_VOWELS)
    r1, r2 = r1_r2(w, _ES_VOWELS)

    def in_rv(pos: int) -> bool:
        return pos >= rv

    def in_r1(pos: int) -> bool:
        return pos >= r1

    def in_r2(pos: int) -> bool:
        return pos >= r2

    # ---- step 0: attached pronoun ----
    pron = longest_suffix(w, _ES_PRONOUNS, rv)
    if pron:
        head = w[: len(w) - len(pron)]
        pre = longest_suffix(head, _ES_PRE_A, rv)
        if pre:
            # delete pronoun, remove the acute accent from the suffix
            w = head[: len(head) - len(pre)] + pre.translate(_ES_UNACUTE)
        elif longest_suffix(head, _ES_PRE_B, rv):
            w = head
        elif head.endswith("yendo"):
            p = len(head) - 5
            if p >= rv and p > 0 and w[p - 1] == "u":
                w = head
        rv = min(rv, len(w))

    # ---- step 1: standard suffixes (no RV limit; longest match is final) --
    step1_changed = False
    all1 = (
        _ES_STEP1_DELETE_R2 + _ES_STEP1_ADOR + ["logías", "logía"]
        + ["uciones", "ución"] + ["encias", "encia"] + ["amente", "mente"]
        + _ES_STEP1_IDAD + _ES_STEP1_IVA
    )
    m1 = longest_suffix(w, all1)
    if m1:
        p = len(w) - len(m1)
        if m1 in _ES_STEP1_DELETE_R2:
            if in_r2(p):
                w = w[:p]
                step1_changed = True
        elif m1 in _ES_STEP1_ADOR:
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("ic"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]
        elif m1 in ("logía", "logías"):
            if in_r2(p):
                w = w[:p] + "log"
                step1_changed = True
        elif m1 in ("ución", "uciones"):
            if in_r2(p):
                w = w[:p] + "u"
                step1_changed = True
        elif m1 in ("encia", "encias"):
            if in_r2(p):
                w = w[:p] + "ente"
                step1_changed = True
        elif m1 == "amente":
            if in_r1(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("iv"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]
                        if w.endswith("at"):
                            q2 = len(w) - 2
                            if in_r2(q2):
                                w = w[:q2]
                else:
                    for pre in ("os", "ic", "ad"):
                        if w.endswith(pre):
                            q = len(w) - 2
                            if in_r2(q):
                                w = w[:q]
                            break
        elif m1 == "mente":
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                for pre in ("ante", "able", "ible"):
                    if w.endswith(pre):
                        q = len(w) - 4
                        if in_r2(q):
                            w = w[:q]
                        break
        elif m1 in _ES_STEP1_IDAD:
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                for pre in ("abil", "ic", "iv"):
                    if w.endswith(pre):
                        q = len(w) - len(pre)
                        if in_r2(q):
                            w = w[:q]
                        break
        elif m1 in _ES_STEP1_IVA:
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("at"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]

    # ---- step 2 (verbs), only if step 1 removed nothing ----
    if not step1_changed:
        removed_2a = False
        m2a = longest_suffix(w, _ES_STEP2A, rv)
        if m2a:
            p = len(w) - len(m2a)
            if p > 0 and w[p - 1] == "u":  # the u need not be in RV
                w = w[:p]
                removed_2a = True
        if not removed_2a:
            m2b = longest_suffix(w, _ES_STEP2B_GU + _ES_STEP2B, rv)
            if m2b:
                p = len(w) - len(m2b)
                w = w[:p]
                if m2b in _ES_STEP2B_GU and w.endswith("gu"):
                    w = w[:-1]  # the gu need not be in RV

    # ---- step 3: residual ----
    m3 = longest_suffix(w, ["os", "a", "o", "á", "í", "ó", "e", "é"], rv)
    if m3:
        p = len(w) - len(m3)
        if m3 in ("e", "é"):
            w = w[:p]
            if w.endswith("gu") and len(w) - 1 >= rv:
                w = w[:-1]
        else:
            w = w[:p]

    # ---- final: remove acute accents ----
    return w.translate(_ES_UNACUTE)


# ---------------------------------------------------------------------------
# Italian
# ---------------------------------------------------------------------------

_IT_VOWELS = set("aeiouàèìòù")


def _it_prelude(w: str) -> str:
    """Acute accents -> grave; qu -> qU; then u/i BETWEEN vowels -> U/I."""
    w = w.translate(str.maketrans("áéíóú", "àèìòù"))
    out: list[str] = []
    i, n = 0, len(w)
    while i < n:
        if w[i] == "q" and i + 1 < n and w[i + 1] == "u":
            out += ["q", "U"]
            i += 2
            continue
        out.append(w[i])
        i += 1
    w = "".join(out)
    chars = list(w)
    for i in range(1, len(chars) - 1):
        if chars[i] in "ui" and chars[i - 1] in _IT_VOWELS and chars[i + 1] in _IT_VOWELS:
            chars[i] = chars[i].upper()
    return "".join(chars)


_IT_PRONOUNS = [
    "gliela", "gliele", "glieli", "glielo", "gliene", "sene", "mela",
    "mele", "meli", "melo", "mene", "tela", "tele", "teli", "telo",
    "tene", "cela", "cele", "celi", "celo", "cene", "vela", "vele",
    "veli", "velo", "vene", "gli", "ci", "la", "le", "li", "lo", "mi",
    "ne", "si", "ti", "vi",
]

_IT_STEP1_R2 = [
    "anza", "anze", "ico", "ici", "ica", "ice", "iche", "ichi", "ismo",
    "ismi", "abile", "abili", "ibile", "ibili", "ista", "iste", "isti",
    "istà", "istè", "istì", "oso", "osi", "osa", "ose", "mente",
    "atrice", "atrici",
]

_IT_STEP2 = [
    "erebbero", "irebbero", "assero", "assimo", "eranno", "erebbe",
    "eremmo", "ereste", "eresti", "essero", "iranno", "irebbe", "iremmo",
    "ireste", "iresti", "iscano", "iscono", "issero", "arono", "avamo",
    "avano", "avate", "eremo", "erete", "erono", "evamo", "evano",
    "evate", "iremo", "irete", "irono", "ivamo", "ivano", "ivate",
    "ammo", "ando", "asse", "assi", "emmo", "enda", "ende", "endi",
    "endo", "erai", "erei", "Yamo", "iamo", "immo", "irai", "irei",
    "isca", "isce", "isci", "isco", "ano", "are", "ata", "ate", "ati",
    "ato", "ava", "avi", "avo", "erà", "ere", "erò", "ete", "eva",
    "evi", "evo", "irà", "ire", "irò", "ita", "ite", "iti", "ito",
    "iva", "ivi", "ivo", "ono", "uta", "ute", "uti", "uto", "ar", "ir",
]


def italian_stem(word: str) -> str:
    w = _it_prelude(word)
    rv = std_rv(w, _IT_VOWELS)
    r1, r2 = r1_r2(w, _IT_VOWELS)

    def in_rv(pos: int) -> bool:
        return pos >= rv

    def in_r1(pos: int) -> bool:
        return pos >= r1

    def in_r2(pos: int) -> bool:
        return pos >= r2

    # ---- step 0: attached pronoun ----
    pron = longest_suffix(w, _IT_PRONOUNS, rv)
    if pron:
        head = w[: len(w) - len(pron)]
        stem_end = len(head)
        for pre, action in (("ando", "del"), ("endo", "del"),
                            ("ar", "e"), ("er", "e"), ("ir", "e")):
            if head.endswith(pre) and stem_end - len(pre) >= rv:
                w = head if action == "del" else head + "e"
                break

    # ---- step 1 ----
    step1_changed = False
    all1 = (
        _IT_STEP1_R2 + ["azione", "azioni", "atore", "atori", "logia",
                        "logie", "uzione", "uzioni", "usione", "usioni",
                        "enza", "enze", "amento", "amenti", "imento",
                        "imenti", "amente", "ità", "ivo", "ivi", "iva",
                        "ive"]
    )
    m1 = longest_suffix(w, all1)
    if m1:
        p = len(w) - len(m1)
        if m1 in _IT_STEP1_R2:
            if in_r2(p):
                w = w[:p]
                step1_changed = True
        elif m1 in ("azione", "azioni", "atore", "atori"):
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("ic"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]
        elif m1 in ("logia", "logie"):
            if in_r2(p):
                w = w[:p] + "log"
                step1_changed = True
        elif m1 in ("uzione", "uzioni", "usione", "usioni"):
            if in_r2(p):
                w = w[:p] + "u"
                step1_changed = True
        elif m1 in ("enza", "enze"):
            if in_r2(p):
                w = w[:p] + "ente"
                step1_changed = True
        elif m1 in ("amento", "amenti", "imento", "imenti"):
            if in_rv(p):
                w = w[:p]
                step1_changed = True
        elif m1 == "amente":
            if in_r1(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("iv"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]
                        if w.endswith("at"):
                            q2 = len(w) - 2
                            if in_r2(q2):
                                w = w[:q2]
                else:
                    for pre in ("os", "ic", "abil"):
                        if w.endswith(pre):
                            q = len(w) - len(pre)
                            if in_r2(q):
                                w = w[:q]
                            break
        elif m1 == "ità":
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                for pre in ("abil", "ic", "iv"):
                    if w.endswith(pre):
                        q = len(w) - len(pre)
                        if in_r2(q):
                            w = w[:q]
                        break
        elif m1 in ("ivo", "ivi", "iva", "ive"):
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("at"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]
                        if w.endswith("ic"):
                            q2 = len(w) - 2
                            if in_r2(q2):
                                w = w[:q2]

    # ---- step 2 (if step 1 removed nothing) ----
    if not step1_changed:
        m2 = longest_suffix(w, _IT_STEP2, rv)
        if m2:
            w = w[: len(w) - len(m2)]

    # ---- step 3a: final vowel (then a preceding i), both in RV ----
    if w and w[-1] in ("a", "e", "i", "o", "à", "è", "ì", "ò") and in_rv(len(w) - 1):
        w = w[:-1]
        if w and w[-1] == "i" and in_rv(len(w) - 1):
            w = w[:-1]
    # ---- step 3b: ch/gh -> c/g in RV ----
    for end, rep in (("ch", "c"), ("gh", "g")):
        if w.endswith(end) and in_rv(len(w) - 2):
            w = w[: -2] + rep
            break

    return w.replace("I", "i").replace("U", "u")


# ---------------------------------------------------------------------------
# Portuguese
# ---------------------------------------------------------------------------

_PT_VOWELS = set("aeiouáéíóúâêô")


_PT_STEP1_R2 = [
    "eza", "ezas", "ico", "ica", "icos", "icas", "ismo", "ismos",
    "ável", "ível", "ista", "istas", "oso", "osa", "osos", "osas",
    "amento", "amentos", "imento", "imentos", "adora", "ador", "aça~o",
    "adoras", "adores", "aço~es", "ante", "antes", "ância",
]

_PT_STEP2 = [
    "aríamos", "eríamos", "iríamos", "ássemos", "êssemos", "íssemos",
    "aríeis", "eríeis", "iríeis", "ásseis", "ésseis", "ísseis",
    "áramos", "éramos", "íramos", "ávamos", "aremos", "eremos",
    "iremos", "ariam", "eriam", "iriam", "assem", "essem", "issem",
    "ara~o", "era~o", "ira~o", "arias", "erias", "irias", "ardes",
    "erdes", "irdes", "asses", "esses", "isses", "astes", "estes",
    "istes", "áreis", "areis", "éreis", "ereis", "íreis", "ireis",
    "áveis", "íamos", "armos", "ermos", "irmos", "aria", "eria",
    "iria", "asse", "esse", "isse", "aste", "este", "iste", "arei",
    "erei", "irei", "aram", "eram", "iram", "avam", "arem", "erem",
    "irem", "ando", "endo", "indo", "adas", "idas", "arás", "aras",
    "erás", "eras", "irás", "avas", "ares", "eres", "ires", "íeis",
    "ados", "idos", "ámos", "amos", "emos", "imos", "iras", "ada",
    "ida", "ará", "ara", "erá", "era", "irá", "ava", "iam", "ado",
    "ido", "ias", "ais", "eis", "ira", "ia", "ei", "am", "em", "ar",
    "er", "ir", "as", "es", "is", "eu", "iu", "ou",
]


def portuguese_stem(word: str) -> str:
    # prelude: nasal vowels to two-char forms so they count as vowel+cons
    w = word.replace("ã", "a~").replace("õ", "o~")
    rv = std_rv(w, _PT_VOWELS)
    r1, r2 = r1_r2(w, _PT_VOWELS)

    def in_rv(pos: int) -> bool:
        return pos >= rv

    def in_r1(pos: int) -> bool:
        return pos >= r1

    def in_r2(pos: int) -> bool:
        return pos >= r2

    altered = False

    # ---- step 1 ----
    all1 = (
        _PT_STEP1_R2
        + ["logia", "logias", "uça~o", "uço~es", "ência", "ências",
           "amente", "mente", "idade", "idades", "iva", "ivo", "ivas",
           "ivos", "ira", "iras"]
    )
    m1 = longest_suffix(w, all1)
    step1_changed = False
    if m1:
        p = len(w) - len(m1)
        if m1 in _PT_STEP1_R2:
            if in_r2(p):
                w = w[:p]
                step1_changed = True
        elif m1 in ("logia", "logias"):
            if in_r2(p):
                w = w[:p] + "log"
                step1_changed = True
        elif m1 in ("uça~o", "uço~es"):
            if in_r2(p):
                w = w[:p] + "u"
                step1_changed = True
        elif m1 in ("ência", "ências"):
            if in_r2(p):
                w = w[:p] + "ente"
                step1_changed = True
        elif m1 == "amente":
            if in_r1(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("iv"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]
                        if w.endswith("at"):
                            q2 = len(w) - 2
                            if in_r2(q2):
                                w = w[:q2]
                else:
                    for pre in ("os", "ic", "ad"):
                        if w.endswith(pre):
                            q = len(w) - 2
                            if in_r2(q):
                                w = w[:q]
                            break
        elif m1 == "mente":
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                for pre in ("ante", "avel", "ível"):
                    if w.endswith(pre):
                        q = len(w) - 4
                        if in_r2(q):
                            w = w[:q]
                        break
        elif m1 in ("idade", "idades"):
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                for pre in ("abil", "ic", "iv"):
                    if w.endswith(pre):
                        q = len(w) - len(pre)
                        if in_r2(q):
                            w = w[:q]
                        break
        elif m1 in ("iva", "ivo", "ivas", "ivos"):
            if in_r2(p):
                w = w[:p]
                step1_changed = True
                if w.endswith("at"):
                    q = len(w) - 2
                    if in_r2(q):
                        w = w[:q]
        elif m1 in ("ira", "iras"):
            if in_rv(p) and p > 0 and w[p - 1] == "e":
                w = w[:p] + "ir"
                step1_changed = True

    altered = step1_changed

    # ---- step 2 (verbs), only if step 1 did not alter ----
    if not step1_changed:
        m2 = longest_suffix(w, _PT_STEP2, rv)
        if m2:
            w = w[: len(w) - len(m2)]
            altered = True

    # ---- step 3: final i preceded by c (if 1 or 2 altered) ----
    if altered:
        if w.endswith("i") and in_rv(len(w) - 1) and len(w) >= 2 and w[-2] == "c":
            w = w[:-1]
    else:
        # ---- step 4: residual suffix ----
        m4 = longest_suffix(w, ["os", "a", "i", "o", "á", "í", "ó"], rv)
        if m4:
            w = w[: len(w) - len(m4)]

    # ---- step 5 (always) ----
    if w and w[-1] in ("e", "é", "ê") and in_rv(len(w) - 1):
        w = w[:-1]
        if len(w) >= 2 and (
            (w.endswith("gu") and in_rv(len(w) - 1))
            or (w.endswith("ci") and in_rv(len(w) - 1))
        ):
            w = w[:-1]
    elif w.endswith("ç"):
        w = w[:-1] + "c"

    return w.replace("a~", "ã").replace("o~", "õ")
