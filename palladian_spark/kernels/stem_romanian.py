"""Snowball Romanian stemmer (snowballstem.org — the reference dispatches
ROMANIAN to org.tartarus.snowball.ext.romanianStemmer,
extraction/feature/Stemmer.java:82-83).

Golden-tested word-for-word against the official implementation shipped in
PostgreSQL 15 (dict_snowball): tests/fixtures/romanian_stem_golden.tsv,
regenerated by tools/gen_snowball_goldens.py. Cedilla forms (ş/ţ) are the
working alphabet; comma-below input (ș/ț) is normalized in the prelude the
way Snowball 2.x does.
"""

from __future__ import annotations

from .snowball import longest_suffix, r1_r2, rv as std_rv

_RO_VOWELS = set("aăâeiîou")


def _ro_prelude(w: str) -> str:
    w = w.replace("ș", "ş").replace("ț", "ţ")
    chars = list(w)
    n = len(chars)
    for i in range(1, n - 1):
        if chars[i] in "ui" and chars[i - 1] in _RO_VOWELS and chars[i + 1] in _RO_VOWELS:
            chars[i] = chars[i].upper()
    return "".join(chars)


_STEP0 = [
    "iilor", "ului", "iile", "ilor", "atei", "aţie", "aţia", "aua",
    "ele", "elor", "iua", "iei", "ile", "ul", "ea", "ii",
]

_STEP1_MAP = [
    (("abilitate", "abilitati", "abilităi", "abilităţi"), "abil"),
    (("ibilitate",), "ibil"),
    (("ivitate", "ivitati", "ivităi", "ivităţi"), "iv"),
    (("icitate", "icitati", "icităi", "icităţi", "icator", "icatori",
      "iciv", "iciva", "icive", "icivi", "icivă", "ical", "icala",
      "icale", "icali", "icală"), "ic"),
    (("ativ", "ativa", "ative", "ativi", "ativă", "aţiune", "atoare",
      "ator", "atori", "ătoare", "ător", "ători"), "at"),
    (("itiv", "itiva", "itive", "itivi", "itivă", "iţiune", "itoare",
      "itor", "itori"), "it"),
]
_STEP1_ALL = [s for sufs, _ in _STEP1_MAP for s in sufs]
_STEP1_REPL = {s: rep for sufs, rep in _STEP1_MAP for s in sufs}

_STEP2_DELETE = [
    "at", "ata", "ată", "ati", "ate", "ut", "uta", "ută", "uti", "ute",
    "it", "ita", "ită", "iti", "ite", "ic", "ica", "ice", "ici", "ică",
    "abil", "abila", "abile", "abili", "abilă", "ibil", "ibila",
    "ibile", "ibili", "ibilă", "oasa", "oasă", "oase", "os", "osi",
    "oşi", "ant", "anta", "ante", "anti", "antă", "ator", "atori",
    "itate", "itati", "ităi", "ităţi", "iv", "iva", "ive", "ivi", "ivă",
]
_STEP2_IUNE = ["iune", "iuni"]
_STEP2_IST = ["ism", "isme", "ist", "ista", "iste", "isti", "istă", "işti"]

_VERB_1 = [
    "are", "ere", "ire", "âre", "ind", "ând", "indu", "ându", "eze",
    "ească", "ez", "ezi", "ează", "esc", "eşti", "eşte", "ăsc", "ăşti",
    "ăşte", "am", "ai", "au", "eam", "eai", "eau", "iam", "iai", "iau",
    "ui", "aşi", "arăm", "arăţi", "ară", "uşi", "urăm", "urăţi", "ură",
    "işi", "irăm", "irăţi", "iră", "âi", "âşi", "ârăm", "ârăţi", "âră",
    "asem", "aseşi", "ase", "aserăm", "aserăţi", "aseră", "isem",
    "iseşi", "ise", "iserăm", "iserăţi", "iseră", "âsem", "âseşi",
    "âse", "âserăm", "âserăţi", "âseră", "usem", "useşi", "use",
    "userăm", "userăţi", "useră",
]
_VERB_1 = _VERB_1 + [
    # vowel-extended imperfect forms: their presence is what protects
    # citiaţi/citeaţi/mariaţi (the longer entry matches, its in-RV
    # consonant-or-u test fails, and among() never retries the shorter
    # unconditional 'aţi')
    "eaţi", "iaţi", "ia",
]
_VERB_2 = [
    # person endings delete unconditionally (maraţi/citaţi/citiem -> stem)
    "ăm", "aţi", "em", "eţi", "im", "iţi", "âm", "âţi",
    "seşi", "serăm", "serăţi", "seră", "sei", "se", "sesem", "seseşi",
    "sese", "seserăm", "seserăţi", "seseră",
]


def romanian_stem(word: str) -> str:
    w = _ro_prelude(word)
    rv = std_rv(w, _RO_VOWELS)
    r1, r2 = r1_r2(w, _RO_VOWELS)

    # ---- step 0: plural / article removal (R1 condition) ----
    m = longest_suffix(w, _STEP0)
    if m and len(w) - len(m) >= r1:
        p = len(w) - len(m)
        if m in ("ul", "ului"):
            w = w[:p]
        elif m == "aua":
            w = w[:p] + "a"
        elif m in ("ea", "ele", "elor"):
            w = w[:p] + "e"
        elif m in ("ii", "iua", "iei", "iile", "iilor", "ilor"):
            w = w[:p] + "i"
        elif m == "ile":
            if not w[:p].endswith("ab"):
                w = w[:p] + "i"
        elif m == "atei":
            w = w[:p] + "at"
        elif m in ("aţie", "aţia"):
            w = w[:p] + "aţi"

    # ---- step 1: combining suffixes, repeated (R1 condition) ----
    step12_removed = False
    while True:
        m = longest_suffix(w, _STEP1_ALL)
        if not m or len(w) - len(m) < r1:
            break
        w = w[: len(w) - len(m)] + _STEP1_REPL[m]
        step12_removed = True

    # ---- step 2: standard suffixes (R2 condition) ----
    m = longest_suffix(w, _STEP2_DELETE + _STEP2_IUNE + _STEP2_IST)
    if m and len(w) - len(m) >= r2:
        p = len(w) - len(m)
        if m in _STEP2_IUNE:
            if p > 0 and w[p - 1] == "ţ":
                w = w[: p - 1] + "t"
                step12_removed = True
        elif m in _STEP2_IST:
            w = w[:p] + "ist"
            step12_removed = True
        else:
            w = w[:p]
            step12_removed = True

    # ---- step 3: verb suffixes, only if steps 1-2 removed nothing (RV) --
    if not step12_removed:
        best = longest_suffix(w, _VERB_1 + _VERB_2, rv)
        if best:
            p = len(w) - len(best)
            if best in _VERB_2:
                w = w[:p]
            else:
                # preceded INSIDE RV by a consonant or u (maream/marare
                # keep theirs: the r sits at rv-1, outside the limit)
                if p - 1 >= rv and (w[p - 1] not in _RO_VOWELS or w[p - 1] in ("u", "U")):
                    w = w[:p]

    # ---- step 4: final vowel (among is global; RV is the condition —
    # 'scrie' keeps its e because the longer 'ie' matches outside RV and
    # among() never retries) ----
    m = longest_suffix(w, ["ie", "a", "e", "i", "ă"])
    if m and len(w) - len(m) >= rv:
        w = w[: len(w) - len(m)]

    return w.replace("I", "i").replace("U", "u")
