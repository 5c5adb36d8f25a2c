"""Porter stemming + the reference's notebook tokeniser (SURVEY §2.8 F16).

Reference: /root/reference/notebooks/outliers.ipynb cell 3 — lowercase,
``[^a-z- ]`` → space, ``\\s-\\s`` → space, spaCy POS filter (NOUN/ADJ,
lemma length > 1), PorterStemmer on each surviving token.

Pieces:

- ``porter_stem``: pure-Python implementation of the ORIGINAL Porter (1980)
  algorithm — no NLTK dependency. NLTK's PorterStemmer defaults to its
  NLTK_EXTENSIONS mode which deviates from the paper on a small word set
  (pooled irregulars, a few rule tweaks); the divergence is documented here
  and the goldens pin the paper's own examples.
- ``tokens_stemmed_udf``: notebook cleaning regexes + Porter, no POS filter.
- ``pos_keep_approx`` / ``tokenize_notebook_pos_approx`` /
  ``pos_filtered_tokens_col``: a deterministic stand-in for the spaCy
  NOUN/ADJ filter (spaCy is not a dependency), its divergence pinned in
  tests/test_pos_approx.py.

The regex tokeniser (operators/ml.tokens_col) remains the default scale
path: it is pure Catalyst, whereas stemming is inherently per-token Python.
"""

from __future__ import annotations

import pandas as pd

_VOWELS = set("aeiou")


def _is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(w, i - 1)
    return True


def _measure(stem: str) -> int:
    """m in Porter's notation: the number of VC blocks in [C](VC)^m[V]."""
    m, prev_cons = 0, True
    started_vowel = False
    for i in range(len(stem)):
        cons = _is_cons(stem, i)
        if not cons:
            started_vowel = True
        elif started_vowel:
            m += 1
            started_vowel = False
        prev_cons = cons  # noqa: F841  (kept for clarity of the scan)
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1)


def _ends_cvc(w: str) -> bool:
    if len(w) < 3:
        return False
    return (
        _is_cons(w, len(w) - 3)
        and not _is_cons(w, len(w) - 2)
        and _is_cons(w, len(w) - 1)
        and w[-1] not in "wxy"
    )


def _replace_longest(w: str, rules: list[tuple[str, str]], min_m: int) -> str:
    """Apply the longest-matching suffix rule whose stem satisfies m > min_m;
    per Porter, once the longest suffix in the step matches, no shorter
    suffix is tried even if the condition fails."""
    best = None
    for suf, rep in rules:
        if w.endswith(suf) and (best is None or len(suf) > len(best[0])):
            best = (suf, rep)
    if best is None:
        return w
    stem = w[: len(w) - len(best[0])]
    if _measure(stem) > min_m:
        return stem + best[1]
    return w


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
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def porter_stem(word: str) -> str:
    """Original Porter (1980) stemmer; words of length <= 2 are untouched."""
    if len(word) <= 2:
        return word
    w = word

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # Step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        hit = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w, hit = w[:-2], True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w, hit = w[:-3], True
        if hit:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _ends_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _measure(w) == 1 and _ends_cvc(w):
                w += "e"

    # Step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    w = _replace_longest(w, _STEP2, 0)  # Step 2 (m > 0)
    w = _replace_longest(w, _STEP3, 0)  # Step 3 (m > 0)

    # Step 4 (m > 1); 'ion' only after s/t
    best = None
    for suf in _STEP4:
        if w.endswith(suf) and (best is None or len(suf) > len(best)):
            best = suf
    if w.endswith("ion") and len(w) >= 4 and w[-4] in "st":
        if best is None or len("ion") > len(best):
            best = "ion"
    if best is not None:
        stem = w[: len(w) - len(best)]
        if _measure(stem) > 1:
            w = stem

    # Step 5a
    if w.endswith("e"):
        m = _measure(w[:-1])
        if m > 1 or (m == 1 and not _ends_cvc(w[:-1])):
            w = w[:-1]
    # Step 5b
    if _measure(w[:-1]) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


def tokenize_notebook(text: str | None, stem: bool = True) -> list[str]:
    """outliers.ipynb cell 3 minus the spaCy POS filter: lowercase,
    ``[^a-z- ]`` → space, ``\\s-\\s`` → space, split, len > 1, Porter."""
    import re

    if text is None:
        return []
    t = re.sub(r"[^a-z- ]", " ", text.lower())
    t = re.sub(r"\s-\s", " ", t)
    toks = [t_ for t_ in t.split() if len(t_) > 1]
    return [porter_stem(t_) for t_ in toks] if stem else toks


def tokens_stemmed_udf():
    """pandas UDF: notebook cleaning + Porter stemming (no POS filter)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def _tok(s: pd.Series) -> pd.Series:
        return s.map(tokenize_notebook)

    return _tok


# ---------------------------------------------------------------------------
# Deterministic POS approximation (round-10 verdict #6).
#
# The reference keeps only spaCy NOUN/ADJ tokens before stemming
# (outliers.ipynb cell 3). spaCy is not a dependency here, so this is a
# closed-class-exclusion approximation: English function words (DET/ADP/
# PRON/CONJ/AUX/PART — closed classes, enumerable), frequent title verbs,
# and ``-ly`` adverbs are DROPPED; everything else (the open classes, which
# in scholarly titles are overwhelmingly nouns/adjectives) is KEPT.
# Divergence vs a hand-annotated NOUN/ADJ gold corpus is measured and
# pinned in tests/test_pos_approx.py.
# ---------------------------------------------------------------------------
# NOTE deliberately absent: 'new', 'old', ordinals, 'same', 'several' —
# spaCy tags them ADJ and the reference's filter keeps them.
POS_FUNCTION_WORDS = frozenset(
    """the a an this that these those each every either neither some any no
    all both few many much more most other another such
    of in on at by for with from to into onto upon over under between
    among through during against about above below across behind beyond
    within without near via per off out up down
    and or but nor so yet if because although though while whereas unless
    since until when where as than whether
    it its they them their theirs we us our ours you your yours he she his
    her hers him i me my mine who whom whose which what itself themselves
    is are was were be been being am has have had having do does did done
    will would can could may might must shall should
    not also only just very too quite rather almost often always never
    sometimes usually however moreover therefore thus hence here there now
    then once twice again further still
    one two three four five six seven eight nine ten
    etc vs eg ie et al""".split()
)

POS_COMMON_VERBS = frozenset(
    """using used use based including included describing described
    comparing compared evaluating evaluated examining examined
    investigating investigated assessing assessed revealing revealed
    reveals reveal suggests suggest suggested shows show showed shown
    found occurring occur occurs occurred recorded collected observed
    noted made make makes taken take takes given gives give added
    inferred resolved updated revisited redescribed transferred
    synonymized erected proposed discovered rediscovered reported
    confirmed presented introduced reviewed discussed analysed analyzed
    illustrated figured documented listed established considered treated
    placed""".split()
)

#: ``-ly`` tokens that are nouns/adjectives, not adverbs ('only' stays
#: droppable — it is in the function-word list).
POS_LY_KEEP = frozenset(
    """family anomaly assembly butterfly dragonfly mayfly firefly fly
    jelly holly lily italy sicily monopoly supply early likely daily
    yearly monthly weekly woolly scaly mealy burly curly hilly chilly
    silly jolly ugly holy""".split()
)


def pos_keep_approx(token: str) -> bool:
    """True when the deterministic approximation classifies ``token`` as
    content (NOUN/ADJ-like): open-class by exclusion."""
    if len(token) <= 1:
        return False
    if token in POS_FUNCTION_WORDS or token in POS_COMMON_VERBS:
        return False
    if token.endswith("ly") and token not in POS_LY_KEEP:
        return False
    return True


def tokenize_notebook_pos_approx(text: str | None) -> list[str]:
    """outliers.ipynb cell 3 with the spaCy NOUN/ADJ filter replaced by
    the deterministic approximation: lowercase, ``[^a-z- ]`` → space,
    ``\\s-\\s`` → space, split, POS-approx keep, Porter."""
    import re

    if text is None:
        return []
    t = re.sub(r"[^a-z- ]", " ", text.lower())
    t = re.sub(r"\s-\s", " ", t)
    return [porter_stem(t_) for t_ in t.split() if pos_keep_approx(t_)]


def pos_filtered_tokens_col(text_col):
    """JVM-side Column twin of the approximation for relational paths:
    the stoplists are literal arrays inside whole-stage codegen — no
    Python worker. Porter stemming is NOT applied here (porter_stem is
    the declared Python stage)."""
    import pyspark.sql.functions as F

    cleaned = F.regexp_replace(F.lower(text_col), r"[^a-z\- ]", " ")
    cleaned = F.regexp_replace(cleaned, r"\s-\s", " ")
    toks = F.filter(F.split(cleaned, " +"), lambda t: t != "")
    drop = sorted(POS_FUNCTION_WORDS | POS_COMMON_VERBS)
    ly_keep = sorted(POS_LY_KEEP)
    return F.filter(
        toks,
        lambda t: (F.length(t) > 1)
        & ~t.isin(*drop)
        & (~t.endswith("ly") | t.isin(*ly_keep)),
    )
