"""Porter2 (Snowball "english") stemmer, implemented from the published
algorithm description (snowballstem.org/algorithms/english/stemmer.html).

The reference engine normalizes types with ``stemming.porter2.stem``
(reference: engine/text/basictokenprocessor.py:38-40, requirements.txt:3),
an implementation of the same public Porter2 algorithm.  This module is a
from-scratch implementation of that algorithm; the single-node oracle and the
Spark pipeline both import it, so rank-identity between them is exact by
construction.

Pure Python, no dependencies.  In the index build it runs inside the fused
tokenize kernels on the executors (indexing/build_dist.py), once per distinct
type of each partition through a cross-batch memo, never per token or
posting row; the driver stems nothing but query terms.  Its speed is
therefore on the build's tokenize pass, though a partition's distinct types
are a small share of its tokens.  The Spark tokenize expression
(text/spark_tokenize.py) applies it as a UDF over the distinct-type
dictionary.
"""

from __future__ import annotations

VOWELS = frozenset("aeiouy")  # marked consonant-y is 'Y', not in this set
DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
LI_ENDINGS = frozenset("cdeghkmnrt")

_EXCEPTIONS1 = {
    "skis": "ski",
    "skies": "sky",
    "dying": "die",
    "lying": "lie",
    "tying": "tie",
    "idly": "idl",
    "gently": "gentl",
    "ugly": "ugli",
    "early": "earli",
    "only": "onli",
    "singly": "singl",
    # invariant forms
    "sky": "sky",
    "news": "news",
    "howe": "howe",
    "atlas": "atlas",
    "cosmos": "cosmos",
    "bias": "bias",
    "andes": "andes",
}

_EXCEPTIONS2 = frozenset(
    ["inning", "outing", "canning", "herring", "earring", "proceed", "exceed", "succeed"]
)

# ordered longest-first so a simple first-match scan implements the
# longest-suffix rule of the Snowball spec
_STEP2_SUFFIXES = (
    ("ization", "ize"),
    ("ational", "ate"),
    ("fulness", "ful"),
    ("ousness", "ous"),
    ("iveness", "ive"),
    ("tional", "tion"),
    ("biliti", "ble"),
    ("lessli", "less"),
    ("entli", "ent"),
    ("ation", "ate"),
    ("alism", "al"),
    ("aliti", "al"),
    ("ousli", "ous"),
    ("iviti", "ive"),
    ("fulli", "ful"),
    ("enci", "ence"),
    ("anci", "ance"),
    ("abli", "able"),
    ("izer", "ize"),
    ("ator", "ate"),
    ("alli", "al"),
    ("bli", "ble"),
)

_STEP3_SUFFIXES = (
    ("ational", "ate"),
    ("tional", "tion"),
    ("alize", "al"),
    ("icate", "ic"),
    ("iciti", "ic"),
    ("ical", "ic"),
    ("ness", ""),
    ("ful", ""),
)

_STEP4_SUFFIXES = (
    "ement",
    "ance",
    "ence",
    "able",
    "ible",
    "ment",
    "ant",
    "ent",
    "ism",
    "ate",
    "iti",
    "ous",
    "ive",
    "ize",
    "ion",
    "al",
    "er",
    "ic",
)


def _has_vowel(segment: str) -> bool:
    return any(ch in VOWELS for ch in segment)


def _compute_r1(word: str) -> int:
    """R1 = region after the first non-vowel following a vowel (or the null
    region at the end of the word if there is no such non-vowel).  The spec
    fixes R1 after the prefixes gener-, commun-, arsen-."""
    for prefix in ("gener", "commun", "arsen"):
        if word.startswith(prefix):
            return len(prefix)
    for i in range(1, len(word)):
        if word[i] not in VOWELS and word[i - 1] in VOWELS:
            return i + 1
    return len(word)


def _compute_r2(word: str, r1: int) -> int:
    """R2 = the R1 rule applied within R1 (vowel must be at index >= r1)."""
    for i in range(r1 + 1, len(word)):
        if word[i] not in VOWELS and word[i - 1] in VOWELS:
            return i + 1
    return len(word)


def _ends_short_syllable(word: str) -> bool:
    """A short syllable is (a) a vowel followed by a non-vowel other than
    w, x or Y, preceded by a non-vowel; or (b) a vowel at the beginning of
    the word followed by a non-vowel."""
    n = len(word)
    if n == 2:
        return word[0] in VOWELS and word[1] not in VOWELS
    if n >= 3:
        c_prev, v, c_next = word[n - 3], word[n - 2], word[n - 1]
        return (
            v in VOWELS
            and c_next not in VOWELS
            and c_next not in "wxY"
            and c_prev not in VOWELS
        )
    return False


def _is_short(word: str, r1: int) -> bool:
    """A word is short if it ends in a short syllable and R1 is null."""
    return r1 >= len(word) and _ends_short_syllable(word)


def stem(word: str) -> str:
    """Stem one word with the Porter2 (Snowball English) algorithm."""
    word = word.lower()
    if word and word[0] == "'":
        word = word[1:]
    if len(word) <= 2:
        return word

    if word in _EXCEPTIONS1:
        return _EXCEPTIONS1[word]

    # mark consonant y as Y: initial y, or y after a vowel
    chars = list(word)
    if chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in VOWELS:
            chars[i] = "Y"
    word = "".join(chars)

    r1 = _compute_r1(word)
    r2 = _compute_r2(word, r1)

    # Step 0: longest of  's'  's  '
    for suf in ("'s'", "'s", "'"):
        if word.endswith(suf):
            word = word[: -len(suf)]
            break

    # Step 1a (longest match)
    if word.endswith("sses"):
        word = word[:-2]
    elif word.endswith("ied") or word.endswith("ies"):
        # replace by "ie" when preceded by exactly one letter, else "i"
        word = word[:-2] if len(word) > 4 else word[:-1]
    elif word.endswith("us") or word.endswith("ss"):
        pass
    elif word.endswith("s"):
        if _has_vowel(word[:-2]):
            word = word[:-1]

    if word in _EXCEPTIONS2:
        return word

    # Step 1b (longest match among eedly ingly edly eed ing ed)
    for suf in ("eedly", "ingly", "edly", "eed", "ing", "ed"):
        if word.endswith(suf):
            if suf in ("eedly", "eed"):
                if len(word) - len(suf) >= r1:
                    word = word[: -len(suf)] + "ee"
            else:
                stem_part = word[: -len(suf)]
                if _has_vowel(stem_part):
                    word = stem_part
                    if word.endswith(("at", "bl", "iz")):
                        word += "e"
                    elif word.endswith(DOUBLES):
                        word = word[:-1]
                    elif _is_short(word, r1):
                        word += "e"
            break

    # Step 1c: y/Y -> i when preceded by a non-vowel that is not the first
    # letter of the word
    if len(word) > 2 and word[-1] in "yY" and word[-2] not in VOWELS:
        word = word[:-1] + "i"

    # Step 2 (suffix must lie in R1)
    for suf, rep in _STEP2_SUFFIXES:
        if word.endswith(suf):
            if len(word) - len(suf) >= r1:
                word = word[: -len(suf)] + rep
            break
    else:
        if word.endswith("ogi"):
            if len(word) - 3 >= r1 and len(word) >= 4 and word[-4] == "l":
                word = word[:-1]
        elif word.endswith("li"):
            if len(word) - 2 >= r1 and len(word) >= 3 and word[-3] in LI_ENDINGS:
                word = word[:-2]

    # Step 3 (suffix in R1; "ative" additionally requires R2)
    for suf, rep in _STEP3_SUFFIXES:
        if word.endswith(suf):
            if len(word) - len(suf) >= r1:
                word = word[: -len(suf)] + rep
            break
    else:
        if word.endswith("ative"):
            if len(word) - 5 >= r2:
                word = word[:-5]

    # Step 4 (suffix must lie in R2)
    for suf in _STEP4_SUFFIXES:
        if word.endswith(suf):
            if len(word) - len(suf) >= r2:
                if suf == "ion":
                    if len(word) >= 4 and word[-4] in "st":
                        word = word[:-3]
                else:
                    word = word[: -len(suf)]
            break

    # Step 5
    if word.endswith("e"):
        if len(word) - 1 >= r2:
            word = word[:-1]
        elif len(word) - 1 >= r1 and not _ends_short_syllable(word[:-1]):
            word = word[:-1]
    elif word.endswith("ll") and len(word) - 1 >= r2:
        word = word[:-1]

    return word.replace("Y", "y")
