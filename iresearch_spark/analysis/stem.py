"""English Snowball (Porter2) stemmer + accent stripping, pure Python.

The reference's flagship ``text`` analyzer pipeline is locale tokenize ->
lower -> accent strip -> stopwords -> snowball stem
(`/root/reference/core/analysis/text_token_stream.cpp:29-44,91-98,398`,
which links libstemmer). This is an independent implementation of the
published Porter2 algorithm (snowballstem.org); parity with the Snowball C
library is pytest-gated against DuckDB's ``stem(x, 'english')`` (same
libstemmer) over a large word list.

Vectorization note: stemming is inherently per-token string work, so the
build keeps it OUT of the hot path — tokens are stemmed once per distinct
term via a dictionary (the per-batch unique set), not per occurrence.
"""

from __future__ import annotations

import unicodedata

_VOWELS = frozenset("aeiouy")
_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_LI_ENDING = frozenset("cdeghkmnrt")

_EXCEPTIONS = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}

_EXCEPTIONS_1A = frozenset(
    ("inning", "outing", "canning", "herring", "earring",
     "proceed", "exceed", "succeed")
)


def strip_accents(s: str) -> str:
    """NFD-decompose and drop combining marks (the utf8::utf_to_utf +
    accent-removal step of the reference's text analyzer)."""
    return "".join(
        c for c in unicodedata.normalize("NFD", s)
        if not unicodedata.combining(c)
    )


def _ends_short_syllable(word: str) -> bool:
    """Short syllable at the END of the word: either (a) vowel + non-vowel
    (not w/x/Y) preceded by a non-vowel, or (b) a vowel at position 0
    followed by a non-vowel."""
    n = len(word)
    if n == 2:
        return word[0] in _VOWELS and word[1] not in _VOWELS
    if n >= 3:
        c1, v, c2 = word[-3], word[-2], word[-1]
        return (
            v in _VOWELS
            and c2 not in _VOWELS
            and c2 not in "wxY"
            and c1 not in _VOWELS
        )
    return False


def _regions(word: str) -> tuple[int, int]:
    """(r1, r2) start offsets per the Porter2 definition."""
    n = len(word)
    r1 = n
    if word.startswith(("gener", "arsen")):
        r1 = 5
    elif word.startswith("commun"):
        r1 = 6
    else:
        for i in range(1, n):
            if word[i] not in _VOWELS and word[i - 1] in _VOWELS:
                r1 = i + 1
                break
    r2 = n
    for i in range(r1 + 1, n):
        if word[i] not in _VOWELS and word[i - 1] in _VOWELS:
            r2 = i + 1
            break
    return r1, r2


def _has_vowel(s: str) -> bool:
    return any(c in _VOWELS for c in s)


def stem_english(word: str) -> str:
    """Porter2 / Snowball English stem of a lower-case word."""
    if len(word) <= 2:
        return word
    if word[0] == "'":
        word = word[1:]
    if word in _EXCEPTIONS:
        return _EXCEPTIONS[word]
    if len(word) <= 2:
        return word
    # mark consonant-y as Y
    if word[0] == "y":
        word = "Y" + word[1:]
    word = word[0] + "".join(
        "Y" if word[i] == "y" and word[i - 1] in _VOWELS else word[i]
        for i in range(1, len(word))
    )
    r1, r2 = _regions(word)

    # step 0: apostrophe suffixes
    for suf in ("'s'", "'s", "'"):
        if word.endswith(suf):
            word = word[: -len(suf)]
            break

    # step 1a
    if word.endswith("sses"):
        word = word[:-2]
    elif word.endswith(("ied", "ies")):
        word = word[:-3] + ("i" if len(word) > 4 else "ie")
    elif word.endswith(("us", "ss")):
        pass
    elif word.endswith("s"):
        if _has_vowel(word[:-2]):
            word = word[:-1]

    if word in _EXCEPTIONS_1A:
        return word

    # step 1b
    if word.endswith(("eedly", "eed")):
        suf = "eedly" if word.endswith("eedly") else "eed"
        if len(word) - len(suf) >= r1:
            word = word[: -len(suf)] + "ee"
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if word.endswith(suf):
                stem = word[: -len(suf)]
                if _has_vowel(stem):
                    word = stem
                    if word.endswith(("at", "bl", "iz")):
                        word = word + "e"
                    elif word.endswith(_DOUBLES):
                        word = word[:-1]
                    elif _is_short_word(word, r1):
                        word = word + "e"
                break

    # step 1c: y -> i after a consonant that is not at position 0
    if (
        len(word) > 2
        and word[-1] in "yY"
        and word[-2] not in _VOWELS
    ):
        word = word[:-1] + "i"

    # step 2 (longest suffix, condition: suffix in R1)
    n = len(word)

    def in_r1(suf: str) -> bool:
        return len(word) - len(suf) >= r1

    def in_r2(suf: str) -> bool:
        return len(word) - len(suf) >= r2

    step2 = (
        ("ization", "ize"), ("ational", "ate"), ("fulness", "ful"),
        ("ousness", "ous"), ("iveness", "ive"), ("tional", "tion"),
        ("biliti", "ble"), ("lessli", "less"), ("entli", "ent"),
        ("ation", "ate"), ("alism", "al"), ("aliti", "al"),
        ("ousli", "ous"), ("iviti", "ive"), ("fulli", "ful"),
        ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
        ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
        ("bli", "ble"), ("ogi", "og"), ("li", ""),
    )
    for suf, rep in step2:
        if word.endswith(suf):
            if suf == "ogi":
                if in_r1(suf) and word.endswith("logi"):
                    word = word[:-3] + rep
            elif suf == "li":
                if in_r1(suf) and len(word) > 2 and word[-3] in _LI_ENDING:
                    word = word[:-2]
            else:
                if in_r1(suf):
                    word = word[: -len(suf)] + rep
            break

    # step 3
    step3 = (
        ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
        ("icate", "ic"), ("iciti", "ic"), ("ical", "ic"),
        ("ful", ""), ("ness", ""),
    )
    matched3 = False
    for suf, rep in step3:
        if word.endswith(suf):
            if in_r1(suf):
                word = word[: -len(suf)] + rep
            matched3 = True
            break
    if not matched3 and word.endswith("ative") and in_r2("ative"):
        word = word[:-5]

    # step 4 (condition: suffix in R2)
    step4 = (
        "ement", "ance", "ence", "able", "ible", "ment",
        "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
        "ion", "al", "er", "ic",
    )
    for suf in step4:
        if word.endswith(suf):
            if suf == "ion":
                if in_r2(suf) and len(word) > 3 and word[-4] in "st":
                    word = word[:-3]
            elif in_r2(suf):
                word = word[: -len(suf)]
            break

    # step 5
    if word.endswith("e"):
        if in_r2("e") or (
            in_r1("e") and not _ends_short_syllable(word[:-1])
        ):
            word = word[:-1]
    elif word.endswith("l"):
        if in_r2("l") and len(word) > 1 and word[-2] == "l":
            word = word[:-1]

    return word.replace("Y", "y")


def _is_short_word(word: str, r1: int) -> bool:
    """Short word: R1 is empty (the region starts at/after the word end)
    and the word ends in a short syllable."""
    return r1 >= len(word) and _ends_short_syllable(word)
