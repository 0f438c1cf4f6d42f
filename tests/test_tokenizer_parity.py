"""Tokenizer parity — the SURVEY risk-register item #1: Go
``unicode.IsLetter`` (category L*) vs Java ``\\p{L}`` (Spark + DuckDB
oracles) vs the pure-Python engine path. All three must split
identically or the A1/A2 golden outputs diverge on non-ASCII corpora.
"""

from __future__ import annotations

import unicodedata

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import Row
from pyspark.sql import functions as F

from mit6_5840_6_824_lab1_mapreduce_spark.functions.tokenize import (
    letter_tokens,
    tokenize_py,
)

# Latin/accents, German, Greek, Cyrillic, CJK, Arabic (RTL), Hebrew,
# combining mark, Roman numeral (Nl), fractions/circled digits (No),
# modifier letter (Lm), digits, underscore (reference splits on it:
# not a letter), emoji, punctuation runs, empty-ish strings.
CURATED = [
    "hello world",
    "Pride and Prejudice, by Jane Austen",
    "café résumé naïve",
    "Straße GROSS ß",
    "αβγ Ωμέγα",
    "Привет мир",
    "中文分词 測試",
    "مرحبا بالعالم",
    "שלום עולם",
    "éclair",          # e + combining acute: mark splits the run
    "aⅧb",                   # Nl inside a run → must split to a, b
    "x½y ③z",               # No characters → split
    "ʰaʺb",                  # Lm is a letter; U+02BA is Sk → splits
    "under_score and-dash",
    "digits123inside",
    "🎉emoji🎉party",
    "  \t\n  ",
    "",
    "_",
    "ⅧⅨⅩ",
]


def _go_is_letter_tokens(text: str) -> list[str]:
    """Direct restatement of the reference tokenizer: maximal runs of
    chars with unicodedata category L* (== Go unicode.IsLetter)."""
    out, cur = [], []
    for ch in text:
        if unicodedata.category(ch).startswith("L"):
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def test_isalpha_fast_path_is_exactly_category_letter():
    """``tokenize_py`` keeps a run whole when ``str.isalpha()`` holds, so
    that must be category L* (Go IsLetter) for every code point, and
    runs the pre-segmenter admits with Nl/No in them must still split."""
    bad = [
        hex(c)
        for c in range(0x110000)
        if chr(c).isalpha() != unicodedata.category(chr(c)).startswith("L")
    ]
    assert bad == []
    assert tokenize_py("aⅧb") == ["a", "b"]
    assert tokenize_py("x½y ③z") == ["x", "y", "z"]


def test_python_tokenizer_matches_go_model_curated():
    for text in CURATED:
        assert tokenize_py(text) == _go_is_letter_tokens(text), repr(text)


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        # stable-for-decades codepoint range: Latin through CJK
        # symbols + a CJK slice — avoids Unicode-version skew between
        # the JVM's and Python's tables on recently-added characters
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x2FFF),
        max_size=80,
    )
)
def test_python_tokenizer_matches_go_model_property(text):
    assert tokenize_py(text) == _go_is_letter_tokens(text)


def test_jvm_tokenizer_matches_python_curated(spark):
    df = spark.createDataFrame(
        [Row(i=i, text=t) for i, t in enumerate(CURATED)]
    )
    got = {
        r["i"]: r["toks"]
        for r in df.select(
            "i", letter_tokens(F.col("text")).alias("toks")
        ).collect()
    }
    for i, t in enumerate(CURATED):
        assert got[i] == tokenize_py(t), repr(t)
