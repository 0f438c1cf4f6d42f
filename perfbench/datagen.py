"""Seeded input for ``mr_corpus``, and its expected output.

    python3 perfbench/datagen.py --seed 1 --out DIR

``write_corpus`` writes whole text files drawn from a Zipf vocabulary
that mixes ASCII and multibyte letters, with digits and punctuation
between words so the tokenizer has non-letters to split on. It is a
pure function of its arguments: the same seed gives byte-identical
files.

The command line writes the timed corpus (``DIR/main``), the fixed
warm-up corpus (``DIR/warm``) and ``DIR/expected.json``: for each app,
the ``layers.line_digest`` of the lines ``run_sequential`` produces on
the timed corpus. The runner calls it in a child process, so neither
the generator nor the reference run counts in the runner's peak RSS.

The table workloads need no generator: they read the engine's seed-42
test tables, copied under ``perfbench/data``.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys

import numpy as np

WARM_SEED = 7  # the warm-up corpus is the same in every run
VOCAB_SEED = 11
MAIN_BYTES = 1_500_000
WARM_FILES, WARM_BYTES = 2, 40_000

# Letters the vocabulary is built from: ASCII plus Latin-1, Greek,
# Cyrillic and CJK letters (all Unicode category L*), so UTF-8 words of
# 1-3 bytes per letter reach the map function.
_ALPHABET = list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ") + list(
    "éèüößñøåçàλπσωжщыяд中文字词语"
)
# Non-letter separators: space dominates; digits and punctuation are
# split points for the tokenizer just like spaces.
_SEPARATORS = [" "] * 12 + ["\n", ", ", ". ", " 42 ", "-", "; ", " (", ") ", "'", " 7"]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    out: list[str] = []
    # Draw ASCII-heavy words with a minority of multibyte letters.
    weights = np.array([6.0] * 52 + [1.0] * (len(_ALPHABET) - 52))
    weights /= weights.sum()
    while len(out) < size:
        n = int(rng.integers(1, 11))
        w = "".join(rng.choice(_ALPHABET, size=n, p=weights))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def write_corpus(
    out_dir: pathlib.Path,
    seed: int,
    n_files: int = 16,
    total_bytes: int = 4_000_000,
    vocab_size: int = 20_000,
    zipf_s: float = 1.1,
) -> list[pathlib.Path]:
    """Write ``n_files`` text files of about ``total_bytes`` in all and
    return their paths in name order.

    The vocabulary and its Zipf ranks are the same for every seed; the
    seed draws the text. Drawing the vocabulary per seed made the work
    differ by seed: one seed's frequent words were shorter, so its
    corpus held more words and every run of it was 15% slower."""
    vocab = np.array(_vocabulary(np.random.default_rng(VOCAB_SEED), vocab_size), dtype=object)
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks**-zipf_s
    p /= p.sum()
    seps = np.array(_SEPARATORS, dtype=object)
    out_dir.mkdir(parents=True, exist_ok=True)
    paths = []
    # Files differ in size (0.5x-1.5x the mean) so map tasks differ, but
    # every seed gives the same total within a few bytes, so run times
    # of different seeds compare.
    shares = 0.5 + rng.random(n_files)
    targets = (total_bytes * shares / shares.sum()).astype(int)
    for i, target in enumerate(targets):
        parts: list[str] = []
        size = 0
        while size < target:
            words = vocab[rng.choice(vocab_size, size=2048, p=p)]
            gaps = seps[rng.integers(0, len(seps), size=2048)]
            chunk = "".join(w + g for w, g in zip(words, gaps))
            parts.append(chunk)
            size += len(chunk.encode("utf-8"))
        # Cut at the target; a letter split by the cut is dropped.
        data = "".join(parts).encode("utf-8")[:target]
        path = out_dir / f"pg-{i:02d}.txt"
        path.write_bytes(data.decode("utf-8", errors="ignore").encode("utf-8"))
        paths.append(path)
    return paths


def sequential_lines(app: str, corpus: list[pathlib.Path]) -> list[str]:
    """The ``"key value"`` lines ``run_sequential`` produces."""
    from mit6_5840_6_824_lab1_mapreduce_spark.operators.mapreduce import run_sequential
    from mit6_5840_6_824_lab1_mapreduce_spark.operators.mrapps import APPS

    # wholeTextFiles names each record by its Hadoop path.
    pairs = [(f"file:{p}", p.read_text(encoding="utf-8")) for p in corpus]
    return [f"{k} {v}" for k, v in run_sequential(pairs, *APPS[app])]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", type=pathlib.Path, required=True)
    ap.add_argument("--apps", nargs="+", default=["wc", "indexer"])
    args = ap.parse_args(argv)
    root = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root))
    from perfbench.layers import line_digest

    out = args.out.resolve()
    corpus = write_corpus(out / "main", args.seed, total_bytes=MAIN_BYTES)
    write_corpus(out / "warm", WARM_SEED, n_files=WARM_FILES, total_bytes=WARM_BYTES)
    expected = {app: line_digest(sequential_lines(app, corpus)) for app in args.apps}
    (out / "expected.json").write_text(json.dumps(expected))
    return 0


if __name__ == "__main__":
    sys.exit(main())
