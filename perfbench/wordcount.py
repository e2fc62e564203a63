"""Word count for the ``mr_job`` workload, in both forms ``run_job`` takes.

As callables (``map_words`` / ``reduce_counts``) the functions are
pickled to the Python workers by import path, so this module imports
nothing heavy. Run as a script (``wordcount.py map`` / ``wordcount.py
reduce``) it is the executable mapper and reducer ``RDD.pipe`` starts:
the reducer reads ``key<TAB>value`` lines sorted by key, as the
reference engine's reduce executables do.
"""

from __future__ import annotations

import random
import sys
from collections import Counter
from itertools import accumulate, groupby


def map_words(line: str):
    return [(w, "1") for w in line.split()]


def reduce_counts(key: str, values):
    return [(key, str(sum(int(v) for v in values)))]


def make_corpus(seed: int, n_files: int, bytes_per_file: int, vocab: int = 20000,
                zipf_s: float = 1.1) -> tuple[list[str], Counter]:
    """``n_files`` texts of about ``bytes_per_file`` bytes each, words
    drawn from a Zipf(``zipf_s``) vocabulary of ``vocab`` words, plus
    the exact word counts."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = sorted({
        "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        for _ in range(vocab)
    })
    rng.shuffle(words)
    cum = list(accumulate(1.0 / (r + 1) ** zipf_s for r in range(len(words))))
    counts: Counter = Counter()
    texts = []
    for _ in range(n_files):
        lines, size = [], 0
        while size < bytes_per_file:
            line = rng.choices(words, cum_weights=cum, k=rng.randint(4, 16))
            counts.update(line)
            text = " ".join(line)
            lines.append(text)
            size += len(text) + 1
        texts.append("\n".join(lines) + "\n")
    return texts, counts


def read_counts(paths) -> Counter:
    """Parse ``word<TAB>count`` output files."""
    out: Counter = Counter()
    for p in paths:
        with open(p) as f:
            for line in f:
                key, _, value = line.rstrip("\n").partition("\t")
                out[key] += int(value)
    return out


def _main(mode: str) -> None:
    out = sys.stdout
    if mode == "map":
        for line in sys.stdin:
            for w in line.split():
                out.write(f"{w}\t1\n")
    elif mode == "reduce":
        rows = (line.rstrip("\n").partition("\t") for line in sys.stdin)
        for key, group in groupby(rows, key=lambda r: r[0]):
            out.write(f"{key}\t{sum(int(r[2]) for r in group)}\n")
    else:
        raise SystemExit(f"usage: wordcount.py map|reduce (got {mode!r})")


if __name__ == "__main__":
    _main(sys.argv[1] if len(sys.argv) > 1 else "")
