"""Seeded input generator for the benchmark's MapReduce corpus.

`corpus` writes the text corpus: Zipf(s) word frequencies over a fixed
vocabulary (a few keys are hot) and lognormal file sizes (one file is one
map task, so the largest file is a straggler). The same seed gives
byte-identical files.
"""
import math
import os
from statistics import NormalDist

import numpy as np


def corpus(out, seed, mb, files, vocab, zipf_s=1.0, sigma=1.0):
    """Write `files` text files of about `mb` MB in total into `out`.

    Words are drawn Zipf(zipf_s) over `vocab` distinct letter-only words.
    File sizes are the lognormal(0, sigma) quantiles at (i + 0.5) / files,
    scaled to the total and assigned to files in a seeded order: every seed
    has the same size skew (the same straggler), so the seed varies the
    content and not the amount of work. Separators
    mix spaces, newlines and punctuation, so tokenizing on non-letters is
    exercised. Returns (bytes written, file count).
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyzéöß"))
    letter_p = np.r_[np.full(26, 0.99 / 26), np.full(3, 0.01 / 3)]
    seen, words = set(), []
    while len(words) < vocab:
        w = "".join(rng.choice(letters, int(rng.integers(2, 11)), p=letter_p))
        if w not in seen:
            seen.add(w)
            words.append(w)
    words = np.array(words)
    rank_p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    cdf = np.cumsum(rank_p / rank_p.sum())
    target = int(mb * 1_000_000)
    avg_len = float((np.char.str_len(words) * rank_p).sum() / rank_p.sum()) + 1.2
    idx = np.minimum(np.searchsorted(cdf, rng.random(int(target / avg_len))),
                     vocab - 1)
    seps = np.array([" ", "\n", ", ", ". "])[
        rng.choice(4, len(idx), p=[0.85, 0.07, 0.05, 0.03])]
    sizes = rng.permutation([math.exp(sigma * NormalDist().inv_cdf((i + 0.5) / files))
                             for i in range(files)])
    bounds = np.r_[0, np.round(np.cumsum(sizes) / sizes.sum() * len(idx))].astype(int)
    total = 0
    for f in range(files):
        a, b = bounds[f], bounds[f + 1]
        body = "".join(np.char.add(words[idx[a:b]], seps[a:b]))
        data = body.encode("utf-8")
        with open(os.path.join(out, f"f{f:04d}.txt"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total, files
