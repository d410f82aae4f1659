"""Seeded text documents for the exact-dedup workload, and their answer.

The documents follow the shape of the sf0.1 ``documents`` fixture:
10-100 words drawn uniformly from a 30-word vocabulary, with ~5% of the
documents a near-copy (an earlier document plus the word ``dup``) and a
few exact copies. Random pairs share few word bigrams, so the Jaccard
>= 0.4 answer is the planted copies (and chance pairs of short docs).

:func:`reference_pairs` is the benchmark's own oracle: the k=2 shingle
sets built in Python with the same rolling hash as
``pprl_spark.functions.text``, and an exhaustive all-pairs Jaccard test
in numpy, in exact integer arithmetic.
"""

from __future__ import annotations

import random

import numpy as np

from pprl_spark.functions.text import HASH_BASE, HASH_MOD

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def make_texts(seed: int, n: int) -> list[str]:
    rng = random.Random(seed * 7_919 + 17)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        elif i > 10 and roll < 0.052:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    return texts


def _rolling_hash(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * HASH_BASE + ord(ch)) % HASH_MOD
    return acc


def shingle_set(text: str, k: int = 2) -> set[int]:
    words = text.lower().split()
    if len(words) < k:
        grams = [" ".join(words)]
    else:
        grams = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
    return {_rolling_hash(g) for g in grams}


def reference_pairs(texts: list[str], num: int = 2, den: int = 5) -> set[tuple[int, int]]:
    """Every (i, j), i < j, with |A∩B| / |A∪B| >= num/den, ids = positions."""
    sets = [shingle_set(t) for t in texts]
    vocab = {h: c for c, h in enumerate(sorted(set().union(*sets)))}
    m = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for row, s in enumerate(sets):
        m[row, [vocab[h] for h in s]] = 1.0
    sizes = m.sum(axis=1).astype(np.int64)
    pairs: set[tuple[int, int]] = set()
    step = 512
    for lo in range(0, len(sets), step):
        inter = (m[lo : lo + step] @ m.T).astype(np.int64)
        union = sizes[lo : lo + step, None] + sizes[None, :] - inter
        hit = inter * den >= union * num
        for a, b in zip(*np.nonzero(hit)):
            i = lo + int(a)
            if i < int(b):
                pairs.add((i, int(b)))
    return pairs


def components(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """doc -> min doc of its component, over the docs the pairs touch."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
