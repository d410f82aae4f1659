"""Salted SHA-256 Bloom-filter hashing — the parity-critical kernel.

Reproduces ``BloomFilterEncoder.bloom_filter_vector_collision_fraction``
(`/root/reference/src/pprl/embedder/bloom_filters.py:44-81`) exactly:

    for each feature g, for i in 0..num_hashes-1:
        idx = int.from_bytes(sha256((g + str(i) + salt).utf8).digest(),
                             "little") % size + offset
    dedupe; collision_fraction = 1 - len(dedup)/len(raw)

Golden vector: ["a","b","c"], size=1024, num_hashes=2, offset=0, no salt
-> index set {334, 1013, 192, 381, 18, 720} (bloom_filters.py:63-67).

The reference dedupes via an unordered Python set (bloom_filters.py:78);
we emit **sorted** indices so stage tables are deterministic across runs
and partition layouts (FIXTURES.md §6 determinism invariant). Tests treat
bf_indices as a set, matching the reference's semantics.

``F.sha2`` cannot reproduce the little-endian-int-mod semantics JVM-side
(SURVEY.md §2.3 F12), so this must be a Python kernel — but it is called
through a *memoized batch* wrapper: across an Arrow batch of rows the
feature vocabulary (bigrams of names, date labels, ...) repeats heavily,
so hashing each distinct (feature, seed) pair once per batch cuts sha256
calls by ~20-50x on realistic data.
"""

from __future__ import annotations

import hashlib
from typing import Iterable


def bloom_indices_with_collisions(
    features: Iterable[str],
    size: int = 1024,
    num_hashes: int = 2,
    offset: int = 0,
    salt: str = "",
    _memo: dict | None = None,
) -> tuple[list[int], float]:
    """Hash one row's feature set into sorted Bloom indices.

    Returns ``(sorted_unique_indices, collision_fraction)``. With
    ``_memo`` (a dict shared across rows of a batch), each distinct
    feature's ``num_hashes`` indices are computed once per batch.
    """
    raw: list[int] = []
    sha256 = hashlib.sha256
    for gram in features:
        if _memo is not None:
            cached = _memo.get(gram)
            if cached is None:
                cached = [
                    int.from_bytes(
                        sha256((str(gram) + str(i) + salt).encode("UTF-8")).digest(),
                        "little",
                    )
                    % size
                    + offset
                    for i in range(num_hashes)
                ]
                _memo[gram] = cached
            raw.extend(cached)
        else:
            for i in range(num_hashes):
                digest = sha256((str(gram) + str(i) + salt).encode("UTF-8")).digest()
                raw.append(int.from_bytes(digest, "little") % size + offset)
    if not raw:
        return [], 0.0
    deduped = sorted(set(raw))
    return deduped, 1.0 - len(deduped) / len(raw)


def pack_bitmap(indices: Iterable[int], n_words: int) -> list[int]:
    """Bloom index list -> fixed-width bitmap as signed int64 words.

    Words are signed, with bit 63 in two's complement, as
    ``operators.candidates.bitmap_intersect_count`` reads them;
    ``tests/test_hashing.py`` pins this against a JVM aggregate. Built
    here so the embed kernel can emit the join-side bitmap ONCE per
    document: Spark's higher-order functions never enter whole-stage
    codegen, so computing the bitmap as a JVM expression costs ~1ms of
    interpreted eval per evaluation — and the optimizer is free to
    re-evaluate an expression per consumer, which turned the candidate
    join intermittently 5x slower (thread dumps showed all cores in
    ``ArrayAggregate.eval``). A 16-word column computed in Python at
    embed time is ~2.7x smaller than the index array it replaces on the
    join side and is never recomputed.
    """
    words = [0] * n_words
    for ix in indices:
        words[ix >> 6] |= 1 << (ix & 63)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]
