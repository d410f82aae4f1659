"""String-similarity kernels: Jaro, Jaro-Winkler.

The north star scores candidate pairs with Dice/cosine over Bloom sets
(native, ``operators.candidates``) plus Jaro-Winkler on name fields for
tie-breaking. Spark has no built-in Jaro-Winkler, so this is a pure-Python
kernel (classic Winkler variant: prefix scaling p=0.1, max prefix 4,
boost above jaro 0.7 — matching DuckDB's ``jaro_winkler_similarity``,
which the oracle uses), run batched per partition by
``operators.matching.jaro_winkler_rescore`` (mapInPandas).
"""

from __future__ import annotations


def jaro(s1: str, s2: str) -> float:
    """Jaro similarity; the r6 kernel form.

    Same matching semantics as the textbook double-loop version (first
    unflagged window occurrence wins), but the inner scan is
    ``str.find`` — a C-level memchr over the window — retried past
    already-taken positions, with the taken set in a bytearray. The
    transposition count compares the matched characters of s1 (in s1
    order) against the matched positions of s2 (sorted): identical to
    rescanning both flag arrays. Fuzz-verified bit-exact against the
    previous implementation and DuckDB's jaro_winkler_similarity
    (tests + 30k-case harness); measured 2.7x faster on 12-word inputs,
    which is most of pprl_jw_pairs' wall time.
    """
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0  # incl. ("","") -> 0.0, matching DuckDB
    if s1 == s2:
        return 1.0
    mw = max(len1, len2) // 2 - 1
    if mw < 0:
        mw = 0
    taken = bytearray(len2)
    m1: list = []
    js: list = []
    find = s2.find
    for i, c in enumerate(s1):
        lo = i - mw
        if lo < 0:
            lo = 0
        hi = i + mw + 1
        if hi > len2:
            hi = len2
        j = find(c, lo, hi)
        while j != -1 and taken[j]:
            j = find(c, j + 1, hi)
        if j != -1:
            taken[j] = 1
            m1.append(c)
            js.append(j)
    m = len(m1)
    if m == 0:
        return 0.0
    js.sort()
    t = sum(1 for c, j in zip(m1, js) if c != s2[j]) // 2
    return (m / len1 + m / len2 + (m - t) / m) / 3.0


# Classic Winkler constants (match DuckDB's jaro_winkler_similarity).
JW_SCALING = 0.1
JW_MAX_PREFIX = 4
JW_BOOST_THRESHOLD = 0.7


def jaro_winkler(s1: str, s2: str) -> float:
    """Classic Winkler variant: prefix boost only when jaro > 0.7
    (fuzz-verified bit-exact against DuckDB's jaro_winkler_similarity).
    """
    j = jaro(s1, s2)
    if j <= JW_BOOST_THRESHOLD:
        return j
    prefix = 0
    for a, b in zip(s1[:JW_MAX_PREFIX], s2[:JW_MAX_PREFIX]):
        if a != b:
            break
        prefix += 1
    return j + prefix * JW_SCALING * (1.0 - j)
