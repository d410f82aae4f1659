"""Text-analysis columns for large-scale training-data pipelines.

All JVM-native (split/transform/aggregate/filter — whole-stage codegen,
no Python): token counting, quality scoring, n-gram language ID,
document fingerprinting (rolling hash), word shingles, and the arithmetic
rolling hash shared with MinHash dedup. Each function has an exact ANSI-SQL
equivalent (see ``__spark_entry__.oracle_sql``) so the driver's DuckDB
oracle can verify values bit-for-bit.

These extend the reference's scope (pprl_toolkit is PII-only); they are
the document-pipeline operators the engine needs at 100 TB: cheap,
pushdown-friendly per-row metrics computed in one scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007  # rolling-hash modulus; (acc*31 + c) stays << 2^63
HASH_BASE = 31

# tiny deterministic stopword profiles for the n-gram/stopword language
# heuristic; chosen for SQL-expressibility (array overlap), not linguistic
# completeness — the oracle reproduces the same rule.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "de": ("der", "die", "und", "das", "ist", "ein", "zu", "den"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
}


def words_col(text: Column | str) -> Column:
    """Whitespace tokenization: non-empty lowercase words."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda w: w != F.lit(""))


def text_key(text: Column | str) -> list[Column]:
    """128-bit normalized-text key ``[fp1, fp2]``: two independent
    xxhash64s of the space-joined :func:`words_col`.

    Grouping or joining on it moves 16 bytes per document through a
    shuffle, never the text. The salt goes FIRST in ``fp2``: Spark's
    multi-arg xxhash64 feeds the running hash forward as the seed for
    the next argument, so ``xxhash64(norm, 1)`` would be a function of
    ``xxhash64(norm)`` and buy zero extra bits, while ``xxhash64(1,
    norm)`` hashes the text under a different running seed. At 128
    independent bits the birthday-collision odds at 10^12 docs are
    ~3e-14, so the key stands in for the text itself (an oracle grouping
    by the normalized text agrees unless both hashes collide).
    """
    norm = F.array_join(words_col(text), " ")
    return [F.xxhash64(norm).alias("fp1"), F.xxhash64(F.lit(1), norm).alias("fp2")]


def token_count(text: Column | str) -> Column:
    return F.size(words_col(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(words_col(text)))


# GPT-2-style pre-tokenizer shape, restricted to constructs RE2 and Java
# regex agree on exactly: letter runs, digit runs, punctuation runs, each
# with an optional leading space — the subword-boundary approximation used
# for byte-pair-encoding token estimates (no vocab lookup; counts
# pre-merge segments, a stable upper bound on BPE tokens)
BPE_SPLIT_RE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: count of pre-tokenizer segments."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.lower(c), F.lit(BPE_SPLIT_RE))


def rolling_hash_col(s: Column) -> Column:
    """Polynomial rolling hash of a string: fold (acc*31 + ascii) mod P.

    The shared string->int hash for MinHash shingles, SimHash and
    fingerprints. Exactly reproducible in SQL via
    ``list_reduce([0] || [ascii(c) for c in chars], ...)``.
    """
    chars = F.split(s, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(HASH_BASE) + F.ascii(ch)) % F.lit(HASH_MOD),
    )


def fingerprint(text: Column | str) -> Column:
    """Rolling-hash fingerprint of whitespace-normalized lowercase text."""
    c = F.col(text) if isinstance(text, str) else text
    return rolling_hash_col(F.array_join(words_col(c), " "))


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles (space-joined), the unit set for n-gram Jaccard."""
    w = words_col(text)
    n = F.size(w)
    return F.when(n < k, F.array(F.array_join(w, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: F.array_join(F.slice(w, i + 1, k), " "),
        )
    )


def shingle_hashes(text: Column | str, k: int = 3) -> Column:
    """Distinct rolling-hash ints of the k-word shingle set."""
    return F.array_distinct(
        F.transform(word_shingles(text, k), lambda s: rolling_hash_col(s))
    )


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0,1].

    0.4·min(1, tokens/50) + 0.3·distinct_ratio + 0.3·min(1, mean_word_len/8).
    Deterministic double arithmetic, reproducible in SQL.
    """
    w = words_col(text)
    n = F.size(w).cast("double")
    distinct_ratio = F.when(n > 0, F.size(F.array_distinct(w)) / n).otherwise(F.lit(0.0))
    mean_len = F.when(
        n > 0,
        F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)).cast("double") / n,
    ).otherwise(F.lit(0.0))
    return (
        F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(50.0))
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.3) * F.least(F.lit(1.0), mean_len / F.lit(8.0))
    )


def lang_id(text: Column | str) -> Column:
    """Stopword-profile language ID with deterministic tie-break.

    Scores each profile by distinct stopword hits in the document's word
    set; highest score wins, ties broken by language code order; zero
    hits -> 'und' (undetermined), mirroring common lang-ID conventions.
    """
    w = F.array_distinct(words_col(text))
    scored = [
        F.struct(
            F.size(F.array_intersect(w, F.array(*[F.lit(t) for t in toks]))).alias("score"),
            F.lit(code).alias("code"),
        )
        for code, toks in sorted(LANG_PROFILES.items())
    ]
    # max_by over the struct array: array_max picks (score, code) lexicographic
    # max — largest score, then largest code; to make ties pick the SMALLEST
    # code deterministically we compare on (score, reversed rank) instead.
    ranked = [
        F.struct(
            s["score"].alias("score"), F.lit(-i).alias("rank"), s["code"].alias("code")
        )
        for i, s in enumerate(scored)
    ]
    best = F.array_max(F.array(*ranked))
    return F.when(best["score"] > 0, best["code"]).otherwise(F.lit("und"))


def ordered_shingle_hashes(text: Column | str, k: int = 3) -> Column:
    """POSITIONAL rolling-hash ints of the k-word shingles (no dedupe).

    The winnowing input: order matters (windows slide over positions).
    MATERIALIZE this as a column (``.select(...alias("_h"))``) before
    feeding :func:`winnow_select` — same two-step rule as the minhash
    signature: higher-order functions are interpreted (never codegen'd)
    and an inlined expression is re-evaluated once per consumer, which
    here means once per WINDOW position — O(n²·len) per document
    (measured: sf0.1 winnow went from >240s to ~3s with the column
    boundary).
    """
    return F.transform(word_shingles(text, k), lambda s: rolling_hash_col(s))


def winnow_select(h: Column, w: int = 4) -> Column:
    """Winnowing selection over a MATERIALIZED ordered-hash column.

    Sliding windows of ``w`` -> minimum hash per window -> sorted
    distinct selection (Schleimer et al., SIGMOD 2003). Guarantees at
    least one selected hash per ``w`` consecutive shingles, so two
    documents sharing a run of >= k+w-1 words share a fingerprint —
    robust to insertions/reorderings in a way bag-of-shingles MinHash is
    not. ``h`` MUST be a plain column reference (see
    :func:`ordered_shingle_hashes`).
    """
    n = F.size(h)
    # per-window min as least(element_at...) over the w offsets instead
    # of array_min(slice(...)): the slice form allocates a fresh w-array
    # per window position inside the interpreted transform; the unrolled
    # least reads elements in place — measured 0.13-0.20s -> 0.05-0.06s
    # for the sf0.1 selection pass, identical fingerprints (min of the
    # same w elements; w is a small Python int at call time).
    mins = F.when(n <= w, F.array(F.array_min(h))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(w)),
            lambda j: F.least(
                *[F.element_at(h, (j + F.lit(i + 1)).cast("int")) for i in range(w)]
            ),
        )
    )
    return F.array_sort(F.array_distinct(mins))


def winnow_fingerprints(text: Column | str, k: int = 3, w: int = 4) -> Column:
    """One-expression winnowing fingerprints — SMALL INPUTS ONLY.

    Composes :func:`ordered_shingle_hashes` + :func:`winnow_select` in a
    single expression: the hash array is inlined into every window
    slice and re-evaluated per position (interpreted HOF, no common
    subexpression elimination inside lambdas). Use the two-step
    column-materialized form for real corpora
    (``operators.dedup.winnow_near_duplicates`` does).
    """
    return winnow_select(ordered_shingle_hashes(text, k), w)


def repetition_ratio(text: Column | str) -> Column:
    """Most-frequent-word share of all tokens, in [0,1] (0 for empty).

    The Gopher-style repetition signal: boilerplate/spam pages repeat one
    token heavily. Computed per-row with array expressions (distinct
    words x count-in-place), no explode/groupBy — a shuffle-free scan
    column like the other quality metrics.
    """
    w = words_col(text)
    top = F.array_max(
        F.transform(
            F.array_distinct(w),
            lambda d: F.size(F.filter(w, lambda x: x == d)),
        )
    )
    return F.when(
        F.size(w) > 0, top.cast("double") / F.size(w)
    ).otherwise(F.lit(0.0))


def symbol_ratio(text: Column | str) -> Column:
    """Fraction of characters outside [a-z0-9 whitespace] after
    lowercasing (0 for empty text) — markup/emoji/CJK-heavy pages score
    high against a latin-alphanumeric profile."""
    c = F.col(text) if isinstance(text, str) else text
    low = F.lower(c)
    return F.when(
        F.length(low) > 0,
        F.length(F.regexp_replace(low, r"[a-z0-9\s]", "")).cast("double")
        / F.length(low),
    ).otherwise(F.lit(0.0))


def max_word_len(text: Column | str) -> Column:
    """Longest whitespace token in characters (0 for empty) — unbroken
    base64/URL blobs produce extreme values."""
    w = words_col(text)
    return F.coalesce(
        F.array_max(F.transform(w, lambda x: F.length(x))), F.lit(0)
    ).cast("long")


def alpha_word_ratio(text: Column | str) -> Column:
    """Fraction of tokens containing at least one [a-z] letter (0 for
    empty) — numeric/tabular dumps score low."""
    w = words_col(text)
    return F.when(
        F.size(w) > 0,
        F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("double") / F.size(w),
    ).otherwise(F.lit(0.0))


def chunk_tokens(
    text: Column | str, size: int = 20, stride: int = 10
) -> Column:
    """Overlapping token-window chunks for training/RAG pipelines:
    array<struct<chunk_id:int, n_tokens:int, chunk_text:string>>.

    Chunk i covers tokens [i*stride, i*stride + size); the last window
    may be short; documents shorter than one window yield one chunk;
    empty documents yield none. Pure array expressions (sequence +
    slice + array_join) — chunking 100 TB is a scan, not a shuffle, and
    explodes AFTER projection so only (doc_id, chunk) rows ride
    downstream.
    """
    if size <= 0 or stride <= 0:
        raise ValueError(f"size/stride must be positive, got {size}/{stride}")
    w = words_col(text)
    n = F.size(w)
    # number of windows starting before the end: 1 + floor((n-1)/stride)
    # for n>0 — guarantees the final tokens are covered and no window
    # starts at/after n
    n_chunks = F.when(n > 0, F.lit(1) + F.floor((n - 1) / F.lit(stride)).cast("int")).otherwise(
        F.lit(0)
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return F.when(
        n > 0,
        F.transform(
            idx,
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                F.least(F.lit(size), n - i * F.lit(stride)).cast("int").alias("n_tokens"),
                F.array_join(F.slice(w, i * F.lit(stride) + 1, size), " ").alias(
                    "chunk_text"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<chunk_id:int,n_tokens:int,chunk_text:string>>"))


def blocklist_hits(text: Column | str, blocklist: list[str]) -> Column:
    """Count of tokens (with multiplicity) appearing in ``blocklist``.

    The C4/RefinedWeb-style dictionary filter signal: documents whose
    token stream hits a curated blocklist are dropped (or scrubbed, see
    :func:`scrub_blocklist`). The blocklist is a literal array baked into
    the plan — a per-row array expression, codegen'd, no join, no
    shuffle; suitable for lists up to a few thousand terms (beyond that,
    broadcast-join a blocklist table instead).
    """
    w = words_col(text)
    bl = F.array(*[F.lit(t) for t in blocklist])
    return F.size(F.filter(w, lambda x: F.array_contains(bl, x)))


def scrub_blocklist(
    text: Column | str, blocklist: list[str], repl: str = "[REDACTED]"
) -> Column:
    """Replace blocklisted tokens with ``repl``; returns NORMALIZED text
    (lowercased, single-space-joined) — the same canonical form the dedup
    operators key on. Same scan-only shape as :func:`blocklist_hits`.
    """
    w = words_col(text)
    bl = F.array(*[F.lit(t) for t in blocklist])
    return F.array_join(
        F.transform(
            w, lambda x: F.when(F.array_contains(bl, x), F.lit(repl)).otherwise(x)
        ),
        " ",
    )


# PII surface patterns, restricted to syntax Java regex (Spark) and RE2
# (DuckDB oracle) interpret identically: ASCII classes, bounded repeats,
# \b word boundaries — no lookaround, no backrefs. Applied to lower(text);
# replacement tokens contain no digits/@ so sequential scrubbing never
# cascades into later patterns.
PII_PATTERNS = (
    ("email", r"[a-z0-9._%+\-]+@[a-z0-9.\-]+\.[a-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
)


def pii_counts(text: Column | str) -> list[Column]:
    """Per-pattern non-overlapping match counts (email, ipv4, phone).

    Counted on the ORIGINAL text (before any scrubbing), codegen'd
    ``regexp_count`` — zero shuffle, zero Python. SQL twin:
    ``len(regexp_extract_all(lower(text), pattern))``.
    """
    c = F.col(text) if isinstance(text, str) else text
    low = F.lower(c)
    return [
        F.regexp_count(low, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]


def scrub_pii(text: Column | str) -> Column:
    """Redact PII surface forms -> '[EMAIL]' / '[IP]' / '[PHONE]'.

    Fixed application order (email, ipv4, phone) on lowercased text; the
    order is part of the contract — both engines rewrite the same
    intermediate strings. SQL twin: nested
    ``regexp_replace(..., pattern, token, 'g')`` in the same order.
    """
    c = F.col(text) if isinstance(text, str) else text
    out = F.lower(c)
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out
