"""jaccard_join: exactness vs the naive quadratic join, filter losslessness."""

import itertools
import random

import pytest

from pprl_spark.operators.setjoin import jaccard_join


def _naive(rows, t):
    out = set()
    for (i, a), (j, b) in itertools.combinations(rows, 2):
        sa, sb = set(a), set(b)
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        union = len(sa | sb)
        # same exact rational comparison as the operator
        from fractions import Fraction

        fr = Fraction(str(t))
        if inter * fr.denominator >= union * fr.numerator:
            out.add((min(i, j), max(i, j)))
    return out


def _spark_pairs(spark, rows, t, positional=True):
    df = spark.createDataFrame(rows, "doc_id long, tokens array<long>")
    got = jaccard_join(df, threshold=t, positional=positional).collect()
    return {(r.id1, r.id2) for r in got}, got


@pytest.mark.parametrize("t", ["0.3", "0.5", "0.8", "1.0"])
def test_matches_naive_join_random_sets(spark, t):
    rng = random.Random(42)
    rows = []
    for i in range(120):
        n = rng.randint(0, 12)
        rows.append((i, sorted(rng.sample(range(40), n))))
    got, full = _spark_pairs(spark, rows, t)
    assert got == _naive(rows, t)
    # reported jaccard is the exact ratio
    by_id = {i: set(tk) for i, tk in rows}
    for r in full:
        sa, sb = by_id[r.id1], by_id[r.id2]
        assert r.intersection == len(sa & sb)
        assert r.jaccard == len(sa & sb) / len(sa | sb)


def test_positional_filter_is_lossless(spark):
    rng = random.Random(7)
    rows = [
        (i, sorted(rng.sample(range(25), rng.randint(1, 10)))) for i in range(80)
    ]
    with_pos, _ = _spark_pairs(spark, rows, "0.4", positional=True)
    without, _ = _spark_pairs(spark, rows, "0.4", positional=False)
    assert with_pos == without


def test_skewed_hub_token_still_exact(spark):
    # every doc shares token 0 (a stopword-like hub); prefixes must
    # still find the true matches among the rare tokens
    rows = [(i, [0, 100 + i, 200 + i // 2]) for i in range(60)]
    got, _ = _spark_pairs(spark, rows, "0.5")
    assert got == _naive(rows, "0.5")


def test_duplicate_tokens_and_exact_dupes(spark):
    rows = [(1, [5, 5, 6]), (2, [6, 5]), (3, [7]), (4, [7])]
    got, full = _spark_pairs(spark, rows, "1.0")
    assert got == {(1, 2), (3, 4)}
    assert all(r.jaccard == 1.0 for r in full)


def test_asymmetric_index_prefix_role_boundaries(spark):
    # the indexing-prefix asymmetry assigns the (n, id)-lexicographically
    # smaller record the SHORTER index prefix; exercise the role tiebreak
    # (equal sizes) and the length-filter boundary (n_small == ceil(t *
    # n_big)) explicitly, where a too-short index prefix would lose pairs
    rows = [
        # equal sizes, overlapping — id tiebreak decides the roles
        (1, [10, 11, 12, 13, 14]),
        (2, [10, 11, 12, 13, 15]),
        # boundary pair at t=0.5: n=4 vs n=8, needs all 4 common
        (3, [20, 21, 22, 23]),
        (4, [20, 21, 22, 23, 24, 25, 26, 27]),
        # just below the length filter: can never match at t=0.5
        (5, [30, 31, 32]),
        (6, [30, 31, 32, 33, 34, 35, 36]),
        # match found only via a LATE token of the small side's prefix
        (7, [40, 41, 42, 43, 44, 45]),
        (8, [41, 42, 43, 44, 45, 46]),
    ]
    for t in ("0.4", "0.5", "0.8"):
        got, _ = _spark_pairs(spark, rows, t)
        assert got == _naive(rows, t), t


def test_bad_threshold_raises(spark):
    df = spark.createDataFrame([(1, [1])], "doc_id long, tokens array<long>")
    with pytest.raises(ValueError):
        jaccard_join(df, threshold=0)


def test_minhash_candidates_are_subset_of_exact(spark):
    # minhash_near_duplicates verifies true Jaccard on its banded
    # candidates, so its output must be a subset of the exact join's
    # (equality iff banding had perfect recall on this input)
    from pprl_spark.functions.text import shingle_hashes
    from pprl_spark.operators.dedup import minhash_near_duplicates

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(150):
        words = [rng.choice(vocab) for _ in range(rng.randint(5, 25))]
        rows.append((2 * i, " ".join(words)))
        if rng.random() < 0.4:  # perturbed near-copy
            mut = list(words)
            for _ in range(rng.randint(0, 3)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((2 * i + 1, " ".join(mut)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    approx = {
        (r.id1, r.id2)
        for r in minhash_near_duplicates(
            docs, k=2, threshold=0.4, bands=4, rows_per_band=2
        ).collect()
    }
    toks = docs.select("doc_id", shingle_hashes("text", k=2).alias("tokens"))
    exact = {(r.id1, r.id2) for r in jaccard_join(toks, threshold="0.4").collect()}
    assert approx <= exact
    assert exact  # non-vacuous: the synthetic corpus has near-dups


def test_delta_near_duplicates_equals_filtered_full_recompute(spark):
    # the delta probe must equal the full recompute restricted to pairs
    # with >= 1 delta endpoint: banding/verify semantics are shared,
    # only candidate generation shrinks
    from pprl_spark.operators.dedup import (
        delta_near_duplicates,
        minhash_index,
        minhash_near_duplicates,
    )

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(200):
        words = [rng.choice(vocab) for _ in range(rng.randint(4, 15))]
        rows.append((i, " ".join(words)))
        if rng.random() < 0.35:
            mut = list(words)
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((1000 + i, " ".join(mut)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    is_delta = "doc_id % 5 = 0"
    corpus, delta = docs.where(f"NOT ({is_delta})"), docs.where(is_delta)

    kw = dict(k=2, bands=4, rows_per_band=2)
    idx = minhash_index(corpus, **kw)
    got = {
        (r.id1, r.id2, r.jaccard)
        for r in delta_near_duplicates(idx, delta, threshold=0.4, **kw).collect()
    }
    full = {
        (r.id1, r.id2, r.jaccard)
        for r in minhash_near_duplicates(docs, threshold=0.4, **kw).collect()
        if r.id1 % 5 == 0 or r.id2 % 5 == 0
    }
    assert got == full
    assert got  # non-vacuous


def _naive_containment(probe_rows, target_rows, t):
    from fractions import Fraction

    fr = Fraction(str(t))
    out = set()
    for pi, ptk in probe_rows:
        sp = set(ptk)
        if not sp:
            continue
        for ti, ttk in target_rows:
            st = set(ttk)
            if st and len(sp & st) * fr.denominator >= len(sp) * fr.numerator:
                out.add((pi, ti))
    return out


@pytest.mark.parametrize("t", ["0.5", "0.75", "1.0"])
def test_containment_matches_naive(spark, t):
    from pprl_spark.operators.setjoin import containment_join

    rng = random.Random(23)
    probes = [(i, sorted(rng.sample(range(30), rng.randint(1, 6)))) for i in range(40)]
    targets = [
        (100 + i, sorted(rng.sample(range(30), rng.randint(5, 25)))) for i in range(60)
    ]
    pdf = spark.createDataFrame(probes, "doc_id long, tokens array<long>")
    tdf = spark.createDataFrame(targets, "doc_id long, tokens array<long>")
    got = {
        (r.probe_id, r.target_id)
        for r in containment_join(pdf, tdf, threshold=t).collect()
    }
    assert got == _naive_containment(probes, targets, t)


def test_containment_finds_quote_jaccard_misses(spark):
    from pprl_spark.operators.setjoin import containment_join, jaccard_join

    # a 4-token quote fully inside a 40-token document: containment 1.0,
    # Jaccard ~0.1 — the asymmetric join finds it, the symmetric can't
    quote = list(range(4))
    doc = list(range(40))
    pdf = spark.createDataFrame([(1, quote)], "doc_id long, tokens array<long>")
    tdf = spark.createDataFrame([(2, doc)], "doc_id long, tokens array<long>")
    [r] = containment_join(pdf, tdf, threshold="1.0").collect()
    assert (r.probe_id, r.target_id, r.containment) == (1, 2, 1.0)
    both = spark.createDataFrame(
        [(1, quote), (2, doc)], "doc_id long, tokens array<long>"
    )
    assert jaccard_join(both, threshold="0.5").count() == 0


def _collision_corpus(seed):
    """Docs of 600-1,500 tokens (more tokens than the 512 bitmap bits)
    with planted near-copies whose overlap exceeds 512: the bitmap
    overlap bound holds only through its excess term here."""
    rng = random.Random(seed)
    vocab = range(8000)
    bases = [rng.sample(vocab, rng.randint(600, 1500)) for _ in range(14)]
    docs = [sorted(b) for b in bases]
    for i, keep in enumerate([0.97, 0.93, 0.85, 0.75, 0.6, 0.5] * 3):
        b = bases[i % len(bases)]
        kept = rng.sample(b, int(keep * len(b)))
        fresh = rng.sample(vocab, len(b) - len(kept))
        docs.append(sorted(set(kept) | set(fresh)))
    return list(enumerate(docs))


@pytest.mark.parametrize("t", ["0.4", "0.7", "0.9"])
def test_jaccard_exact_when_bitmap_collides(spark, t):
    rows = _collision_corpus(31)
    got, _ = _spark_pairs(spark, rows, t)
    want = _naive(rows, t)
    assert got == want
    by_id = dict(rows)
    # non-vacuous: a true pair overlaps in more tokens than there are bits
    assert any(len(set(by_id[i]) & set(by_id[j])) > 512 for i, j in want)


@pytest.mark.parametrize("t", ["0.6", "0.9"])
def test_containment_exact_when_bitmap_collides(spark, t):
    from pprl_spark.operators.setjoin import containment_join

    rows = _collision_corpus(47)
    probes = [(i, tk) for i, tk in rows if i % 3 == 0]
    targets = [(i, tk) for i, tk in rows if i % 3 != 0]
    schema = "doc_id long, tokens array<long>"
    got = {
        (r.probe_id, r.target_id)
        for r in containment_join(
            spark.createDataFrame(probes, schema),
            spark.createDataFrame(targets, schema),
            threshold=t,
        ).collect()
    }
    want = _naive_containment(probes, targets, t)
    assert got == want
    by_id = dict(rows)
    assert any(len(set(by_id[p]) & set(by_id[q])) > 512 for p, q in want)
