"""Bloom-hash kernel parity + properties.

Mirrors `/root/reference/test/embedder/test_bloom_filters.py:9-30` and the
docstring golden at `bloom_filters.py:63-67`.
"""

from hypothesis import given
from hypothesis import strategies as st

from pprl_spark.functions.hashing import bloom_indices_with_collisions


def test_golden_abc():
    # bloom_filters.py:63-67: ["a","b","c"], defaults -> this exact set
    idx = bloom_indices_with_collisions(["a", "b", "c"])[0]
    assert set(idx) == {334, 1013, 192, 381, 18, 720}


def test_memo_equivalence():
    feats = ["_d", "do", "or", "ri", "is", "s_"] * 3
    memo: dict = {}
    with_memo = bloom_indices_with_collisions(feats, _memo=memo)
    without = bloom_indices_with_collisions(feats)
    assert with_memo == without
    assert len(memo) == 6


def test_salt_changes_indices():
    a = bloom_indices_with_collisions(["a", "b"], salt="")[0]
    b = bloom_indices_with_collisions(["a", "b"], salt="pepper")[0]
    assert a != b


@given(
    st.lists(st.text(min_size=1, max_size=8), min_size=1, max_size=30),
    st.integers(min_value=8, max_value=2048),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=64),
)
def test_index_bounds_and_collision_range(feats, size, num_hashes, offset):
    # test_bloom_filters.py:25-27 property: offset <= i < size + offset
    idx, coll = bloom_indices_with_collisions(feats, size, num_hashes, offset)
    assert all(offset <= i < size + offset for i in idx)
    assert 0.0 <= coll < 1.0
    assert idx == sorted(set(idx))


def _jvm_bitmap(indices, n_words: int):
    """Sparse index array -> n_words signed longs, as a JVM aggregate."""
    from pyspark.sql import functions as F

    pow2 = F.array(
        *[F.lit(1 << i if i < 63 else -(2**63)).cast("long") for i in range(64)]
    )
    wseq = F.array(*[F.lit(w) for w in range(n_words)])
    return F.aggregate(
        indices,
        F.array_repeat(F.lit(0).cast("long"), n_words),
        lambda acc, x: F.zip_with(
            acc,
            wseq,
            lambda a, w: F.when(
                F.floor(x.cast("long") / 64).cast("int") == w,
                a.bitwiseOR(F.element_at(pow2, (x % 64 + 1).cast("int"))),
            ).otherwise(a),
        ),
    )


def test_pack_bitmap_matches_jvm_bitmap(spark):
    """Python pack_bitmap (embed kernel) == the JVM bitmap aggregate
    for boundary-heavy index sets, incl. bit 63's two's-complement wrap."""
    from pyspark.sql import functions as F

    from pprl_spark.functions.hashing import pack_bitmap

    cases = [
        [],
        [0],
        [63],
        [64],
        [0, 63, 64, 127, 128, 1023],
        list(range(0, 1024, 7)),
        [62, 63, 64, 65, 510, 511, 512, 513],
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i int, ix array<int>")
    got = {
        r["i"]: r["bm"]
        for r in df.select("i", _jvm_bitmap(F.col("ix"), 16).alias("bm")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == pack_bitmap(c, 16), c
