"""Matching: Hungarian kernel properties + the reference's 4×4 golden.

The golden reproduces `/root/reference/test/embedder/test_embedder.py:
221-246` end-to-end on Spark under a single blocking key (block-local
semantics == the reference's all-pairs semantics): names
[Bob, Sally, Samina, John] × [Saly, Rob, Jon, Ade], bigram features,
num_hashes=1, thresholds from self-compare, abs_cutoff=0.2, Hungarian
-> (Bob,Rob), (Sally,Saly), (John,Jon); Samina/Ade unmatched.
"""

import itertools
import random

from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.operators.candidates import generate_candidates
from pprl_spark.operators.embedding import embed_documents
from pprl_spark.operators.matching import (
    _hungarian_max,
    apply_thresholds,
    assignment_match_in_blocks,
    mutual_best_match,
    row_thresholds,
)


def _brute_force_max(mat):
    n, m = len(mat), len(mat[0])
    best, best_val = [], float("-inf")
    rows = range(n)
    for cols in itertools.permutations(range(m), min(n, m)):
        if n <= m:
            val = sum(mat[i][cols[i]] for i in rows)
            pairs = list(zip(rows, cols))
        else:
            continue
        if val > best_val:
            best_val, best = val, pairs
    return best_val


def test_hungarian_vs_bruteforce():
    rng = random.Random(0)
    for trial in range(25):
        n = rng.randint(1, 5)
        m = rng.randint(n, 6)  # brute force needs n <= m
        mat = [[rng.uniform(0, 1) for _ in range(m)] for _ in range(n)]
        got = _hungarian_max(mat)
        got_val = sum(mat[i][j] for i, j in got)
        assert abs(got_val - _brute_force_max(mat)) < 1e-9, (trial, mat)


def test_hungarian_rectangular_transpose():
    mat = [[1.0, 0.0], [0.0, 1.0], [0.5, 0.5]]  # 3x2: rows > cols
    got = _hungarian_max(mat)
    assert len(got) == 2
    assert sum(mat[i][j] for i, j in got) == 2.0


def _name_docs(spark, names, source):
    rows = [
        (
            f"{source}-{i}",
            [{"kind": "text", "text": f"name={n}", "media_ref": None, "offset": 0}],
        )
        for i, n in enumerate(names)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )


def test_reference_4x4_golden(spark):
    cfg = EmbedderConfig(
        colspec={"name": "name"},
        ff_args={"name": {"ngram_length": [2]}},
        num_hashes=1,
        abs_cutoff=0.2,
    )
    df1 = _name_docs(spark, ["Bob", "Sally", "Samina", "John"], "A")
    df2 = _name_docs(spark, ["Saly", "Rob", "Jon", "Ade"], "B")
    emb1 = embed_documents(df1, cfg, keep=["doc_id"]).withColumn(
        "block_keys", F.array(F.lit("all"))
    )
    emb2 = embed_documents(df2, cfg, keep=["doc_id"]).withColumn(
        "block_keys", F.array(F.lit("all"))
    )
    b1 = emb1.withColumn("block_key", F.explode("block_keys"))
    b2 = emb2.withColumn("block_key", F.explode("block_keys"))

    # thresholds: per-row max of self-compare (embedder.py:115-135)
    t1 = row_thresholds(generate_candidates(b1, None, cfg))
    t2 = row_thresholds(generate_candidates(b2, None, cfg))
    cand = generate_candidates(b1, b2, cfg)
    flagged = apply_thresholds(cand, t1, t2, cfg, mode="flag")
    got = {
        (r["id1"], r["id2"])
        for r in assignment_match_in_blocks(flagged).collect()
    }
    assert got == {("A-0", "B-1"), ("A-1", "B-0"), ("A-3", "B-2")}


def test_mutual_best_match_basic(spark):
    rows = [
        ("a1", "b1", "k", 0.9),
        ("a1", "b2", "k", 0.5),
        ("a2", "b1", "k", 0.6),
        ("a2", "b2", "k", 0.55),
        ("a3", "b2", "k", 0.54),
    ]
    cand = spark.createDataFrame(rows, "id1 string, id2 string, block_key string, sim double")
    got = {(r["id1"], r["id2"]) for r in mutual_best_match(cand).collect()}
    # only a1-b1 is rank-1 in both directions in round 1
    assert got == {("a1", "b1")}
    got2 = {(r["id1"], r["id2"]) for r in mutual_best_match(cand, rounds=2).collect()}
    # round 2: with a1/b1 removed, a2-b2 becomes mutual best (a3 loses)
    assert got2 == {("a1", "b1"), ("a2", "b2")}


# ---------------------------------------------------------------------------
# adaptive pair-join strategy: the choice is pure arithmetic over counted
# rows + configured heap, so the scale boundaries are unit-testable without
# running the corpora that motivated them (measured anchors: 20k docs/side
# -> broadcast; 100k -> shuffle_hash; 400k -> merge; see candidates.py)
# ---------------------------------------------------------------------------


def test_choose_pair_join_hint_boundaries(spark):
    from pprl_spark.operators.candidates import choose_pair_join_hint, _heap_bytes

    G = 2**30
    # 20k docs/side * ~9 keys = 180k build rows -> guarded broadcast
    assert choose_pair_join_hint(
        spark, 180_000, driver_heap=5 * G, exec_heap=5 * G
    ) == "broadcast"
    # 100k docs/side -> ~1.1M rows: too big to broadcast -> sort-merge
    # (shuffle_hash is pin-only: measured tie-at-best, wedge-at-worst)
    assert choose_pair_join_hint(
        spark, 1_125_000, driver_heap=5 * G, exec_heap=5 * G
    ) == "merge"
    # 400k docs/side -> ~4.5M rows: the scale regime, sort-merge only
    assert choose_pair_join_hint(
        spark, 4_500_000, driver_heap=5 * G, exec_heap=5 * G
    ) == "merge"
    # small heap demotes even modest builds all the way to merge
    assert choose_pair_join_hint(
        spark, 1_125_000, driver_heap=G // 2, exec_heap=G // 2
    ) == "merge"
    # memory-string parsing reads the session conf
    raw = str(spark.conf.get("spark.driver.memory", "1g")).lower()
    assert _heap_bytes(spark, "spark.driver.memory") > 0
    assert raw[-1] in "kmgt0123456789"


def test_heap_bytes_parses_like_spark(spark):
    """Memory strings read as Spark reads spark.driver/executor.memory:
    a bare number is MiB and the two-letter suffixes are the one-letter
    ones (a hand parser read "2048" as 2 KiB and "4gb"/"512mb" as 1 GiB)."""
    from pprl_spark.operators.candidates import _heap_bytes

    key = "spark.pprl.test.heapBytes"
    M, G = 2**20, 2**30
    try:
        for raw, want in (("2048", 2 * G), ("4gb", 4 * G), ("512mb", 512 * M),
                          ("2g", 2 * G), ("0", 0)):
            spark.conf.set(key, raw)
            assert _heap_bytes(spark, key) == want, raw
    finally:
        spark.conf.unset(key)


def test_choose_pair_join_hint_scales_with_bloom_width(spark):
    """The build-side estimate must track n_words: a bf_size=8192 bitmap
    (128 words = 1KB/row) is ~2.3x the bf_size=1024 row, so a count that
    broadcasts at n_words=16 must NOT be allowed to at n_words=128 when
    the margin is thin."""
    from pprl_spark.operators.candidates import choose_pair_join_hint

    G = 2**30
    rows = 600_000  # 16 words: 600k*700B = 420MB; 128 words: 600k*1596B = 958MB
    assert choose_pair_join_hint(
        spark, rows, driver_heap=5 * G, exec_heap=5 * G, n_words=16
    ) == "broadcast"
    assert choose_pair_join_hint(
        spark, rows, driver_heap=5 * G, exec_heap=5 * G, n_words=128
    ) == "merge"


def _fake_cluster_conf(spark, monkeypatch):
    """A cluster master with a 32g driver and spark.executor.memory unset."""
    real_get = spark.conf.get

    def fake_get(key, *default):
        if key == "spark.master":
            return "spark://cluster-master:7077"
        if key == "spark.driver.memory":
            return "32g"
        if key == "spark.executor.memory":
            return default[0] if default else None  # unset on the cluster
        return real_get(key, *default)

    monkeypatch.setattr(spark.conf, "get", fake_get)


def test_choose_pair_join_hint_cluster_unset_executor_memory(spark, monkeypatch):
    """On a cluster with spark.executor.memory unset, the bound must use
    Spark's 1g executor default — NOT the (possibly huge) driver heap,
    which would authorize a broadcast the executors cannot hold."""
    from pprl_spark.operators import candidates as C

    G = 2**30
    _fake_cluster_conf(spark, monkeypatch)
    # 3M rows * 700B = 2.1GB: fits 10% of a 32g driver heap (3.2g) but
    # must be demoted to merge against the 1g executor default (0.1g)
    assert C.choose_pair_join_hint(spark, 3_000_000, driver_heap=32 * G) == "merge"
    # tiny build still broadcasts under the 1g executor bound
    assert C.choose_pair_join_hint(spark, 100_000, driver_heap=32 * G) == "broadcast"


def test_scm_broadcast_uses_executor_budget(spark, monkeypatch):
    """The trained-SCM projection join shares the pair join's broadcast
    budget: a table inside 10% of a 32g driver heap but past 10% of the
    cluster's 1g default executor heap must not be broadcast."""
    import numpy as np

    from pprl_spark.operators.scm import soft_cosine_pairs_native

    # 250k docs * (8*64 + 64) B = 144MB: under 10% of the local 2g test
    # heap and of a 32g driver, over 10% of a 1g executor
    emb = spark.range(250_000).select(
        F.col("id").cast("string").alias("doc_id"), F.array(F.lit(0)).alias("bf_indices")
    )
    pairs = spark.createDataFrame([("0", "1")], "id1 string, id2 string")

    def broadcasts() -> bool:
        out = soft_cosine_pairs_native(pairs, emb, emb, np.eye(64))
        return "strategy=broadcast" in out._jdf.queryExecution().analyzed().toString()

    assert broadcasts()  # local mode: the driver JVM is the executor
    _fake_cluster_conf(spark, monkeypatch)
    assert not broadcasts()


def test_mutual_best_self_linkage_one_to_one(spark):
    """Self-linkage: no document may appear in two kept pairs, even across
    the id1/id2 columns (the two-party windows cannot guarantee this)."""
    from pprl_spark.operators.matching import mutual_best_match

    # chain a<b<c<d where (b,c) is strongest: greedy one-to-one keeps
    # (b,c) and then (a,?) — a's partner b is taken, d's partner c is
    # taken; round 2 can pair (a,d) only if they share a candidate edge
    pairs = spark.createDataFrame(
        [
            ("a", "b", 0.8),
            ("b", "c", 0.9),
            ("c", "d", 0.7),
            ("a", "d", 0.2),
        ],
        "id1 string, id2 string, sim double",
    )
    kept = mutual_best_match(pairs, rounds=3, self_linkage=True).collect()
    used = [r["id1"] for r in kept] + [r["id2"] for r in kept]
    assert len(used) == len(set(used)), f"doc reused: {kept}"
    kept_pairs = {(r["id1"], r["id2"]) for r in kept}
    assert ("b", "c") in kept_pairs
    assert ("a", "d") in kept_pairs  # residual round pairs the leftovers
    # two-party mode on the same input WOULD reuse docs across columns —
    # the guard against regressing the distinction
    two_party = mutual_best_match(pairs, rounds=1).collect()
    tp_used = [r["id1"] for r in two_party] + [r["id2"] for r in two_party]
    assert len(tp_used) != len(set(tp_used))


def _py_mutual_best(rows, self_linkage, order_cols):
    """Reference mutual-best on plain tuples (id1, id2, score, sim): rank 1
    per side under (order_cols desc, partner id asc); in self-linkage mode
    one namespace, each doc's best partner taken over both orientations."""
    col = {"score": 2, "sim": 3}

    def best_of(edges):
        best = {}
        for doc, partner, r in edges:
            key = tuple(-r[col[c]] for c in order_cols) + (partner,)
            if doc not in best or key < best[doc][0]:
                best[doc] = (key, partner)
        return {d: p for d, (_, p) in best.items()}

    if self_linkage:
        best = best_of(
            [(r[0], r[1], r) for r in rows] + [(r[1], r[0], r) for r in rows]
        )
        return {r for r in rows if best[r[0]] == r[1] and best[r[1]] == r[0]}
    b1 = best_of([(r[0], r[1], r) for r in rows])
    b2 = best_of([(r[1], r[0], r) for r in rows])
    return {r for r in rows if b1[r[0]] == r[1] and b2[r[1]] == r[0]}


def test_mutual_best_matches_python_reference(spark):
    """mutual_best_match equals a pure-Python mutual-best on seeded
    tie-heavy rows — ties on the coarse score, multi-column orderings,
    and self-linkage's shared namespace (ids overlap across columns)."""
    rng = random.Random(7)
    rows, seen = [], set()
    for _ in range(400):
        i, j = rng.randrange(60), rng.randrange(60)
        if i == j or (min(i, j), max(i, j)) in seen:
            continue
        seen.add((min(i, j), max(i, j)))
        # coarse score (forces ties) + a fine sim with its own ties
        rows.append(
            (f"d{min(i, j):02d}", f"d{max(i, j):02d}",
             float(rng.randrange(4)), rng.randrange(20) / 20)
        )
    cand = spark.createDataFrame(
        rows, "id1 string, id2 string, score double, sim double"
    )
    for self_linkage in (False, True):
        for order_cols in (("sim",), ("score", "sim")):
            got = mutual_best_match(
                cand, self_linkage=self_linkage, order_cols=order_cols
            ).collect()
            assert len(got) == len({(r[0], r[1]) for r in got})
            want = _py_mutual_best(rows, self_linkage, order_cols)
            assert {tuple(r) for r in got} == want, (self_linkage, order_cols)
            assert want, (self_linkage, order_cols)
