"""The workloads: seeded inputs, one pass through the engine, checks.

Each workload is a class with ``setup`` (inputs, made from the seed and
materialized, plus the answer the checks compare with) and ``run_pass``
(one timed unit of work, returning its checked outcome). The engine only
ever receives the generated inputs; every call into it goes through the
:class:`~perfbench.tracing.Tracer`, so each layer is timed from outside.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.functions.text import shingle_hashes
from pprl_spark.operators.blocking import add_block_keys, explode_blocks
from pprl_spark.operators.candidates import generate_candidates
from pprl_spark.operators.cluster import clusters_from_matches, connected_components
from pprl_spark.operators.embedding import embed_documents
from pprl_spark.operators.matching import mutual_best_match
from pprl_spark.operators.setjoin import jaccard_join
from pprl_spark.sources.synthetic import labeled_pairs, synthesize_documents
from pprl_spark.sources.tables import write_bucketed_blocks
from pprl_spark.streaming.incremental import delta_candidates, delta_match

from perfbench import textdocs

KEEP = ["doc_id", "true_id", "given_name", "surname", "date_of_birth", "sex",
        "address", "postcode"]
CONFIG = EmbedderConfig(abs_cutoff=0.3)
F1_GATE = 0.99
# share of a delta batch's re-submitted entities matched within themselves
DELTA_GATE = 0.95

# docs per party and per delta batch (linkage), documents (dedup_exact)
SIZES = {"linkage": {"n": 1000, "delta": 200}, "dedup_exact": {"n": 1500}}
TOY_SIZES = {"linkage": {"n": 300, "delta": 60}, "dedup_exact": {"n": 600}}


@dataclass
class Outcome:
    """One checked pass: whether it failed, its match quality and the CPU
    seconds it used, apart from those of the JVM's JIT compiler."""

    failed: int = 0
    f1: float = 1.0
    cpu_s: float = 0.0
    jit_cpu_s: float = 0.0
    problems: list[str] = field(default_factory=list)


def f1_score(found: set, truth: set) -> float:
    tp = len(found & truth)
    if not tp:
        return 0.0
    precision, recall = tp / len(found), tp / len(truth)
    return 2 * precision * recall / (precision + recall)


def collect_pairs(df) -> tuple[list[tuple], int]:
    """(id1, id2) rows plus the order-insensitive match-set hash
    ``sum(xxhash64(id1, id2))``, in one action."""
    rows = df.select("id1", "id2", F.xxhash64("id1", "id2").alias("h")).collect()
    return [(r["id1"], r["id2"]) for r in rows], sum(r["h"] for r in rows)


class Linkage:
    """Two-party linkage, then a delta batch probed against the corpus.

    embed -> block -> candidates -> mutual best -> CC over parties A and
    B; then write once, probe many: ``write_bucketed_blocks`` persists the
    pass's A and B block tables as the bucketed corpus, and one delta
    batch of new-id documents is embedded, blocked, joined against it
    with ``delta_candidates`` and re-ranked with ``delta_match`` over the
    corpus's stored self-candidate pair table. The delta documents are
    re-submissions of party A's first records, so each competes with its
    entity's A and B documents, and the re-rank may move old matches.
    """

    TABLE = "perfbench_corpus_blocks"

    def __init__(self, spark, tracer, seed: int, sizes: dict, workdir: str):
        self.spark, self.tr, self.seed, self.sizes = spark, tracer, seed, sizes
        self.path = os.path.join(workdir, "corpus_blocks")
        self.docs = 2 * sizes["n"] + sizes["delta"]
        self.expected = self.expected_delta = self.prior = self.delta_share = None

    def setup(self) -> None:
        parts = self.spark.sparkContext.defaultParallelism
        self.a, self.b, self.delta = (
            synthesize_documents(self.spark, n, party, seed=self.seed, corrupt=corrupt,
                                 partitions=parts).localCheckpoint()
            for n, party, corrupt in ((self.sizes["n"], "A", False),
                                      (self.sizes["n"], "B", True),
                                      (self.sizes["delta"], "C", False))
        )

    def answers(self) -> None:
        self.truth = {(r["id1"], r["id2"]) for r in labeled_pairs(self.a, self.b).collect()}

    def run_pass(self) -> Outcome:
        tr, cfg, spark = self.tr, CONFIG, self.spark

        def blocked(docs):
            emb = tr.call("embedding", lambda: embed_documents(docs, cfg, keep=KEEP))
            return tr.call(
                "blocking",
                lambda: explode_blocks(add_block_keys(emb, cfg), include_indices=False),
                boundary=True,
            )

        blocks = [blocked(self.a), blocked(self.b)]
        cand = tr.call("candidates", lambda: generate_candidates(
            blocks[0], blocks[1], cfg, min_sim=cfg.abs_cutoff))
        matches = tr.call("matching", lambda: mutual_best_match(cand), boundary=True,
                          rows_in=[cand])
        clusters = tr.call("cluster", lambda: clusters_from_matches(matches)).collect()
        pairs, digest = collect_pairs(matches)

        n_buckets = spark.sparkContext.defaultParallelism
        tr.call("tables", lambda: write_bucketed_blocks(
            blocks[0].unionByName(blocks[1]), self.TABLE, self.path, n_buckets=n_buckets))
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.path) for f in fs
                 if f.endswith(".parquet")]
        corpus = spark.table(self.TABLE)
        if self.prior is None:  # the first pass (the warm-up, part of set-up)
            # stores the corpus's self-candidate pair table
            self.prior = generate_candidates(
                corpus, None, cfg, min_sim=cfg.abs_cutoff).localCheckpoint()
        delta_blocks = blocked(self.delta)
        new = tr.call("incremental", lambda: delta_candidates(
            corpus, delta_blocks, cfg, min_sim=cfg.abs_cutoff))
        relinked = tr.call("matching", lambda: delta_match(self.prior, new),
                           rows_in=[self.prior, new])
        delta_pairs, delta_digest = collect_pairs(relinked)

        found = set(pairs)
        if tr.enabled:
            span = tr.last("candidates")
            span["match_yield"] = len(found) / max(span["rows_out"], 1)
            tr.last("tables").update(
                files_written=len(files),
                bytes_written_mb=sum(map(os.path.getsize, files)) / 2**20)
        out = Outcome(f1=f1_score(found, self.truth))
        if out.f1 < F1_GATE:
            out.problems.append(f"f1 {out.f1:.4f} < {F1_GATE}")
        if len(found) != len(pairs):
            out.problems.append("duplicate match rows")
        sizes: dict = {}
        for r in clusters:
            sizes[r["entity_id"]] = sizes.get(r["entity_id"], 0) + 1
        members = {d for p in found for d in p}
        if {r["doc_id"] for r in clusters} != members or set(sizes.values()) - {2}:
            out.problems.append("clusters are not the 1:1 match pairs")
        self.expected = self.expected or digest
        if digest != self.expected:
            out.problems.append("match-set hash differs from the first pass")
        if not 0 < len(files) <= n_buckets:
            out.problems.append(f"bucketed write left {len(files)} files for {n_buckets} buckets")
        out.problems += self.check_delta(delta_pairs, delta_digest)
        out.failed = int(bool(out.problems))
        return out

    def check_delta(self, pairs: list[tuple], digest: int) -> list[str]:
        """The delta batch's re-ranked match set: one row per pair, ids
        ordered, every document in one pair at most and the same hash on
        every pass. Each re-submitted entity has three documents (``A-i``,
        ``B-i``, ``C-i``); exactly one pair of them must be matched, and
        none of them to another entity."""
        problems = []
        docs = [d for p in pairs for d in p]
        if len(set(pairs)) != len(pairs) or len(set(docs)) != len(docs):
            problems.append("delta match is not one-to-one")
        if any(i1 >= i2 for i1, i2 in pairs):
            problems.append("delta match pair not id1 < id2")
        self.expected_delta = self.expected_delta or digest
        if digest != self.expected_delta:
            problems.append("delta match-set hash differs from the first pass")
        touching: dict[str, set] = {}
        for pair in pairs:
            for doc in pair:
                touching.setdefault(doc[2:], set()).add(pair)  # entity = id digits
        entities = [f"{i:08d}" for i in range(self.sizes["delta"])]
        matched = sum(1 for e in entities if len(got := touching.get(e, ())) == 1
                      and all(d[2:] == e for d in next(iter(got))))
        self.delta_share = matched / len(entities)
        if self.delta_share < DELTA_GATE:
            problems.append(f"delta: {self.delta_share:.3f} of the re-submitted "
                            f"entities matched within themselves, < {DELTA_GATE}")
        return problems

    def context(self) -> dict:
        return {"match_set_hash": str(self.expected),
                "delta_match_set_hash": str(self.expected_delta),
                "delta_entity_share": self.delta_share}


class DedupExact:
    """Exact near-duplicate detection: shingles -> set join -> distributed CC."""

    def __init__(self, spark, tracer, seed: int, sizes: dict, workdir: str):
        self.spark, self.tr, self.seed, self.sizes = spark, tracer, seed, sizes
        self.docs = sizes["n"]

    def setup(self) -> None:
        self.texts = textdocs.make_texts(self.seed, self.sizes["n"])
        self.frame = self.spark.createDataFrame(
            list(enumerate(self.texts)), "doc_id long, text string",
        ).repartition(self.spark.sparkContext.defaultParallelism).localCheckpoint()

    def answers(self) -> None:
        self.truth = textdocs.reference_pairs(self.texts)
        self.truth_cc = textdocs.components(self.truth)

    def run_pass(self) -> Outcome:
        tr, docs = self.tr, self.frame
        tokens = tr.call("text", lambda: docs.select(
            "doc_id", shingle_hashes("text", k=2).alias("tokens")))
        pairs = tr.call("setjoin", lambda: jaccard_join(tokens, threshold="0.4"),
                        boundary=True)
        clusters = tr.call("cluster", lambda: connected_components(
            pairs, small_graph_edges=0)).collect()
        got, self.digest = collect_pairs(pairs)
        out = Outcome()
        found = set(got)
        out.f1 = f1_score(found, self.truth)
        if found != self.truth or len(got) != len(found):
            out.problems.append(
                f"pair set differs from the exhaustive answer "
                f"({len(got)} rows, {len(found & self.truth)}/{len(self.truth)} true)")
        if {r["doc_id"]: r["entity_id"] for r in clusters} != self.truth_cc:
            out.problems.append("components differ from the union-find answer")
        out.failed = int(bool(out.problems))
        return out

    def context(self) -> dict:
        return {"pairs": len(self.truth), "pair_set_hash": str(self.digest)}


WORKLOADS = {"linkage": Linkage, "dedup_exact": DedupExact}
