"""Lexical retrieval over the document corpus (BM25 top-k).

The data-mining counterpart of the ANN operators: given a handful of
query strings, rank documents by Okapi BM25 — the standard lexical
retrieval score — and return the top-k per query. Training-data
pipelines run this shape constantly (mining seed-relevant documents,
pulling eval-adjacent docs for decontamination review, building
retrieval baselines for embedding models).

Cross-engine exactness: every per-(query, doc) term contribution is
floored to INTEGER micro-units before summation —
``floor(idf_u * tf_factor)`` where ``idf_u`` is the micro-nat BM25 IDF
truncated at the (tiny) term table — so the per-doc score is an integer
sum, immune to the summation-order nondeterminism that makes double
BM25 partitioning-dependent. The same truncate-at-the-small-table
pattern as ``corpus.unigram_surprisals`` (Spark and DuckDB ``ln``
differ in the last ulp; integer truncation confines that to the one
tiny IDF table where a boundary landing is measure-zero and the
goldens would catch it).

Scale shape: the corpus side is one scan — words are FILTERED to the
query vocabulary (a broadcast literal array) before the (doc, term)
aggregation, so postings carry only query-term hits, a vanishing
fraction of the corpus. Document lengths and corpus totals are 1-row
broadcast aggregates; the final top-k is a per-query ranking window
over the scored postings (WindowGroupLimit keeps k-row buffers
map-side). Nothing corpus-sized ever shuffles.

Reference parity: the reference toolkit has no retrieval stage; this
extends the engine for the training-data brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pprl_spark.functions.text import words_col

MICRO = 1_000_000
# Okapi BM25 term-saturation and length-normalisation constants.
K1 = 1.2
B = 0.75


def bm25_topk(docs: DataFrame, queries: dict[str, str], k: int = 10) -> DataFrame:
    """BM25 top-``k`` docs per query -> (query_id, doc_id, score_u, rk).

    ``queries`` maps query_id -> query string; query terms are the
    distinct whitespace tokens of each string. ``score_u`` is the
    integer micro-unit BM25 score
    ``Σ_t floor(idf_u(t) · tf·(K1+1) / (tf + K1·(1−B+B·dl/avgdl)))``
    with ``idf_u(t) = floor(1e6 · ln(1 + (N−df+0.5)/(df+0.5)))``;
    ties break on doc_id asc for a partitioning-independent cut.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if not queries:
        raise ValueError("queries must be non-empty")
    vocab = _vocab(queries)

    postings, stats, idf = _postings_stats_idf(docs, vocab)
    qterms = F.broadcast(
        postings.sparkSession.createDataFrame(
            [(qid, t) for qid, q in sorted(queries.items()) for t in
             sorted({x for x in q.lower().split() if x})],
            "query_id string, term string",
        )
    )
    scored = (
        postings.join(F.broadcast(idf), "term")
        .join(qterms, "term")
        .join(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.floor(
                F.col("idf_u").cast("double")
                * (
                    F.col("tf").cast("double") * (K1 + 1.0)
                    / (
                        F.col("tf").cast("double")
                        + F.lit(K1)
                        * (
                            F.lit(1.0 - B)
                            + F.lit(B)
                            * F.col("dl").cast("double")
                            / (
                                F.col("_tt").cast("double")
                                / F.col("_nd").cast("double")
                            )
                        )
                    )
                )
            )
            .cast("long")
            .alias("_c"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_c").cast("long").alias("score_u"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_u"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )

def _postings_stats_idf(docs, vocab):
    """Shared corpus pass: vocabulary-filtered postings, the 1-row
    (n_docs, total_tokens) stats frame, and the micro-nat IDF table.
    ``bm25_topk`` and ``bm25_index`` MUST score through the identical
    expression tree, so both build it here."""
    base = docs.select(
        "doc_id", words_col("text").alias("_w")
    ).where(F.size("_w") > 0)
    stats = base.agg(
        F.count("*").cast("long").alias("_nd"),
        F.sum(F.size("_w")).cast("long").alias("_tt"),
    )
    # postings restricted to the query vocabulary BEFORE aggregation:
    # the only rows that leave the scan are query-term hits
    lit_vocab = F.array(*[F.lit(t) for t in vocab])
    postings = (
        base.select(
            "doc_id",
            F.size("_w").cast("long").alias("dl"),
            F.explode(F.array_intersect(F.array_distinct("_w"), lit_vocab)).alias(
                "term"
            ),
            F.col("_w"),
        )
        .select(
            "doc_id",
            "dl",
            "term",
            F.size(F.filter("_w", lambda x: x == F.col("term")))
            .cast("long")
            .alias("tf"),
        )
    )
    df_tbl = postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    # micro-nat IDF truncated at the tiny term table
    idf = df_tbl.join(F.broadcast(stats)).select(
        "term",
        F.floor(
            F.lit(float(MICRO))
            * F.log(
                F.lit(1.0)
                + (F.col("_nd").cast("double") - F.col("df").cast("double") + 0.5)
                / (F.col("df").cast("double") + 0.5)
            )
        )
        .cast("long")
        .alias("idf_u"),
    )
    return postings, stats, idf


def _vocab(queries):
    vocab = sorted({t for q in queries.values() for t in q.lower().split() if t})
    if not vocab:
        raise ValueError("queries contain no terms")
    return vocab


def bm25_index(docs, queries):
    """Build the standing retrieval index for a query workload ->
    ``{"idf": {term: idf_u}, "nd": int, "tt": int}``.

    The write-once/probe-many shape: the corpus statistics a BM25 score
    needs — per-term micro-nat IDF, document count, total token count —
    are bounded by the QUERY vocabulary (tens of values), so the index
    collects to a driver dict and ships to any scorer as plain
    literals. Build cost is one corpus scan; every subsequent probe
    (batch or streaming) is stateless.
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    vocab = _vocab(queries)
    postings, stats, idf = _postings_stats_idf(docs, vocab)
    s = stats.collect()[0]
    return {
        "idf": {r["term"]: r["idf_u"] for r in idf.collect()},
        "nd": int(s["_nd"]),
        "tt": int(s["_tt"]),
    }


def bm25_score_stream(
    docs: DataFrame,
    index: dict,
    queries: dict[str, str],
) -> DataFrame:
    """Score arriving documents against a standing BM25 index ->
    (doc_id, query_id, score_u); rows only for docs matching >= 1 term.

    STATELESS streaming scorer (the retrieval analog of the delta-match
    probe): the index is literal constants, per-term tf is an array
    expression over the row's own tokens, and the per-query score is a
    compile-time sum of floored integer contributions — identical
    arithmetic to :func:`bm25_topk`'s scored stage, so for the corpus
    the index was built on the scores agree EXACTLY. No join, no
    shuffle, no watermark, no state: works verbatim on a
    ``readStream`` frame in append mode. New documents are scored
    against the CORPUS-AT-INDEX-TIME statistics by design (the standing
    index contract); rebuild the index to refresh IDF.
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    _vocab(queries)
    idf_map, nd, tt = index["idf"], index["nd"], index["tt"]
    w = words_col("text")
    dl = F.size(w).cast("double")
    avgdl = F.lit(float(tt)) / F.lit(float(nd))
    norm = F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl / avgdl)
    per_query = []
    for qid in sorted(queries):
        terms = sorted({t for t in queries[qid].lower().split() if t})
        contribs = []
        matched = None
        def _tf(term):
            # factory, not a default-arg lambda: pyspark treats a
            # two-parameter HOF lambda as the (element, index) form
            return F.size(F.filter(w, lambda x: x == F.lit(term))).cast("double")

        for t in terms:
            if t not in idf_map:
                continue  # term absent from the corpus: df=0, no postings
            tf = _tf(t)
            contribs.append(
                F.floor(
                    F.lit(float(idf_map[t]))
                    * (tf * (K1 + 1.0) / (tf + norm))
                ).cast("long")
            )
            m = tf > 0
            matched = m if matched is None else (matched | m)
        if not contribs:
            continue
        score = contribs[0]
        for c in contribs[1:]:
            score = score + c
        per_query.append(
            F.struct(
                F.lit(qid).alias("query_id"),
                score.cast("long").alias("score_u"),
                matched.alias("_m"),
            )
        )
    if not per_query:
        raise ValueError("no query term appears in the index")
    return (
        docs.select("doc_id", F.explode(F.array(*per_query)).alias("_q"))
        .where(F.col("_q._m"))
        .select("doc_id", F.col("_q.query_id").alias("query_id"),
                F.col("_q.score_u").alias("score_u"))
    )
