"""Interleaved-span payload operators (input_hint shape).

The engine's document model is the input-hint interleaved shape —
``spans: array<struct<kind:string, text:string, media_ref:string,
offset:int>>`` — text and media spans in one ordered sequence. The
dedup-side span operators live in ``operators/dedup.py``
(``exact_duplicate_spans``, ``cross_media_duplicates``); this module
holds the *packing and composition* operators a multimodal training
pipeline runs after dedup:

- :func:`chunk_spans` — greedy span-atomic sequence packing: walk the
  span sequence in offset order and close the current chunk whenever
  adding the next span would exceed the token budget. This is the
  multimodal analog of text chunking — media spans are atomic (a vision
  encoder consumes the whole image or none of it) and cost a fixed
  token count, so the packer must fold sequentially rather than slice.
  The fold runs INSIDE one array expression per row (``F.aggregate``),
  so packing is a scan — zero shuffle, zero UDF — and the identical
  fold is expressible in SQL (``list_reduce`` over cost structs, the
  first element seeding the accumulator), which keeps it oracle-exact.
- :func:`modality_profile` — per-document span-composition report
  (span/token counts by kind, media-kind inventory, text-span share):
  the filter input for "drop docs that are all boilerplate images" /
  "keep docs with enough text context per image" curation rules. Pure
  array expressions, zero shuffle.

Reference parity: the reference toolkit (datasciencecampus/
pprl_toolkit) operates on flat records only; these extend the engine
for the interleaved-payload brief, mirroring the span conventions of
``sources/tables.py::lift_flat_records`` and
``operators/dedup.py::span_serialize_col``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pprl_spark.functions.text import words_col

TEXT_KIND = "text"


def _offset_sorted(spans: Column) -> Column:
    """Spans sorted by offset (the input-hint order key), null-safe."""
    return F.array_sort(
        spans,
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )


def span_cost(span: Column, media_cost: int) -> Column:
    """Token cost of one span: word count for text, flat ``media_cost``
    (the vision-encoder token budget per asset) for any other kind."""
    return (
        F.when(
            span["kind"] == TEXT_KIND,
            F.coalesce(F.size(words_col(span["text"])), F.lit(0)),
        )
        .otherwise(F.lit(media_cost))
        .cast("long")
    )


def chunk_spans(docs: DataFrame, budget: int = 1024, media_cost: int = 16) -> DataFrame:
    """Greedy span-atomic packing -> (doc_id, offset, kind, cost, chunk_id).

    Sequence-packing for interleaved documents: spans are consumed in
    offset order; a new chunk opens when the running cost plus the next
    span's cost would exceed ``budget`` — unless the current chunk is
    still empty, in which case an oversized span occupies (and
    overflows) a chunk alone rather than deadlocking. Spans are atomic:
    a media span is never split (its encoder consumes whole assets) and
    text spans keep their sentence-level integrity; a chunk therefore
    holds at most ``budget`` tokens except for the single-oversized-span
    case, which callers detect via ``cost > budget``.

    Scale shape: the fold is one ``F.aggregate`` array expression per
    row — the span sequence never leaves its document, so chunking is a
    pure scan with no shuffle and no Python. State is
    ``(chunk, used, assign)`` where ``assign`` accumulates one BIGINT
    per span; span counts per document are bounded (thousands, not
    millions), so the per-row array stays small. The same fold runs in
    SQL via ``list_reduce`` over pre-mapped cost structs with the first
    element seeding the accumulator, making the operator value-exact
    against a DuckDB twin — greedy packing is history-dependent, so a
    window function cannot express it, but a per-row fold can.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if media_cost < 0:
        raise ValueError(f"media_cost must be >= 0, got {media_cost}")
    ordered = _offset_sorted(F.col("spans"))
    costed = F.transform(
        ordered,
        lambda s: F.struct(
            s["offset"].cast("long").alias("offset"),
            s["kind"].alias("kind"),
            span_cost(s, media_cost).alias("cost"),
        ),
    )
    init = F.struct(
        F.lit(0).cast("long").alias("chunk"),
        F.lit(0).cast("long").alias("used"),
        F.array().cast("array<bigint>").alias("assign"),
    )

    def _step(acc: Column, x: Column) -> Column:
        over = (acc["used"] + x["cost"] > budget) & (acc["used"] > 0)
        nxt = F.when(over, acc["chunk"] + 1).otherwise(acc["chunk"])
        return F.struct(
            nxt.alias("chunk"),
            F.when(over, x["cost"])
            .otherwise(acc["used"] + x["cost"])
            .cast("long")
            .alias("used"),
            F.concat(acc["assign"], F.array(nxt)).alias("assign"),
        )

    packed = docs.select(
        "doc_id",
        costed.alias("_sp"),
        F.aggregate(costed, init, _step)["assign"].alias("_assign"),
    )
    ex = packed.select(
        "doc_id", F.posexplode("_sp").alias("_pos", "_s"), F.col("_assign")
    )
    return ex.select(
        "doc_id",
        F.col("_s.offset").alias("offset"),
        F.col("_s.kind").alias("kind"),
        F.col("_s.cost").alias("cost"),
        F.element_at("_assign", F.col("_pos") + 1).alias("chunk_id"),
    )


def modality_profile(docs: DataFrame) -> DataFrame:
    """Per-document modality composition -> (doc_id, n_spans,
    n_text_spans, n_media_spans, n_text_tokens, media_kinds,
    text_span_share).

    The curation-filter input for interleaved corpora: how much genuine
    text context surrounds the media ("image-spam" docs have high media
    counts and near-zero text tokens), and which media kinds appear
    (``media_kinds`` is the sorted distinct non-text kind list as one
    comma-joined string, keeping the output flat). ``text_span_share``
    is a single exactly-rounded integer division, bit-stable across
    engines. Pure array expressions — no shuffle, no UDF, no explode.
    """
    sp = F.col("spans")
    n_spans = F.size(sp).cast("long")
    text_spans = F.filter(sp, lambda s: s["kind"] == TEXT_KIND)
    n_text = F.size(text_spans).cast("long")
    n_text_tokens = F.aggregate(
        text_spans,
        F.lit(0).cast("long"),
        lambda a, s: a + F.coalesce(F.size(words_col(s["text"])), F.lit(0)),
    )
    media_kinds = F.array_join(
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.filter(sp, lambda s: s["kind"] != TEXT_KIND),
                    lambda s: s["kind"],
                )
            )
        ),
        ",",
    )
    return docs.select(
        "doc_id",
        n_spans.alias("n_spans"),
        n_text.alias("n_text_spans"),
        (n_spans - n_text).alias("n_media_spans"),
        n_text_tokens.cast("long").alias("n_text_tokens"),
        media_kinds.alias("media_kinds"),
        (n_text.cast("double") / n_spans.cast("double")).alias("text_span_share"),
    ).where(F.col("n_spans") > 0)


def media_ref_audit(
    docs: DataFrame,
    media: DataFrame,
) -> DataFrame:
    """Media-store referential-integrity audit of (doc_id, spans)
    documents against a (media_ref, payload_hash) store -> (doc_id,
    n_media_refs, n_orphan_refs, n_shared_refs).

    The two failure modes of an interleaved corpus's media store:
    *orphans* (a span references an asset the store no longer has —
    deletion races, partial ingests; these documents cannot be fully
    rendered or trained on) and *re-uploads* (distinct refs whose
    payload hash is identical — the same image ingested under many
    names, the media analog of text near-dups; ``n_shared_refs`` counts
    a doc's refs whose payload serves >1 distinct ref in the store).

    Scale shape: media spans explode to slim (doc_id, ref) rows — text
    and payloads never move; the store side collapses to per-payload
    distinct-ref counts (map-side combined) joined back to refs by
    hash; the audit join is a plain equi-join on the ref string and the
    result is one groupBy(doc_id) over the (sparse) media-span rows.
    """
    refs = docs.select(
        "doc_id",
        F.explode(F.filter(F.col("spans"), lambda s: s["kind"] != TEXT_KIND)).alias("_s"),
    ).select("doc_id", F.col("_s.media_ref").alias("_ref")).where(F.col("_ref").isNotNull())
    payload_counts = media.groupBy("payload_hash").agg(
        F.count_distinct("media_ref").cast("long").alias("_n_refs")
    )
    store = media.select(
        F.col("media_ref").alias("_ref"), F.col("payload_hash").alias("_h")
    ).join(
        payload_counts.select(
            F.col("payload_hash").alias("_h"), (F.col("_n_refs") > 1).alias("_shared")
        ),
        "_h",
    ).select("_ref", "_shared", F.lit(1).alias("_present"))
    joined = refs.join(store, "_ref", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_media_refs"),
        F.sum(F.when(F.col("_present").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_orphan_refs"),
        F.sum(F.when(F.col("_shared"), 1).otherwise(0))
        .cast("long")
        .alias("n_shared_refs"),
    )
