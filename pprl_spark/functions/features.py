"""Native (JVM-side) feature extraction columns.

The Python embed kernel lives in ``operators.embedding`` as a
``mapInPandas`` operator (one Arrow round-trip per batch, per-batch hash
memo). This module holds the feature semantics that ARE expressible as
built-in Spark columns — they stay inside whole-stage codegen and power
the purely relational queries and their DuckDB oracles
(SURVEY.md §2.3 F1/F7-F9).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Native (JVM-side, codegen'd) single-field feature columns. These mirror the
# token kernels for the simple labelled types and exist so purely relational
# queries (and the DuckDB oracle) can exercise the same semantics without a
# Python round-trip: SURVEY.md §2.3 F7-F9 note these are natively expressible.
# ---------------------------------------------------------------------------


def sex_feature_col(col: Column | str) -> Column:
    """`sex<x>` from the casefolded first character — features.py:215-247."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNull() | (c == F.lit("")), F.array(F.lit(""))
    ).otherwise(F.array(F.concat(F.lit("sex<"), F.lower(F.substring(c, 1, 1)), F.lit(">"))))


def misc_feature_col(col: Column | str, label: str = "misc") -> Column:
    """`label<value>`; missing -> empty array — features.py:293-330."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull() | (c == F.lit("")), F.array().cast("array<string>")).otherwise(
        F.array(F.concat(F.lit(f"{label}<"), F.lower(c.cast("string")), F.lit(">")))
    )


def dob_feature_col(col: Column | str) -> Column:
    """`[day<dd>, month<mm>, year<YYYY>]` from a ``yyyyMMdd`` date string.

    Native path for well-formed dates (features.py:250-290); the embed UDF
    handles lenient parsing parity.
    """
    c = F.col(col) if isinstance(col, str) else col
    d = F.to_date(c, "yyyyMMdd")
    return F.when(d.isNull(), F.array().cast("array<string>")).otherwise(
        F.array(
            F.concat(F.lit("day<"), F.date_format(d, "dd"), F.lit(">")),
            F.concat(F.lit("month<"), F.date_format(d, "MM"), F.lit(">")),
            F.concat(F.lit("year<"), F.date_format(d, "yyyy"), F.lit(">")),
        )
    )


def bigram_col(col: Column | str) -> Column:
    """Native character-bigram extraction of underscore-wrapped tokens.

    JVM-side equivalent of gen_ngram(n=2) over split_string_underscore
    (features.py:10-65): split on the reference's separator class, wrap
    each token in underscores, then slide a 2-char window. Used by the
    relational dedup/tokenize queries; the embed UDF remains the parity
    path for multi-n and skip-grams.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(F.split(F.lower(c), r"[\s+\-_,.]+"), lambda w: w != F.lit(""))
    wrapped = F.transform(toks, lambda w: F.concat(F.lit("_"), w, F.lit("_")))
    return F.flatten(
        F.transform(
            wrapped,
            lambda tok: F.transform(
                F.sequence(F.lit(1), F.length(tok) - F.lit(1)),
                lambda i: tok.substr(i, F.lit(2)),
            ),
        )
    )
