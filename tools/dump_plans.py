"""Dump .explain("formatted") for the optimization round's touched queries.

Unlike bench_probe --plan, this builds the UN-memoized lineage for the
stage-level frames (the memoized checkpoints would otherwise reduce every
plan to a checkpoint scan), so the dumped plans show the real operator
shapes the optimization notes reference.

Usage: python tools/dump_plans.py <out_dir> <tag>
"""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from pprl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, tag = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan_dump", master="local[8]")

    def docs():
        return entry._docs(spark, SF_DIR)

    # patch the CONCRETE DataFrame class (Spark 4's classic implementation
    # overrides localCheckpoint, so patching the pyspark.sql.DataFrame
    # parent is a silent no-op)
    _DF = type(spark.range(0))

    @contextmanager
    def live_lineage():
        """localCheckpoint is the identity inside, so an operator called
        here dumps its live lineage instead of checkpoint scans. Build the
        inputs outside: memoized stages keep their real checkpoints."""
        real = _DF.localCheckpoint
        _DF.localCheckpoint = lambda self, *a, **k: self
        try:
            yield
        finally:
            _DF.localCheckpoint = real

    def build_setjoin():
        from pprl_spark.functions.text import shingle_hashes
        from pprl_spark.operators.setjoin import jaccard_join

        toks = docs().select(
            F.col("doc_id").cast("long").alias("doc_id"),
            shingle_hashes("text", k=2).alias("tokens"),
        )
        with live_lineage():
            return jaccard_join(toks, threshold="0.4")

    def build_containment():
        from pprl_spark.functions.text import shingle_hashes
        from pprl_spark.operators.setjoin import containment_join

        toks = docs().select(
            F.col("doc_id").cast("long").alias("doc_id"),
            shingle_hashes("text", k=2).alias("tokens"),
        )
        with live_lineage():
            return containment_join(
                toks.where("doc_id % 20 = 0"), toks.where("doc_id % 20 != 0"), threshold="0.6"
            )

    def build_minhash():
        from pprl_spark.operators.dedup import minhash_near_duplicates

        d = docs()
        with live_lineage():
            return minhash_near_duplicates(d, k=3, threshold=0.5)

    def build_block_score():
        return entry._score_block_pairs(entry._blocked(spark, SF_DIR))

    def build_mutual_best():
        from pprl_spark.operators.matching import mutual_best_match

        pairs = entry._scored_pairs(spark, SF_DIR).select("id1", "id2", "sim")
        return mutual_best_match(pairs)

    def build_fs_scored():
        # The fs_scored query memoizes itself behind a localCheckpoint,
        # which would reduce the dumped plan to a checkpoint scan. Bypass
        # the memo and build this one stage under live_lineage so the
        # dump shows the live scoring lineage; the scored-pairs memo
        # underneath keeps its real checkpoints, which is the shape the
        # optimization notes discuss (scoring projection over the
        # memoized pair table).
        real_memo = entry._memoized

        def memo_no_fs(key, build):
            if len(key) >= 3 and key[2] == "fs_scored":
                with live_lineage():
                    return build()
            return real_memo(key, build)

        entry._memoized = memo_no_fs
        try:
            return entry.queries()["pprl_fs_scored"](spark, SF_DIR)
        finally:
            entry._memoized = real_memo

    def build_fs_match():
        return entry.queries()["pprl_fs_match"](spark, SF_DIR)

    def build_divergence():
        from pprl_spark.operators.corpus import source_divergence

        d = docs()
        with live_lineage():
            return source_divergence(d)

    def build_tfidf():
        return entry.queries()["text_tfidf"](spark, SF_DIR)

    def build_jw_pairs():
        return entry.queries()["pprl_jw_pairs"](spark, SF_DIR)

    def build_winnow():
        from pprl_spark.operators.dedup import winnow_near_duplicates

        d = docs()
        with live_lineage():
            return winnow_near_duplicates(d, k=2, w=4, threshold=0.4, max_df=100)

    def build_scm_scored():
        return entry.queries()["pprl_scm_scored"](spark, SF_DIR)

    builders = {
        "dedup_setjoin": build_setjoin,
        "dedup_containment": build_containment,
        "dedup_minhash": build_minhash,
        "pprl_block_score": build_block_score,
        "pprl_match": build_mutual_best,
        "fs_scored": build_fs_scored,
        "fs_match": build_fs_match,
        "corpus_divergence": build_divergence,
        "text_tfidf": build_tfidf,
        "jw_pairs": build_jw_pairs,
        "dedup_winnow": build_winnow,
        "scm_scored": build_scm_scored,
    }
    only = os.environ.get("PLAN_ONLY")
    if only:
        builders = {k: v for k, v in builders.items() if k in only.split(",")}
    for name, build in builders.items():
        try:
            df = build()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # a builder absent at this tree state
            plan = f"(not dumpable at this tree state: {e})"
        with open(f"{out_dir}/{name}_{tag}.txt", "w") as fh:
            fh.write(plan)
        print("dumped", name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
