"""One scaling-run: full synthetic linkage at a given core count.

Invoked by tools/bench_scaling.py as a subprocess (one JVM per master
setting). Prints a single JSON line with elapsed seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.operators.blocking import add_block_keys, explode_blocks
from pprl_spark.operators.candidates import generate_candidates
from pprl_spark.operators.embedding import embed_documents
from pprl_spark.operators.matching import mutual_best_match
from pprl_spark.session import get_spark
from pprl_spark.sources.synthetic import synthesize_documents

KEEP = ["doc_id", "true_id", "given_name", "surname", "date_of_birth", "sex", "address", "postcode"]


def main() -> None:
    cpus = int(sys.argv[1])
    n = int(sys.argv[2])
    # 4x partitions-per-thread measured best for this 100k-doc workload
    # at 4/16/32 threads (local[8] prefers 1x by ~10%; see BENCH/BASELINE.md)
    shuffle = int(os.environ.get("SPARK_SCALE_SHUFFLE", 4 * cpus))
    spark = get_spark(app_name=f"scale_{cpus}", master=f"local[{cpus}]", shuffle_partitions=shuffle)
    cfg = EmbedderConfig(
        abs_cutoff=0.3,
        pair_join_hint=os.environ.get("PPRL_PAIR_JOIN", "merge"),
    )
    # generation outside the timed section (identical input both runs)
    A = synthesize_documents(spark, n, "A", partitions=cpus).localCheckpoint()
    B = synthesize_documents(spark, n, "B", partitions=cpus).localCheckpoint()

    # PPRL_SCALE_BUCKETED=1: persist block stages bucketed by the hashed
    # block key (sources.tables) and join from the bucketed scans — the
    # pipeline's zero-exchange path, measured end-to-end INCLUDING the
    # clustering write it pays up front
    bucketed = os.environ.get("PPRL_SCALE_BUCKETED") == "1"
    t0 = time.time()
    if bucketed:
        import tempfile

        from pprl_spark.sources.tables import write_bucketed_blocks

        base = tempfile.mkdtemp(prefix="pprl_scale_bkt_")
        sides = {}
        for tag, docs in (("a", A), ("b", B)):
            blk = explode_blocks(
                add_block_keys(embed_documents(docs, cfg, keep=KEEP), cfg),
                include_indices=False,
            )
            table = f"pprl_scale_{tag}"
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            write_bucketed_blocks(blk, table, f"{base}/{tag}", n_buckets=shuffle)
            sides[tag] = spark.table(table)
        blocks_a, blocks_b = sides["a"], sides["b"]
    else:
        blocks_a = explode_blocks(
            add_block_keys(embed_documents(A, cfg, keep=KEEP), cfg), include_indices=False
        ).localCheckpoint()
        blocks_b = explode_blocks(
            add_block_keys(embed_documents(B, cfg, keep=KEEP), cfg), include_indices=False
        ).localCheckpoint()
    # stage split: the localCheckpoint/bucketed write above materializes
    # embed+block, so everything after t_embed is the pair join + match —
    # lets a two-level sweep attribute scaling loss to the CPU-bound
    # embed stage vs the exchange-bound join separately
    t_embed = time.time() - t0
    cand = generate_candidates(blocks_a, blocks_b, cfg, min_sim=cfg.abs_cutoff)
    # one action: match count + an order-insensitive content hash (sum of
    # per-pair xxhash64 as decimal so it cannot overflow), so plain and
    # bucketed runs can assert IDENTICAL match sets, not just equal counts
    agg = (
        mutual_best_match(cand)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("id1", "id2").cast("decimal(38,0)")).alias("h"),
        )
        .collect()[0]
    )
    n_matches, match_hash = agg["n"], agg["h"]
    elapsed = time.time() - t0
    print(json.dumps({"cpus": cpus, "shuffle_partitions": shuffle,
                      "n_per_source": n, "matches": n_matches,
                      "match_set_hash": str(match_hash),
                      "elapsed_sec": round(elapsed, 2),
                      "embed_sec": round(t_embed, 2),
                      "match_sec": round(elapsed - t_embed, 2),
                      "docs_per_sec": round(2 * n / elapsed, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
