"""Toy-size self-test of the benchmark.

Run from the repository root::

    python3 perfbench/selftest.py

1. Runs every workload of ``BENCHMARK.json`` at toy size (``--toy``),
   untraced and traced, and checks the output contract: the last line
   is one JSON object with ``correct``/``attempted``/``failed``/
   ``metrics``, the run is correct, and every end-to-end (untraced) or
   per-layer (traced) metric is printed with its unit. On traced runs
   the layer walls must sum to within 10% of the traced pass wall.
2. Checks the contract ``delta_match`` rests on
   (``pprl_spark/streaming/incremental.py``): with ``cap=False``, the
   stored corpus pairs plus ``delta_candidates`` re-ranked by
   ``delta_match`` equal ``mutual_best_match(self_linkage=True)`` over
   the union's self-candidates, with one row per pair — for a plain and
   for a bucketed corpus table.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.getcwd()
SEED = 7


def check_contract(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
           str(SEED), "--seconds", "1", "--trace", str(trace), "--toy"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} attempted="
                      f"{result['attempted']} failed={result['failed']}")
    kind = "per_layer" if trace else "end_to_end"
    for metric in spec[kind]:
        got = result["metrics"].get(metric["name"])
        if not got or got.get("unit") != metric["unit"] or not isinstance(
                got.get("value"), (int, float)):
            errors.append(f"{where}: metric {metric['name']} printed as {got}")
    if set(result["metrics"]) != {m["name"] for m in spec[kind]}:
        errors.append(f"{where}: extra metrics "
                      f"{set(result['metrics']) - {m['name'] for m in spec[kind]}}")
    if trace and not errors:
        wall = result["metrics"]["trace.wall_s"]["value"]
        layers = result["metrics"]["trace.layer_sum_s"]["value"]
        if abs(layers - wall) > 0.10 * wall:
            errors.append(f"{where}: layers sum to {layers:.3f} s of a {wall:.3f} s pass")
    print(f"{where}: {'ok' if not errors else 'FAILED'}", flush=True)
    return errors


def check_delta_equivalence() -> list[str]:
    sys.path[:0] = [ROOT]
    from perfbench.run import (cpu_count, remove_work_dir, start_spark, stop_spark,
                               work_environment)

    workdir = work_environment()
    from perfbench.workloads import CONFIG, KEEP
    from pprl_spark.operators.blocking import add_block_keys, explode_blocks
    from pprl_spark.operators.candidates import generate_candidates
    from pprl_spark.operators.embedding import embed_documents
    from pprl_spark.operators.matching import mutual_best_match
    from pprl_spark.sources.synthetic import synthesize_documents
    from pprl_spark.sources.tables import write_bucketed_blocks
    from pprl_spark.streaming.incremental import delta_candidates, delta_match

    os.chdir(workdir)
    spark = start_spark(cpu_count())
    errors = []
    try:
        def blocks(df):
            return explode_blocks(add_block_keys(embed_documents(df, CONFIG, keep=KEEP),
                                                 CONFIG), include_indices=False)

        corpus_docs = synthesize_documents(spark, 150, "A", seed=SEED).unionByName(
            synthesize_documents(spark, 150, "B", seed=SEED))
        delta_docs = synthesize_documents(spark, 20, "C", seed=SEED + 1).unionByName(
            synthesize_documents(spark, 20, "D", seed=SEED + 1, corrupt=True))
        corpus = blocks(corpus_docs).localCheckpoint()
        delta = blocks(delta_docs).localCheckpoint()
        union = corpus.unionByName(delta)
        prior = generate_candidates(corpus, None, CONFIG, cap=False).localCheckpoint()
        want = mutual_best_match(generate_candidates(union, None, CONFIG, cap=False),
                                 self_linkage=True)

        def pair_rows(df):
            return [(r["id1"], r["id2"], round(r["sim"], 9))
                    for r in df.select("id1", "id2", "sim").collect()]

        expected = pair_rows(want)
        write_bucketed_blocks(corpus, "selftest_corpus", os.path.join(workdir, "corpus"),
                              n_buckets=cpu_count())
        for shape, corpus_side in (("plain", corpus),
                                   ("bucketed", spark.table("selftest_corpus"))):
            new = delta_candidates(corpus_side, delta, CONFIG, cap=False,
                                   allow_uncapped=True).localCheckpoint()
            got = pair_rows(delta_match(prior, new))
            if len(got) != len(set(got)):
                errors.append(f"delta_match ({shape} corpus): duplicate pair rows")
            if set(got) != set(expected):
                errors.append(f"delta_match ({shape} corpus) differs from the union "
                              f"match: {len(set(got) ^ set(expected))} pairs")
            if any(r["id1"] >= r["id2"] for r in new.select("id1", "id2").collect()):
                errors.append(f"delta_candidates ({shape} corpus): pair not id1 < id2")
        if not expected or not any(i[0] in "CD" for p in expected for i in p[:2]):
            errors.append("delta equivalence: the toy delta matched nothing")
    finally:
        stop_spark(spark)
        os.chdir(ROOT)
        remove_work_dir(workdir)
    print(f"delta_match equivalence: {'ok' if not errors else 'FAILED'}", flush=True)
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    for workload in spec["workloads"]:
        for trace in (0, 1):
            errors += check_contract(spec, workload["name"], trace)
    errors += check_delta_equivalence()
    for error in errors:
        print("  " + error)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
