"""Deterministic FEBRL-style synthetic documents in input_hint shape.

Plays the role of the reference's FEBRL4 evaluation corpus (2×5,000
records, every B record has exactly one true match in A —
`/root/reference/docs/tutorials/example-febrl.qmd:26-46`) re-shaped onto
the interleaved text+media document model required by BASELINE.json:

    (doc_id string, spans array<struct<kind, text, media_ref, offset>>)

Source A holds one clean record per entity; source B a corrupted copy
(char swap/drop/dup/replace, swapped given/surname, day/month swap,
missing fields), mimicking FEBRL corruption and the reference's
Hypothesis name mutator (`/root/reference/test/embedder/strategies.py:40-53`).

Every row is a pure function of (seed, entity_index, source): generation
is distributed via ``mapInPandas`` over ``spark.range`` and the output is
byte-identical at any parallelism/partitioning (FIXTURES.md §6).
A deterministic fraction of entities share surname+postcode+dob prefix
("celebrity blocks") to exercise salting/skew handling.
"""

from __future__ import annotations

import hashlib
import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

GIVEN_NAMES = [
    "james", "mary", "john", "patricia", "robert", "jennifer", "michael", "linda",
    "william", "elizabeth", "david", "barbara", "richard", "susan", "joseph", "jessica",
    "thomas", "sarah", "charles", "karen", "christopher", "nancy", "daniel", "lisa",
    "matthew", "betty", "anthony", "margaret", "mark", "sandra", "donald", "ashley",
    "steven", "kimberly", "paul", "emily", "andrew", "donna", "joshua", "michelle",
    "kenneth", "dorothy", "kevin", "carol", "brian", "amanda", "george", "melissa",
    "edward", "deborah", "ronald", "stephanie", "timothy", "rebecca", "jason", "sharon",
    "jeffrey", "laura", "ryan", "cynthia", "jacob", "kathleen", "gary", "amy",
]
SURNAMES = [
    "smith", "johnson", "williams", "brown", "jones", "garcia", "miller", "davis",
    "rodriguez", "martinez", "hernandez", "lopez", "gonzalez", "wilson", "anderson",
    "thomas", "taylor", "moore", "jackson", "martin", "lee", "perez", "thompson",
    "white", "harris", "sanchez", "clark", "ramirez", "lewis", "robinson", "walker",
    "young", "allen", "king", "wright", "scott", "torres", "nguyen", "hill", "flores",
    "green", "adams", "nelson", "baker", "hall", "rivera", "campbell", "mitchell",
    "carter", "roberts", "gomez", "phillips", "evans", "turner", "diaz", "parker",
]
STREETS = [
    "high street", "station road", "main street", "park avenue", "church lane",
    "victoria road", "green lane", "manor road", "kings road", "queens road",
    "mill lane", "school lane", "broadway", "springfield road", "george street",
]
SUBURBS = [
    "northfield", "southbank", "eastwood", "westgate", "riverside", "hillcrest",
    "lakeview", "brookside", "fairview", "oakwood", "maplewood", "elmhurst",
]

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("true_id", T.LongType()),
        T.StructField("spans", SPAN_TYPE),
    ]
)


# share of entities collapsed onto the hot "celebrity" block keys
CELEBRITY_FRACTION = 0.01


def _entity(seed: int, idx: int) -> dict:
    rng = random.Random((seed << 34) ^ (idx * 2_654_435_761))
    ent = {
        "given_name": rng.choice(GIVEN_NAMES),
        "surname": rng.choice(SURNAMES),
        "date_of_birth": f"{rng.randint(1930, 2009):04d}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}",
        "sex": rng.choice(["m", "f"]),
        "address": f"{rng.randint(1, 999)} {rng.choice(STREETS)} {rng.choice(SUBURBS)}",
        "postcode": f"{rng.randint(1000, 9999)}",
    }
    # celebrity blocks: a deterministic slice of entities collapses onto a
    # handful of shared (surname, postcode, dob-year) values -> hot keys
    if rng.random() < CELEBRITY_FRACTION:
        hot = rng.randint(0, 3)
        ent["surname"] = SURNAMES[hot]
        ent["postcode"] = f"{9000 + hot}"
        ent["date_of_birth"] = f"19{70 + hot:02d}" + ent["date_of_birth"][4:]
    return ent


def _typo(rng: random.Random, s: str) -> str:
    if len(s) < 2:
        return s
    op = rng.randint(0, 3)
    i = rng.randint(0, len(s) - 2)
    if op == 0:  # swap adjacent
        return s[:i] + s[i + 1] + s[i] + s[i + 2 :]
    if op == 1:  # drop
        return s[:i] + s[i + 1 :]
    if op == 2:  # duplicate
        return s[:i] + s[i] + s[i:]
    return s[:i] + rng.choice("abcdefghijklmnopqrstuvwxyz") + s[i + 1 :]  # replace


def _corrupt(seed: int, idx: int, ent: dict) -> dict:
    rng = random.Random((seed << 34) ^ (idx * 1_327_217_885) ^ 0xB10CBEEF)
    out = dict(ent)
    # 1-2 corruptions per record, FEBRL-style
    for _ in range(rng.randint(1, 2)):
        op = rng.randint(0, 5)
        if op == 0:
            out["given_name"] = _typo(rng, out["given_name"])
        elif op == 1:
            out["surname"] = _typo(rng, out["surname"])
        elif op == 2:
            out["given_name"], out["surname"] = out["surname"], out["given_name"]
        elif op == 3:  # day/month swap when valid
            d = out["date_of_birth"]
            y, m, dd = d[:4], d[4:6], d[6:8]
            if int(dd) <= 12:
                out["date_of_birth"] = y + dd + m
        elif op == 4:
            out["address"] = _typo(rng, out["address"])
        else:
            out["postcode"] = _typo(rng, out["postcode"])
    if rng.random() < 0.05:
        out["sex"] = ""
    return out


def _spans(ent: dict, doc_id: str) -> list[dict]:
    media = "img://" + hashlib.sha1(doc_id.encode()).hexdigest()[:16]
    fields = ["given_name", "surname", "date_of_birth", "sex", "address", "postcode"]
    spans = [
        {"kind": "text", "text": f"{f}={ent[f]}", "media_ref": None, "offset": i}
        for i, f in enumerate(fields)
    ]
    spans.append({"kind": "media", "text": None, "media_ref": media, "offset": len(fields)})
    return spans


def synthesize_documents(
    spark: SparkSession,
    n_entities: int,
    source: str = "A",
    seed: int = 42,
    corrupt: bool | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Generate one party's documents table (doc_id, true_id, spans)."""
    if corrupt is None:
        corrupt = source != "A"
    num_parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx in pdf["id"]:
                idx = int(idx)
                ent = _entity(seed, idx)
                if corrupt:
                    ent = _corrupt(seed, idx, ent)
                doc_id = f"{source}-{idx:08d}"
                rows.append((doc_id, idx, _spans(ent, doc_id)))
            yield pd.DataFrame(rows, columns=["doc_id", "true_id", "spans"])

    return spark.range(0, n_entities, numPartitions=num_parts).mapInPandas(gen, DOCS_SCHEMA)


def labeled_pairs(docs_a: DataFrame, docs_b: DataFrame) -> DataFrame:
    """Ground-truth positive pairs (id1, id2) — FEBRL 1:1 truth semantics."""
    a = docs_a.select(F.col("doc_id").alias("id1"), F.col("true_id").alias("t"))
    b = docs_b.select(F.col("doc_id").alias("id2"), F.col("true_id").alias("t"))
    return a.join(b, "t").select("id1", "id2")
