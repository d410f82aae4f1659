"""Embedder configuration: the broadcastable "schema + plan" object.

The reference bundles Bloom parameters, a feature-factory dict and trained
SCM matrices into a picklable ``Embedder`` class with an md5 checksum
(`/root/reference/src/pprl/embedder/embedder.py:289-401`). In Spark the
equivalent is a small frozen dataclass that (a) serializes to JSON, (b) is
shipped to executors inside UDF closures (tiny, so no explicit broadcast
needed), and (c) carries a deterministic checksum used to validate
checkpointed stage tables on resume — the analog of the reference's
EDF/embedder compatibility check (`embedder.py:504-506`).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field, replace
from typing import Any

# Feature-factory registry: column-type name -> token kernel. Mirrors the
# reference's feature_factory dict (embedder.py:349-364) but keyed by
# *string* type names so the config stays JSON-serializable (the reference
# dill-pickles functions instead, embedder.py:388-392).
KNOWN_FIELD_TYPES = ("name", "sex", "dob", "misc", "shingled", "media")


@dataclass(frozen=True)
class EmbedderConfig:
    """Parameters of the Bloom embedding space.

    Defaults follow the reference (`embedder.py:349-357`): bf_size=1024,
    num_hashes=2, offset=0, no salt, bigram+trigram q-grams.
    """

    bf_size: int = 1024
    num_hashes: int = 2
    offset: int = 0
    salt: str = ""
    # colspec: field name (from the span payload `field=value`) -> type.
    colspec: dict[str, str] = field(
        default_factory=lambda: {
            "given_name": "name",
            "surname": "name",
            "date_of_birth": "dob",
            "sex": "sex",
            "address": "shingled",
            "postcode": "misc",
            "media_ref": "media",
        }
    )
    # per-type kwargs, analog of ff_args (embedder.py:361-364)
    ff_args: dict[str, dict[str, Any]] = field(default_factory=dict)

    # ---- blocking parameters (no analog in the reference; the graft) ----
    minhash_perms: int = 20           # minhash signature length
    minhash_bands: int = 4            # bands; rows-per-band = perms // bands
                                      # r=5, b=4: sharp S-curve tuned on the
                                      # FEBRL-style fixture — Bloom sets of
                                      # distinct records already share J≈0.3
                                      # (sex/day/month tokens, common name
                                      # bigrams), so shallower bands flood
                                      # the candidate join with negatives.
                                      # Measured at 20k/source: 2.4M pairs,
                                      # P=1.0 R=0.997 F1=0.9985 (gate 0.99);
                                      # recall is carried jointly with the
                                      # sorted-neighborhood keys
    max_block_size: int = 500         # per-block doc cap: blocks above this
                                      # are deterministically thinned (see
                                      # operators.candidates.cap_blocks);
                                      # 500 keeps celebrity-block pair count
                                      # ~quadratic-free while LSH bands keep
                                      # recall (F1 gate validates)

    # ---- matching parameters ----
    abs_cutoff: float = 0.0           # SimilarityArray.match abs_cutoff analog
    rel_cutoff: float = 0.0           # margin above per-row threshold
    similarity: str = "cosine"        # cosine | dice
    pair_join_hint: str = "auto"      # blocked pair-join strategy:
                                      # "auto" (default) picks from observable
                                      # state — guarded broadcast when the
                                      # counted build side provably fits a
                                      # slice of the heap, else sort-merge;
                                      # explicit "merge"/"shuffle_hash"/
                                      # "broadcast" pin the strategy (see
                                      # operators/candidates.py measurements;
                                      # shuffle_hash is pin-only: measured
                                      # tie-at-best, wedged-stage-at-worst)

    def with_args(self, **kwargs: Any) -> "EmbedderConfig":
        return replace(self, **kwargs)

    @classmethod
    def app_preset(cls, salt: str = "", **overrides: Any) -> "EmbedderConfig":
        """Preset mirroring the reference app's fixed feature registry.

        The reference UI hard-codes ``NGRAMS = [1, 2, 3, 4]`` plus
        skip-grams for name columns (`/root/reference/src/pprl/app/
        utils.py:138-139`) instead of the library default [2, 3] — richer
        name features at the cost of a denser Bloom filter. Everything
        else (bf_size=1024, num_hashes=2, offset=0) matches the library
        defaults the app also uses.
        """
        ff_args = {
            "name": {"ngram_length": [1, 2, 3, 4], "use_gen_skip_grams": True}
        }
        return cls(salt=salt, ff_args=ff_args, **overrides)

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @property
    def checksum(self) -> str:
        """Deterministic md5 of the full config.

        Functional analog of ``Embedder._compute_checksum``
        (`embedder.py:382-401`): two configs with equal checksums produce
        byte-identical stage tables, so a checkpoint written under one
        checksum may be reused by a resume under the same checksum.
        """
        return hashlib.md5(self.to_json().encode("utf-8")).hexdigest()

    @property
    def rows_per_band(self) -> int:
        return max(1, self.minhash_perms // self.minhash_bands)
