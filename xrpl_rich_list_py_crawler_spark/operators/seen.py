"""URL-seen set: partitioned bloom shards + exact anti-join repair.

Generalizes the reference's in-memory dedup set ``processed_accounts``
(``loader.py:140,155``) and the ``UNIQUE (address, snapshot_date)`` key
(``table.sql:13``) to a 10^10-key seen set (BASELINE.json north_rule):

* **truth**: the exact ``seen`` ledger (url_hash longs, appended per round).
* **pre-filter**: N bloom shards aligned to ``pmod(url_hash, N)``, each a
  numpy bitset built executor-side via ``applyInPandas`` (one Arrow batch
  per shard group, no per-row Python). Candidates whose shard bloom says
  "definitely unseen" skip the expensive anti-join entirely; only the
  "maybe seen" minority is repaired with an exact anti-join against the
  ledger — so bloom false positives can never drop an unseen URL and the
  final seen set matches the reference exactly (SURVEY.md §4.2-1).

At 10^10 keys: ~1.2 GB of bloom bits at 1% fpp split over shards; shards are
broadcast once per round and probed inside an Arrow batch. The exact ledger
stays columnar on disk and is only anti-joined against the (tiny) maybe-seen
slice — this is the operator that turns an O(frontier × seen) shuffle into
O(maybe_seen × seen_shard).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Mixing constant for the second hash in double-hashing (splitmix64 step).
_MIX = np.uint64(0x9E3779B97F4A7C15)


def _positions(hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """(len, n_hashes) bit positions via double hashing h1 + i*h2."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = (h ^ (h >> np.uint64(33))) * _MIX | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(n_bits)).astype(np.int64)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """True where ALL k positions are set (possible member)."""
    got = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return got.all(axis=1)


@dataclass
class BloomShards:
    """Broadcastable bundle of per-shard bloom bitsets."""

    n_shards: int
    n_bits: int
    n_hashes: int
    shards: dict[int, bytes]

    n_keys: int = 0

    def or_merge(self, other: "BloomShards") -> "BloomShards":
        """Blob-wise OR of two same-geometry bundles.

        The scale path for per-round updates: the increment's shards are
        built executor-side (``build_bloom_shards`` with this bundle's
        geometry), so only ``n_shards`` bitset blobs ever reach the driver —
        never row data (round-1's ``new_seen.collect()`` was unbounded at a
        10^10-key frontier; VERDICT.md What's-wrong #2)."""
        if (self.n_shards, self.n_bits, self.n_hashes) != (
            other.n_shards, other.n_bits, other.n_hashes,
        ):
            raise ValueError("or_merge requires identical bloom geometry")
        shards = dict(self.shards)
        for sid, blob in other.shards.items():
            if sid in shards:
                a = np.frombuffer(shards[sid], dtype=np.uint8)
                b = np.frombuffer(blob, dtype=np.uint8)
                shards[sid] = np.bitwise_or(a, b).tobytes()
            else:
                shards[sid] = blob
        return BloomShards(
            n_shards=self.n_shards,
            n_bits=self.n_bits,
            n_hashes=self.n_hashes,
            shards=shards,
            n_keys=self.n_keys + other.n_keys,
        )

    @property
    def saturated(self) -> bool:
        """True when keys exceed the sizing budget (~10 bits/key) — callers
        should rebuild larger to keep the false-positive rate low."""
        return self.n_keys * 10 > self.n_bits * self.n_shards

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership: False ⇒ definitely unseen."""
        out = np.zeros(len(hashes), dtype=bool)
        if not len(hashes):
            return out
        h = hashes.astype(np.int64)
        shard_ids = np.mod(h, self.n_shards)  # == Spark pmod semantics
        for sid in np.unique(shard_ids):
            mask = shard_ids == sid
            blob = self.shards.get(int(sid))
            if blob is None:
                continue
            bits = np.frombuffer(blob, dtype=np.uint8)
            pos = _positions(h[mask], self.n_bits, self.n_hashes)
            out[mask] = _test_bits(bits, pos)
        return out


def build_bloom_shards(
    seen: DataFrame,
    n_shards: int = 32,
    bits_per_key: int = 10,
    n_hashes: int = 7,
    min_bits: int = 1 << 14,
    expected_keys: int | None = None,
    n_bits_override: int | None = None,
) -> BloomShards:
    """Build per-shard blooms executor-side, collect only the bitsets.

    ``applyInPandas`` over ``pmod(url_hash, n_shards)`` groups: each task
    sees one shard's hashes as a single Arrow batch and emits one (shard_id,
    bitset) row — the shuffle moves longs, the collect moves n_shards blobs.

    ``n_bits_override`` pins the geometry (for building an increment bundle
    that will be :meth:`BloomShards.or_merge`-d into an existing one); in
    that mode no sizing ``count()`` job runs — key counts ride back on the
    per-shard rows instead (one Spark job per increment, not two).
    """
    if n_bits_override is not None:
        n_bits = n_bits_override
    else:
        total = seen.count()
        sized_for = max(total, expected_keys or 0)
        n_bits = max(min_bits, int(bits_per_key * max(sized_for, 1) / n_shards))
        n_bits = 1 << int(np.ceil(np.log2(n_bits)))  # power of two → cheap mod

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        pos = _positions(pdf["url_hash"].to_numpy(), n_bits, n_hashes)
        _set_bits(bits, pos)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bits": [bits.tobytes()],
                "n": [len(pdf)],
            }
        )

    built = (
        seen.select("url_hash", F.pmod("url_hash", F.lit(n_shards)).alias("shard"))
        .groupBy("shard")
        .applyInPandas(_build, "shard int, bits binary, n long")
        .collect()
    )
    return BloomShards(
        n_shards=n_shards,
        n_bits=n_bits,
        n_hashes=n_hashes,
        shards={r["shard"]: bytes(r["bits"]) for r in built},
        n_keys=sum(r["n"] for r in built),
    )


def anti_join_seen(candidates: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Exact frontier-vs-seen anti-join (J2, ``loader.py:157-161``). A
    left-anti join ignores duplicate keys on the right, so the ledger is
    not deduplicated first (that would shuffle all of it every round)."""
    if seen is None:
        return candidates
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


def anti_join_seen_bloom(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame | None,
    shards: BloomShards | None = None,
    n_shards: int = 32,
) -> DataFrame:
    """Bloom pre-filter + exact repair — semantically ≡ anti_join_seen.

    definitely-unseen (bloom says no) pass for free; maybe-seen rows get the
    exact anti-join. Equivalence asserted by tests/test_seen.py.
    """
    if seen is None:
        return candidates
    if shards is None:
        shards = build_bloom_shards(seen, n_shards=n_shards)
    bc = spark.sparkContext.broadcast(shards)

    @F.pandas_udf("boolean")
    def _maybe_seen(h: pd.Series) -> pd.Series:
        return pd.Series(bc.value.maybe_contains(h.to_numpy()))

    flagged = candidates.withColumn("_maybe_seen", _maybe_seen("url_hash"))
    clean = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    suspect = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    repaired = anti_join_seen(suspect, seen)
    return clean.unionByName(repaired)
