"""Partitioned Bloom filter for the URL-seen set (north_rule requirement).

Design for 10^10-URL scale: the seen-set is authoritative as a hash-bucketed
table (anti-join), but probing it for every discovered link would shuffle the
full candidate stream every round.  Instead we maintain a sharded Bloom
filter built *per partition* on executors and OR-merged on the driver — only
fixed-size bitmaps cross the driver, never URL sets.  Each round:

  1. candidates are probed against the broadcast Bloom (vectorized numpy UDF);
  2. "definitely new" rows (no false negatives possible) skip the anti-join;
  3. "maybe seen" rows — a small slice: true dupes + false positives — go
     through the authoritative ``left_anti`` join against the seen table;
  4. newly admitted hashes are folded into the filter for the next round.

Sizing at 10^10 URLs: 64 shards x 2^27 bits is 1 GiB of bitmap on the
driver, but it holds 1.56e8 URLs per 1.34e8-bit shard, and with k=4 probes
fpp = (1 - exp(-4 x 1.56e8 / 1.34e8))^4 ≈ 0.96 — nearly every new URL reads
as maybe-seen and still goes through the anti-join, so the filter saves
almost nothing there.  An fpp of 1% at k=4 needs about 10.5 bits per URL,
13 GB of bitmap at 10^10 URLs, past the 8 GB broadcast ceiling.  Shard
count and bits are configurable; sandbox defaults are small.

Reference analog: the Redis SET dupefilter probe before enqueue
(search_gov_crawler/search_gov_spiders/job_state/dupefilter.py:8-25).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — derives the second hash for double hashing."""
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & _MASK64
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & _MASK64
    return h ^ (h >> np.uint64(31))


class PartitionedBloom:
    """Sharded Bloom filter over signed-64 url hashes."""

    def __init__(self, n_shards: int = 16, bits_per_shard: int = 1 << 20, k: int = 4):
        assert bits_per_shard % 8 == 0
        self.n_shards = n_shards
        self.bits = bits_per_shard
        self.k = k
        self.shards = np.zeros((n_shards, bits_per_shard // 8), dtype=np.uint8)

    # -- vectorized core -------------------------------------------------------
    def _positions(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(shard_idx[n], bit_positions[n, k]) for unsigned-viewed hashes."""
        uh = hashes.astype(np.int64).view(np.uint64)
        shard = (uh % np.uint64(self.n_shards)).astype(np.int64)
        h1 = uh
        h2 = _mix(uh) | np.uint64(1)
        probes = np.empty((len(uh), self.k), dtype=np.uint64)
        for i in range(self.k):
            probes[:, i] = (h1 + np.uint64(i) * h2) & _MASK64
        return shard, (probes % np.uint64(self.bits)).astype(np.int64)

    def add_array(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        shard, pos = self._positions(hashes)
        byte_idx = pos >> 3
        bit_mask = np.left_shift(1, (pos & 7)).astype(np.uint8)
        for i in range(self.k):
            np.bitwise_or.at(self.shards, (shard, byte_idx[:, i]), bit_mask[:, i])

    def contains_array(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        shard, pos = self._positions(hashes)
        byte_idx = pos >> 3
        bit_mask = np.left_shift(1, (pos & 7)).astype(np.uint8)
        result = np.ones(len(hashes), dtype=bool)
        for i in range(self.k):
            result &= (self.shards[shard, byte_idx[:, i]] & bit_mask[:, i]) != 0
        return result

    def merge_shard_bytes(self, shard_id: int, data: bytes) -> None:
        self.shards[shard_id] |= np.frombuffer(data, dtype=np.uint8)

    def merge_shard_positions(self, shard_id: int, positions: np.ndarray) -> None:
        """OR in set-bit positions (the sparse payload of a hybrid fold)."""
        if len(positions) == 0:
            return
        byte_idx = positions >> 3
        bit_mask = np.left_shift(1, (positions & 7)).astype(np.uint8)
        np.bitwise_or.at(self.shards[shard_id], byte_idx, bit_mask)

    def nbytes(self) -> int:
        return int(self.shards.nbytes)


_HYBRID_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("sparse", T.BooleanType()),
        T.StructField("payload", T.BinaryType()),
    ]
)
# sparse payload = little-endian uint32 set-bit positions (4 bytes each)
_SPARSE_POS_BYTES = 4


def _hybrid_fold(n_shards: int, bits_per_shard: int, k: int):
    """mapInPandas fold: per touched shard, emit set-bit POSITIONS when that
    is smaller than the dense bitmap, else the dense bitmap.

    An incremental merge (one crawl round's admits) sets ``n*k`` bits in a
    multi-megabit filter, so tasks emit kilobytes instead of
    ``touched_shards x bits/8`` — the dense emission collected
    ``tasks x shards x shard_bytes`` to the driver (~1 GiB at 64 tasks x 32
    x 512 KiB shards), which both dominated small-crawl round wall and
    would be fatal at 1000-executor scale."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = PartitionedBloom(n_shards, bits_per_shard, k)
        touched = np.zeros(n_shards, dtype=bool)
        for pdf in batches:
            hashes = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
            if len(hashes) == 0:
                continue
            shard, _ = local._positions(hashes)
            touched[np.unique(shard)] = True
            local.add_array(hashes)
        dense_bytes = bits_per_shard // 8
        rows = []
        for s in np.nonzero(touched)[0]:
            # bit i of byte b is set as 1 << (pos & 7), i.e. LSB-first —
            # unpackbits(bitorder="little") index == global bit position
            pos = np.nonzero(np.unpackbits(local.shards[s], bitorder="little"))[0]
            if len(pos) * _SPARSE_POS_BYTES < dense_bytes:
                rows.append((int(s), True, pos.astype("<u4").tobytes()))
            else:
                rows.append((int(s), False, local.shards[s].tobytes()))
        yield pd.DataFrame(rows, columns=["shard", "sparse", "payload"])

    return fold


def merge_bitmaps_into(
    bloom: PartitionedBloom,
    df: DataFrame,
    hash_col: str,
    rows_hint: int | None = None,
) -> None:
    """Fold ``df[hash_col]`` into ``bloom`` executor-side; only compact
    shard payloads reach the driver.

    Two topologies, chosen by expected collect volume:

    - **direct** (default): every task emits its touched shards'
      sparse-or-dense payloads straight to the driver.  Collect volume is
      O(min(set bits x 4 B, tasks x shards x shard_bytes)) — right for
      per-round incremental merges and small full builds.
    - **partitioned** (``rows_hint`` large): one extra shuffle routes hashes
      to their owning shard's partition first, so each shard's dense bitmap
      is built exactly once and the collect is exactly
      ``n_shards x shard_bytes`` regardless of cluster size.  At the
      10^10-row design point the shuffle is distributed across the cluster
      while a direct dense collect (executors x 16 MiB) would converge on
      the single driver.
    """
    n_shards, bits, k = bloom.n_shards, bloom.bits, bloom.k
    hashes = df.select(F.col(hash_col))
    dense_bytes = bits // 8
    partitioned = (
        rows_hint is not None and rows_hint * k * _SPARSE_POS_BYTES > 4 * n_shards * dense_bytes
    )
    if partitioned:

        @F.pandas_udf(T.IntegerType())
        def shard_of(h: pd.Series) -> pd.Series:
            u = h.to_numpy(dtype=np.int64).view(np.uint64)
            return pd.Series((u % np.uint64(n_shards)).astype(np.int32))

        hashes = (
            hashes.withColumn("_shard", shard_of(F.col(hash_col)))
            .repartition(n_shards, F.col("_shard"))
            .select(hash_col)
        )
    rows = hashes.mapInPandas(_hybrid_fold(n_shards, bits, k), schema=_HYBRID_SCHEMA).collect()
    for r in rows:
        if r["sparse"]:
            bloom.merge_shard_positions(
                r["shard"], np.frombuffer(r["payload"], dtype="<u4").astype(np.int64)
            )
        else:
            bloom.merge_shard_bytes(r["shard"], r["payload"])


def bloom_from_df(
    df: DataFrame | None,
    hash_col: str = "url_hash",
    n_shards: int = 16,
    bits_per_shard: int = 1 << 20,
    k: int = 4,
) -> PartitionedBloom:
    bloom = PartitionedBloom(n_shards, bits_per_shard, k)
    if df is not None:
        merge_bitmaps_into(bloom, df, hash_col)
    return bloom


def with_bloom_probe(
    spark: SparkSession, df: DataFrame, bloom: PartitionedBloom, hash_col: str, out_col: str = "maybe_seen"
) -> DataFrame:
    """Append a boolean ``maybe_seen`` column via a broadcast Bloom probe."""
    bc = spark.sparkContext.broadcast(
        {"shards": bloom.shards, "n": bloom.n_shards, "bits": bloom.bits, "k": bloom.k}
    )

    @F.pandas_udf(T.BooleanType())
    def probe(hashes: pd.Series) -> pd.Series:
        state = bc.value
        local = PartitionedBloom(state["n"], state["bits"], state["k"])
        local.shards = state["shards"]
        return pd.Series(local.contains_array(hashes.to_numpy(dtype=np.int64)))

    return df.withColumn(out_col, probe(F.col(hash_col)))
