"""Broadcast Bloom URL-seen filter (north_rule: "broadcast bloom/cuckoo
URL-seen filter").

The reference's seen-set is a Postgres point lookup per submitted URL
(backend/app/api/api_v1/endpoints/tasks.py:148-156: ``Submission.url == url``
-> return cached submission id). Seed ingest (``scheduler.add_seeds``)
screens each batch with this filter and confirms only the positives
exactly:

    1. build one Bloom bitmap over the seen set (distributed: per-partition
       numpy bitmaps via mapInPandas, OR-reduced on the driver),
    2. broadcast it; probe each candidate with a vectorized pandas UDF over
       JVM-computed xxhash64 pairs (no per-row Python, no string transfer —
       only two int64 columns cross the Arrow boundary),
    3. candidates the bloom rejects are *definitely unseen* (Bloom filters
       have no false negatives) and skip the exact check; only the
       bloom-positive subset (true dups + ~fpp false positives) is confirmed
       against the pool.

The bitmap is the only broadcast state: ~9.6 bits/key at 1% fpp (1.2 MB per
10^6 seen URLs).

Hash discipline: double hashing g_i = h1 + i*h2 (mod m) over two independent
xxhash64 values computed JVM-side (Kirsch-Mitzenmacher — k probes from 2
hashes keeps the asymptotic fpp). All modular arithmetic is uint64 wraparound
in numpy, bit-for-bit identical between build and probe.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, BooleanType, StructField, StructType

_H2_SALT = "vv8-bloom-h2"  # second independent hash: xxhash64(key, salt)


def _hash_cols(col: str) -> list:
    return [
        F.xxhash64(F.col(col)).alias("_bh1"),
        F.xxhash64(F.col(col), F.lit(_H2_SALT)).alias("_bh2"),
    ]


def _to_u64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64, na_value=0).astype(np.uint64)


class BloomFilter:
    """Immutable bitmap + params. ``bits`` is a uint8 array of n_bits/8."""

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray):
        assert n_bits % 64 == 0 and bits.dtype == np.uint8 and len(bits) == n_bits // 8
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = bits

    @classmethod
    def params_for(cls, capacity: int, fpp: float = 0.01) -> tuple[int, int]:
        capacity = max(capacity, 1)
        m = int(-capacity * math.log(fpp) / (math.log(2) ** 2))
        m = ((m + 63) // 64) * 64  # round up to whole words
        k = max(1, round(m / capacity * math.log(2)))
        return m, k

    def _positions(self, h1: np.ndarray, h2: np.ndarray, i: int) -> np.ndarray:
        return (h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        for i in range(self.n_hashes):
            pos = self._positions(h1, h2, i)
            idx = (pos >> np.uint64(3)).astype(np.int64)
            val = (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8)
            np.bitwise_or.at(self.bits, idx, val)

    def maybe_contains(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Vectorized probe: False -> definitely unseen; True -> probably seen."""
        out = np.ones(len(h1), dtype=bool)
        for i in range(self.n_hashes):
            pos = self._positions(h1, h2, i)
            idx = (pos >> np.uint64(3)).astype(np.int64)
            sh = (pos & np.uint64(7)).astype(np.uint8)
            out &= ((self.bits[idx] >> sh) & np.uint8(1)).astype(bool)
        return out


def _build_bitmap(df: DataFrame, col: str, n_bits: int, n_hashes: int) -> np.ndarray:
    """One distributed pass over ``df`` -> one bitmap with EXPLICIT params
    (no count, no sizing): each partition sets bits into its own bitmap
    (mapInPandas, one binary row per partition), the driver ORs them. Cost
    is O(len(df)) + P × (n_bits/8) bytes of driver traffic — this is both
    the full build and the incremental delta (same params ⇒ the delta bitmap
    ORs into an existing one losslessly)."""
    hashed = df.select(*_hash_cols(col))
    out_schema = StructType([StructField("bits", BinaryType())])

    def per_partition(batches):
        part = BloomFilter(n_bits, n_hashes, np.zeros(n_bits // 8, dtype=np.uint8))
        touched = False
        for b in batches:
            if len(b):
                part.add_hashes(_to_u64(b["_bh1"]), _to_u64(b["_bh2"]))
                touched = True
        if touched:
            yield pd.DataFrame({"bits": [part.bits.tobytes()]})

    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    for row in hashed.mapInPandas(per_partition, out_schema).collect():
        bits |= np.frombuffer(row["bits"], dtype=np.uint8)
    return bits


def build_bloom(
    df: DataFrame,
    col: str = "canon_url",
    capacity: int | None = None,
    fpp: float = 0.01,
) -> BloomFilter:
    """Size from ``capacity`` (or count ``df``) and build in one pass."""
    if capacity is None:
        capacity = df.count()
    n_bits, n_hashes = BloomFilter.params_for(capacity, fpp)
    return BloomFilter(n_bits, n_hashes, _build_bitmap(df, col, n_bits, n_hashes))


def bloom_or_delta(bloom: BloomFilter, df: DataFrame, col: str = "canon_url") -> BloomFilter:
    """Incremental maintenance: OR a delta build of ``df`` (same params) into
    ``bloom``. O(len(df)), never O(seen-set). Returns a new filter (inputs
    immutable)."""
    delta = _build_bitmap(df, col, bloom.n_bits, bloom.n_hashes)
    return BloomFilter(bloom.n_bits, bloom.n_hashes, bloom.bits | delta)


# -- catalog (de)serialization: one row, ``shard`` always 0 -------------------


def bloom_to_rows(bloom: BloomFilter, capacity: int, n_added: int) -> list[tuple]:
    return [(0, bloom.n_bits, bloom.n_hashes, capacity, n_added, bloom.bits.tobytes())]


def bloom_from_rows(rows) -> tuple[BloomFilter, int, int]:
    """Inverse of ``bloom_to_rows``: exactly one row, or ValueError."""
    if len(rows) != 1:
        raise ValueError(f"bloom state must be one row, got {len(rows)}")
    (r,) = rows
    bloom = BloomFilter(
        int(r["n_bits"]),
        int(r["n_hashes"]),
        np.frombuffer(bytes(r["bits"]), dtype=np.uint8).copy(),
    )
    return bloom, int(r["capacity"]), int(r["n_added"])


def with_bloom_maybe(
    df: DataFrame,
    bloom: BloomFilter,
    col: str = "canon_url",
    out: str = "maybe_seen",
) -> DataFrame:
    """Add a boolean ``out`` column: bloom verdict for ``col``. The UDF sees
    only the two int64 hash columns (JVM-computed), so the Arrow transfer is
    16 bytes/row regardless of URL length."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bloom)

    @F.pandas_udf(BooleanType())
    def probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        return pd.Series(bc.value.maybe_contains(_to_u64(h1), _to_u64(h2)))

    return df.withColumn(out, probe(*_hash_cols(col)))
