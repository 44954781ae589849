"""Partitioned Bloom filter — the URL-seen filter's default form.

The shared contract (bucketing, build, update, both probes, the size
hint) lives in :mod:`crawler_spark.operators.seenfilter`. This module is
what differs for the Bloom form: m = bits_per_key × headroom × n bits
per bucket, k bit positions per key by double hashing
``h_i = h1 + i·h2 (mod m)`` (Kirsch–Mitzenmacher), and no deletion —
retiring keys rebuilds the touched buckets from the exact seen rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT, EngineConfig
from crawler_spark.operators.seenfilter import SeenFilter, _hash_cols

BLOOM_SCHEMA = "bucket int, m long, n long, bits array<long>"

# Bloom blob scheme version. v2 = mod-reduced int64 double hashing
# (_positions below) over a binary blob; v3 keeps the same bit positions
# but stores the filter as little-endian int64 WORDS (array<long>) so the
# JVM probe is pure long arithmetic — the v2 probe extracted each byte
# via substring→hex→conv, 2 string allocations per hash per row, which
# made the probe allocation-bound and capped its multi-core scaling.
# Little-endian byte order makes the in-word bit index exactly pos % 64.
# Blobs from a different version would probe wrongly (v1: different
# positions → false NEGATIVES; v2: different container), silently
# breaking url_seen exactness. Persisted stores stamp this in the blooms
# table meta; a resume that finds a different (or missing) stamp must
# rebuild blooms from the exact seen table before probing.
BLOOM_HASH_VERSION = 3


def _words_to_bytes(cell) -> np.ndarray:
    """array<long> cell (arrow list / numpy) → uint8 view, little-endian."""
    return np.ascontiguousarray(np.asarray(cell, dtype="<i8")).view(np.uint8)


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) bit positions via double hashing: ``(h1 + i·h2) mod m``
    computed overflow-free by reducing mod m BEFORE the multiply
    (pmod(h1,m) + i·pmod(h2,m) stays < k·m ≪ 2^63). Bit-identical to the
    JVM expression in :meth:`BloomFilter.contains_expr` — ANSI mode
    forbids wrapping arithmetic there, so both sides use the reduced form;
    any divergence would produce false NEGATIVES on probe."""
    mm = np.int64(m)
    h1m = (h1.astype(np.int64) % mm + mm) % mm
    h2m = (h2.astype(np.int64) % mm + mm) % mm
    i = np.arange(k, dtype=np.int64)[None, :]
    return (h1m[:, None] + i * h2m[:, None]) % mm


def _set_bits(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    pos = _positions(h1, h2, k, m).ravel()
    np.bitwise_or.at(bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))
    return bits.view("<i8")


class BloomFilter(SeenFilter):
    table = "blooms"
    size_col = "m"
    blob = "bits"
    schema = BLOOM_SCHEMA
    hash_version = BLOOM_HASH_VERSION
    size_key = "total_bits"

    def size_for(self, n, headroom, cfg):
        m = max(256, cfg.bloom_bits_per_key * headroom * n)
        return (m + 63) // 64 * 64  # whole int64 words

    def bytes_per_key(self, cfg, headroom=4):
        return cfg.bloom_bits_per_key * headroom / 8

    def new_blob(self, h1, h2, size, cfg):
        return _set_bits(np.zeros(size // 8, dtype=np.uint8), h1, h2, cfg.bloom_num_hashes, size)

    def insert(self, blob, size, n, h1, h2, cfg):
        if n * cfg.bloom_bits_per_key > size:  # past the target FP rate
            return None
        # positions depend only on (h1, h2, m): OR them into a copy
        return _set_bits(_words_to_bytes(blob).copy(), h1, h2, cfg.bloom_num_hashes, size)

    def contains(self, size, blob, h1, h2, cfg):
        bits = _words_to_bytes(blob)
        pos = _positions(h1, h2, cfg.bloom_num_hashes, size)
        mask = (1 << (pos & 7)).astype(np.uint8)
        return ((bits[(pos >> 3).astype(np.int64)] & mask) == mask).all(axis=1)

    def contains_expr(self, size: Column, blob: Column, h1: Column, h2: Column, cfg) -> Column:
        # pmod of wrapped int64, bit-identical to _positions; every
        # operation is long arithmetic, so no allocation per row, and the
        # little-endian word layout makes the in-word bit index pos % 64
        one = F.lit(1).cast("long")
        h1m, h2m = F.pmod(h1, size), F.pmod(h2, size)  # overflow-free (ANSI-safe)
        allset = None
        for i in range(cfg.bloom_num_hashes):
            pos = F.pmod(h1m + F.lit(i) * h2m, size)
            word = F.element_at(blob, (pos / F.lit(64)).cast("int") + 1)
            mask = F.call_function("shiftleft", one, F.pmod(pos, F.lit(64)).cast("int"))
            bit = word.bitwiseAND(mask) != 0
            allset = bit if allset is None else (allset & bit)
        return allset

    def size_expr(self) -> Column:
        return F.sum("m")

    def hint_bytes(self, hint):
        return hint // 8

    def delete(
        self,
        filters: DataFrame,
        del_keys: DataFrame,
        key_col: str = "surt",
        cfg: EngineConfig = DEFAULT,
        seen: DataFrame | None = None,
    ) -> DataFrame:
        """Bits cannot be unset: the buckets the deleted keys hash to are
        rebuilt from ``seen``, the exact seen rows left after the delete —
        O(bucket rows), not O(delta)."""
        if seen is None:
            raise ValueError("a Bloom delete rebuilds from the exact seen rows: pass seen=")
        hashed = _hash_cols(del_keys.select(key_col), key_col, cfg.num_host_buckets)
        buckets = [r[0] for r in hashed.select("_bucket").distinct().collect()]
        return self.rebuild(filters, seen, buckets, key_col, cfg)


BLOOM = BloomFilter()
build_blooms = BLOOM.build
update_blooms = BLOOM.update
probe_blooms_broadcast = BLOOM.probe_broadcast
