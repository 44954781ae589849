"""Partitioned cuckoo filter — the URL-seen filter's second form.

The shared contract (bucketing, build, update, both probes, the size
hint) lives in :mod:`crawler_spark.operators.seenfilter`;
:mod:`crawler_spark.operators.bloom` is the default form. This module
is the cuckoo form (Fan, Andersen, Kaminsky, Mitzenmacher, "Cuckoo
Filter: Practically Better Than Bloom", CoNEXT 2014 — public knowledge),
with the one capability Bloom fundamentally lacks: **deletion**. A crawl
frontier retracts seen-keys in real life — a fetch that permanently
fails after max retries, a recrawl invalidation, a politeness-blocked
host whose URLs must become eligible again — and with a Bloom the only
options are rebuild-from-exact or tombstone tables. A cuckoo filter
removes one fingerprint occurrence in O(1). Deletes can never
resurrect a URL: a deleted key probes False only if its fingerprint
occurrence is removed, and a colliding survivor just means one extra
maybe that the exact confirm resolves.

Layout: ``nb`` (power of two) cuckoo buckets × 4 slots of 16-bit
fingerprints stored as ``array<int>`` (0 = empty). Partial-key cuckoo
hashing: ``i1 = pmod(h1, nb)``, ``i2 = i1 XOR scramble(fp) mod nb`` —
nb being a power of two makes the XOR self-inverse, so ``i2``'s
alternate is ``i1`` without knowing which came first. ``scramble`` is a
single Murmur-style multiply kept inside int64 (fp < 2^16, constant
< 2^31 ⇒ product < 2^47 — ANSI-safe, bit-identical in numpy and JVM
long arithmetic). The JVM probe tests the 8 candidate slots (2 cuckoo
buckets × 4 slots) with codegen ``element_at`` comparisons.

Cost per key is 19–38 bytes at the update headroom of 4 (the range is
the power-of-two rounding of nb) vs the Bloom's 5 — bought back by a
~2^-13 FP rate (vs ~1% for the Bloom at 10 bits/key): at 10^10 seen
keys the maybe-set entering the exact confirm join shrinks by ~100×,
which is the join you pay for every round's candidates.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT, EngineConfig
from crawler_spark.operators.seenfilter import SeenFilter

SLOTS_PER_BUCKET = 4
FP_MASK = 65535  # 16-bit fingerprints, 0 reserved for empty
FP_SCRAMBLE = 0x5BD1E995  # MurmurHash2 multiply constant (< 2^31)
LOAD_TARGET_PPM = 840_000  # size for ≤0.84 load; b=4 tables pack to ~0.95
MAX_KICKS = 500


def _fp(h2: np.ndarray) -> np.ndarray:
    """h2 → fingerprint in [1, 65535] (0 means empty slot)."""
    return (h2 % FP_MASK + FP_MASK) % FP_MASK + 1


def _i1(h1: np.ndarray, nb: int) -> np.ndarray:
    return (h1 % nb + nb) % nb  # == Spark pmod for positive nb


def _alt(i: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    """Partial-key alternate index; self-inverse because nb is 2^k."""
    return i ^ ((fp * FP_SCRAMBLE) & (nb - 1))


def _nb_for(n: int, headroom: int) -> int:
    """Cuckoo-bucket count: smallest power of two giving ≤ LOAD_TARGET
    occupancy for ``headroom × n`` keys."""
    need = max(16, -(-n * headroom * 1_000_000 // (SLOTS_PER_BUCKET * LOAD_TARGET_PPM)))
    nb = 1
    while nb < need:
        nb *= 2
    return nb


def _bulk_place(slots: np.ndarray, occ: np.ndarray, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """Vectorized greedy placement of (idx, fp) pairs into free slots,
    ≤4 per cuckoo bucket. Returns the boolean mask of keys NOT placed.
    One sort by idx; within-group rank r places at slot occ[idx]+r."""
    if len(idx) == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(idx, kind="stable")
    si = idx[order]
    # rank of each row within its idx run
    first = np.ones(len(si), dtype=bool)
    first[1:] = si[1:] != si[:-1]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(len(si)), 0))
    rank = np.arange(len(si)) - grp_start
    slot = occ[si] + rank
    ok = slot < SLOTS_PER_BUCKET
    slots[si[ok] * SLOTS_PER_BUCKET + slot[ok]] = fp[order][ok]
    np.add.at(occ, si[ok], 1)
    unplaced = np.zeros(len(idx), dtype=bool)
    unplaced[order[~ok]] = True
    return unplaced


def _insert_one(slots: np.ndarray, i: int, fp: int, nb: int) -> bool:
    """Classic bounded-kick insertion (deterministic victim rotation)."""
    for idx in (i, int(_alt(np.int64(i), np.int64(fp), nb))):
        base = idx * SLOTS_PER_BUCKET
        for s in range(SLOTS_PER_BUCKET):
            if slots[base + s] == 0:
                slots[base + s] = fp
                return True
    idx = i
    for kick in range(MAX_KICKS):
        s = kick % SLOTS_PER_BUCKET
        base = idx * SLOTS_PER_BUCKET
        fp, slots[base + s] = int(slots[base + s]), fp
        idx = int(_alt(np.int64(idx), np.int64(fp), nb))
        base = idx * SLOTS_PER_BUCKET
        for s2 in range(SLOTS_PER_BUCKET):
            if slots[base + s2] == 0:
                slots[base + s2] = fp
                return True
    return False


def _build_table(h1: np.ndarray, h2: np.ndarray, nb: int) -> np.ndarray | None:
    """Build one bucket's slot table. Two vectorized passes (primary
    index, then alternate) place the overwhelming majority at ≤0.84
    load; the residue runs the bounded eviction loop. None on overflow
    (→ all-maybe, caller rebuilds bigger, same as Bloom NULL-bits)."""
    slots = np.zeros(nb * SLOTS_PER_BUCKET, dtype=np.int32)
    occ = np.zeros(nb, dtype=np.int64)
    fp = _fp(h2.astype(np.int64))
    i1 = _i1(h1.astype(np.int64), nb)
    rest = _bulk_place(slots, occ, i1, fp)
    if rest.any():
        i2 = _alt(i1[rest], fp[rest], nb)
        rest2 = _bulk_place(slots, occ, i2, fp[rest])
        ri = np.flatnonzero(rest)[rest2]
        for j in ri:
            if not _insert_one(slots, int(i1[j]), int(fp[j]), nb):
                return None
    return slots


def _remove(slots: np.ndarray, h1: np.ndarray, h2: np.ndarray, nb: int) -> int:
    """Clear ONE fingerprint occurrence per key in place; returns how many
    were found. Deletes are small per-round deltas (retracted fetches), so
    the per-key scan of ≤8 slots runs as a plain loop."""
    fp = _fp(h2.astype(np.int64))
    i1 = _i1(h1.astype(np.int64), nb)
    i2 = _alt(i1, fp, nb)
    removed = 0
    for j in range(len(fp)):
        f = np.int32(fp[j])
        for idx in (int(i1[j]), int(i2[j])):
            base = idx * SLOTS_PER_BUCKET
            hit = np.flatnonzero(slots[base:base + SLOTS_PER_BUCKET] == f)
            if len(hit):
                slots[base + hit[0]] = 0
                removed += 1
                break
    return removed


class CuckooFilter(SeenFilter):
    table = "cuckoo"
    size_col = "nb"
    blob = "slots"
    schema = "bucket int, nb long, n long, slots array<int>"
    # slots-scheme version, stamped with the blobs (same contract as
    # BLOOM_HASH_VERSION): v1 = the (h1, h2)-seeded 16-bit partial-key
    # scheme above; a different stamp must rebuild from the exact table
    hash_version = 1
    size_key = "total_slot_bytes"

    def size_for(self, n, headroom, cfg):
        return _nb_for(n, headroom)

    def bytes_per_key(self, cfg, headroom=4):
        # 4-byte slots at ≤ LOAD_TARGET occupancy, and nb rounds up to a
        # power of two: up to 2× the slots the keys need
        return 2 * headroom * 4 * 1_000_000 / LOAD_TARGET_PPM

    def new_blob(self, h1, h2, size, cfg):
        return _build_table(h1, h2, size)

    def insert(self, blob, size, n, h1, h2, cfg):
        if n > size * SLOTS_PER_BUCKET * LOAD_TARGET_PPM // 1_000_000:
            return None
        slots = np.asarray(blob, dtype=np.int32).copy()
        fp = _fp(h2.astype(np.int64))
        i1 = _i1(h1.astype(np.int64), size)
        for j in range(len(fp)):
            if not _insert_one(slots, int(i1[j]), int(fp[j]), size):
                return None
        return slots

    def contains(self, size, blob, h1, h2, cfg):
        return contains_numpy(size, blob, h1, h2)

    def contains_expr(self, size: Column, blob: Column, h1: Column, h2: Column, cfg) -> Column:
        fp = (F.pmod(h2, F.lit(FP_MASK)) + F.lit(1)).cast("int")
        i1 = F.pmod(h1, size)
        # fp·M < 2^47 — in-range ANSI long arithmetic; nb is 2^k so pmod ≡ mask
        i2 = i1.bitwiseXOR(F.pmod(fp.cast("long") * F.lit(FP_SCRAMBLE), size))
        hit = None
        for idx in (i1, i2):
            for s in range(SLOTS_PER_BUCKET):
                slot = F.element_at(
                    blob, (idx * F.lit(SLOTS_PER_BUCKET) + F.lit(s)).cast("int") + 1
                )
                eq = slot == fp
                hit = eq if hit is None else (hit | eq)
        return hit

    def size_expr(self) -> Column:
        return F.sum(F.coalesce(F.size("slots"), F.lit(0))) * 4

    def delete(
        self,
        filters: DataFrame,
        del_keys: DataFrame,
        key_col: str = "surt",
        cfg: EngineConfig = DEFAULT,
        seen: DataFrame | None = None,
    ) -> DataFrame:
        """Remove ONE fingerprint occurrence per deleted key — the operation
        the Bloom form cannot do; ``seen`` is not needed. Contract (standard
        cuckoo-filter caveat): only delete keys that were actually inserted;
        deleting a never-inserted key that fingerprint-collides with a live
        one would evict the live key's occurrence (here it just becomes a
        maybe→exact-miss, never a correctness break, because membership
        truth lives in the exact seen table). Deletes for an unknown bucket
        are a no-op; a NULL-slots bucket only lowers its count."""

        def touch(nb, n, slots, h1, h2):
            if slots is None:
                return nb, max(0, n - len(h1)), None
            slots = np.asarray(slots, dtype=np.int32).copy()
            return nb, n - _remove(slots, h1, h2, nb), slots

        return self._fold(filters, del_keys, key_col, cfg, None, touch)


def contains_numpy(nb: int, slots, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """numpy membership (the cogrouped probe, and the reference the JVM
    probe is tested against): same arithmetic as the JVM probe."""
    s = np.asarray(slots, dtype=np.int32)
    fp = _fp(h2.astype(np.int64))
    i1 = _i1(h1.astype(np.int64), nb)
    i2 = _alt(i1, fp, nb)
    out = np.zeros(len(fp), dtype=bool)
    for idx in (i1, i2):
        for k in range(SLOTS_PER_BUCKET):
            out |= s[idx * SLOTS_PER_BUCKET + k] == fp.astype(np.int32)
    return out


CUCKOO = CuckooFilter()
build_cuckoo = CUCKOO.build
update_cuckoo = CUCKOO.update
delete_cuckoo = CUCKOO.delete
probe_cuckoo_broadcast = CUCKOO.probe_broadcast
