"""The URL-seen filter contract, shared by its Bloom and cuckoo forms.

The reference's URL-seen is an in-memory ``set`` (O(1) membership,
reference src/crawler.py:54-55,181-186) — fine for one process,
impossible at a 10^10-URL frontier. The replacement:

- ``url_seen`` rows live in a table hash-partitioned by
  ``bucket = pmod(xxhash64(surt), B)`` (the Iceberg ``bucket(B, surt)``
  transform, :func:`bucket_of`);
- each bucket carries one serialized filter blob, persisted via
  SnapshotStore and rebuildable from the exact table;
- probe ``False`` ⇒ definitely new, probe ``True`` ⇒ maybe seen, confirmed
  by an exact ``left_anti`` join against only the probe-positive buckets.
  A false positive costs one confirm row and can never drop a URL; the
  exact table is the membership truth.

This module holds everything that does not depend on the filter form:
hashing and bucketing, the per-bucket build, the cogrouped update (fresh
bucket built with headroom, untouched bucket passed through, bucket over
capacity emitted with a NULL blob), the JVM broadcast probe and the
cogrouped probe (unknown bucket ⇒ False, NULL blob ⇒ True), the rebuild
of chosen buckets from the exact rows, the size hint and the choice
between the two probes, and the filter table's upkeep: the stamped
write that rebuilds overflowed buckets (:meth:`SeenFilter.write`) and
the stamp check (:meth:`SeenFilter.refresh`), shared by the frontier
and the streaming sink. A form (:mod:`crawler_spark.operators.bloom`,
:mod:`crawler_spark.operators.cuckoo`) supplies only its sizing, its
numpy build/insert/contains kernels, the JVM ``contains`` expression,
its delete, and its table name, blob column, scheme stamp and size-hint
meta key.

Hashing: two independent 64-bit hashes computed JVM-side
(``xxhash64(key, seed)``); the kernels only do vectorized numpy
arithmetic on them, bit-identical to the JVM probe expressions.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT, EngineConfig
from crawler_spark.sources.tables import SnapshotStore


def _hash_cols(df: DataFrame, key_col: str, num_buckets: int) -> DataFrame:
    return df.withColumns(
        {
            "_bucket": F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int"),
            "_h1": F.xxhash64(F.col(key_col), F.lit(1)),
            "_h2": F.xxhash64(F.col(key_col), F.lit(2)),
        }
    )


def bucket_of(key_col: str, cfg: EngineConfig = DEFAULT):
    """The bucket expression (JVM-side) — the Iceberg ``bucket(B, key)``
    transform analog; url_seen rows carry it so the exact confirm join can
    prune to probe-positive buckets only."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(cfg.num_host_buckets)).cast("int")


def _probe_output(probed: DataFrame, cand_cols: list[str], out_col: str, bucket_out: str | None):
    """The candidate columns plus the verdict, and the bucket id under
    ``bucket_out`` when asked for."""
    keep = [*cand_cols, out_col]
    if bucket_out:
        probed = probed.withColumnRenamed("_bucket", bucket_out)
        keep.append(bucket_out)
    return probed.select(*keep)


class SeenFilter:
    """One form of the partitioned URL-seen filter. Subclasses set the
    on-disk names and implement the form's kernels; every Spark plan is
    built here, so both forms run the same build, update and probe."""

    table: str  # snapshot table holding the blobs
    size_col: str  # per-bucket capacity column (Bloom bits / cuckoo buckets)
    blob: str  # blob column; NULL = overflowed, probes all-maybe
    schema: str
    hash_version: int  # scheme stamp: a different one must rebuild
    size_key: str  # meta key of the size hint

    # ---------------------------------------------------------- kernels --
    def size_for(self, n: int, headroom: int, cfg: EngineConfig) -> int:
        """Capacity for ``n`` keys with ``headroom``× room to grow."""
        raise NotImplementedError

    def bytes_per_key(self, cfg: EngineConfig, headroom: int = 4) -> float:
        """Upper bound on blob bytes per key at ``headroom``."""
        raise NotImplementedError

    def new_blob(self, h1: np.ndarray, h2: np.ndarray, size: int, cfg: EngineConfig):
        """Blob holding the keys (h1, h2); None if they do not fit."""
        raise NotImplementedError

    def insert(self, blob, size: int, n: int, h1: np.ndarray, h2: np.ndarray, cfg: EngineConfig):
        """A copy of ``blob`` with the keys added, ``n`` keys in total
        after the insert; None when that is past the form's capacity."""
        raise NotImplementedError

    def contains(self, size: int, blob, h1: np.ndarray, h2: np.ndarray, cfg: EngineConfig):
        """numpy membership; the reference the JVM expression must equal."""
        raise NotImplementedError

    def contains_expr(
        self, size: Column, blob: Column, h1: Column, h2: Column, cfg: EngineConfig
    ) -> Column:
        """JVM membership over a non-NULL blob, same arithmetic as
        :meth:`contains`."""
        raise NotImplementedError

    def size_expr(self) -> Column:
        """Aggregate giving the size hint stored under ``size_key``."""
        raise NotImplementedError

    def hint_bytes(self, hint: int) -> int:
        """The size hint in bytes."""
        return hint

    def delete(
        self,
        filters: DataFrame,
        del_keys: DataFrame,
        key_col: str = "surt",
        cfg: EngineConfig = DEFAULT,
        seen: DataFrame | None = None,
    ) -> DataFrame:
        """Filters with ``del_keys`` retired. ``seen`` is the exact seen
        table after the delete, for a form that must rebuild."""
        raise NotImplementedError

    # ----------------------------------------------------------- sizing --
    def required_buckets(
        self, total_keys: int, cfg: EngineConfig = DEFAULT, headroom: int = 4
    ) -> int:
        """Smallest power-of-two multiple of cfg.num_host_buckets that keeps
        the per-bucket blob under cfg.bloom_max_blob_bytes at
        ``total_keys`` (with the incremental-update headroom factor). The
        frontier rebuckets seen + filters when this outgrows the current
        count — growth is geometric, so rebuild cost amortizes like a
        vector resize."""
        per_key = self.bytes_per_key(cfg, headroom)
        b = max(1, cfg.num_host_buckets)
        while total_keys * per_key / b > cfg.bloom_max_blob_bytes:
            b *= 2
        return b

    # ------------------------------------------------------------ plans --
    def _frame(self, bucket: int, size: int, n: int, blob) -> pd.DataFrame:
        return pd.DataFrame(
            {"bucket": [bucket], self.size_col: [size], "n": [n], self.blob: [blob]}
        )

    def _fresh(self, h1: np.ndarray, h2: np.ndarray, headroom: int, cfg: EngineConfig) -> tuple:
        """(size, n, blob) of a new filter over the keys (h1, h2)."""
        size = self.size_for(len(h1), headroom, cfg)
        return size, len(h1), self.new_blob(h1, h2, size, cfg)

    def build(
        self,
        seen: DataFrame,
        key_col: str = "surt",
        cfg: EngineConfig = DEFAULT,
        headroom: int = 1,
    ) -> DataFrame:
        """One filter row per bucket from the exact seen table, sized from
        the bucket's own key count so skewed buckets keep their
        false-positive rate. Pass headroom > 1 when the filter will be
        updated in place (:meth:`update`): keys then fit without a resize
        until the bucket holds headroom× its build-time count."""

        def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            fresh = self._fresh(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), headroom, cfg)
            return self._frame(int(pdf["_bucket"].iat[0]), *fresh)

        hashed = _hash_cols(seen.select(key_col), key_col, cfg.num_host_buckets)
        return hashed.groupBy("_bucket").applyInPandas(per_bucket, self.schema)

    def _fold(
        self,
        filters: DataFrame,
        keys: DataFrame,
        key_col: str,
        cfg: EngineConfig,
        fresh: Callable | None,
        touch: Callable,
    ) -> DataFrame:
        """Cogroup keys with the filter rows by bucket. A bucket with keys
        and no filter row gets ``fresh(h1, h2)`` → (size, n, blob), or no
        row when ``fresh`` is None; a bucket without keys passes through
        unchanged; otherwise ``touch(size, n, blob, h1, h2)`` → (size, n,
        blob)."""
        cols = ["bucket", self.size_col, "n", self.blob]

        def per_bucket(key_pdf: pd.DataFrame, f_pdf: pd.DataFrame) -> pd.DataFrame:
            h1, h2 = key_pdf["_h1"].to_numpy(), key_pdf["_h2"].to_numpy()
            if len(f_pdf) == 0:
                if fresh is None:
                    return f_pdf[cols]
                return self._frame(int(key_pdf["_bucket"].iat[0]), *fresh(h1, h2))
            if len(key_pdf) == 0:
                return f_pdf[cols]
            row = touch(
                int(f_pdf[self.size_col].iat[0]), int(f_pdf["n"].iat[0]),
                f_pdf[self.blob].iat[0], h1, h2,
            )
            return self._frame(int(f_pdf["bucket"].iat[0]), *row)

        hashed = _hash_cols(keys.select(key_col), key_col, cfg.num_host_buckets)
        return (
            hashed.groupBy("_bucket")
            .cogroup(filters.groupBy("bucket"))
            .applyInPandas(per_bucket, self.schema)
        )

    def update(
        self,
        filters: DataFrame,
        new_keys: DataFrame,
        key_col: str = "surt",
        cfg: EngineConfig = DEFAULT,
        headroom: int = 4,
    ) -> DataFrame:
        """Fold a round's key *delta* into the per-bucket filters.

        Cost is O(|delta| + total blob bytes) per round instead of the
        O(|seen|) full rebuild — at a 10^10-row seen table re-hashing every
        key every round is the difference between a filter maintenance
        stage and a second crawl.

        Per bucket: unknown → fresh filter with ``headroom``; untouched →
        passed through; the delta fits → inserted into a copy of the blob;
        past the form's capacity (or an insert that fails) → the row with a
        NULL blob. The caller rebuilds those buckets from the exact seen
        table (:meth:`rebuild`); until then they probe as all-maybe, so
        correctness never depends on the rebuild happening."""

        def touch(size, n, blob, h1, h2):
            n += len(h1)
            return size, n, None if blob is None else self.insert(blob, size, n, h1, h2, cfg)

        fresh = partial(self._fresh, headroom=headroom, cfg=cfg)
        return self._fold(filters, new_keys, key_col, cfg, fresh, touch)

    def rebuild(
        self,
        filters: DataFrame,
        seen: DataFrame,
        buckets: list[int],
        key_col: str = "surt",
        cfg: EngineConfig = DEFAULT,
    ) -> DataFrame:
        """``filters`` with ``buckets`` rebuilt (headroom 4) from the exact
        seen rows. A stored ``bucket`` column on ``seen`` (url_seen's)
        lets the IN-list prune parquet row groups."""
        b = F.col("bucket") if "bucket" in seen.columns else bucket_of(key_col, cfg)
        rebuilt = self.build(seen.where(b.isin(buckets)), key_col, cfg, headroom=4)
        return filters.where(~F.col("bucket").isin(buckets)).unionByName(rebuilt)

    def probe_broadcast(
        self,
        candidates: DataFrame,
        filters: DataFrame,
        key_col: str = "surt",
        cfg: EngineConfig = DEFAULT,
        out_col: str = "_maybe_seen",
        bucket_out: str | None = None,
    ) -> DataFrame:
        """Pure-JVM probe: broadcast-join the per-bucket blobs and test
        membership with codegen column expressions — no shuffle of the
        candidate set, no Python stage, and the blobs cross the wire once
        per executor. The fast path while the whole filter set fits a
        broadcast (cfg.bloom_broadcast_max_bytes); beyond that,
        :meth:`probe_cogroup`.

        bucket_out: when set, the bucket id survives in the output under
        that name (the confirm join uses it to prune the seen side)."""
        hashed = _hash_cols(candidates, key_col, cfg.num_host_buckets)
        b = F.broadcast(
            filters.select(
                F.col("bucket").alias("_fb"), F.col(self.size_col).alias("_fsize"),
                F.col(self.blob).alias("_fblob"),
            )
        )
        j = hashed.join(b, F.col("_bucket") == F.col("_fb"), "left")
        hit = self.contains_expr(F.col("_fsize"), F.col("_fblob"), F.col("_h1"), F.col("_h2"), cfg)
        maybe = (
            F.when(F.col("_fb").isNull(), F.lit(False))
            .when(F.col("_fblob").isNull(), F.lit(True))
            .otherwise(hit)
        )
        return _probe_output(j.withColumn(out_col, maybe), candidates.columns, out_col, bucket_out)

    def probe_cogroup(
        self,
        candidates: DataFrame,
        filters: DataFrame,
        key_col: str = "surt",
        cfg: EngineConfig = DEFAULT,
        out_col: str = "_maybe_seen",
        bucket_out: str | None = None,
    ) -> DataFrame:
        """Cogrouped per-bucket probe — the beyond-broadcast form: the
        candidates shuffle by bucket (the partitioning the exact confirm
        join reuses) and each blob crosses the wire once per bucket, never
        once per row, so no single place holds the whole filter set.
        Membership is the numpy :meth:`contains`; same contract as
        :meth:`probe_broadcast`."""
        hashed = _hash_cols(candidates, key_col, cfg.num_host_buckets)
        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in hashed.schema.fields
        ) + f", {out_col} boolean"

        def per_bucket(cand_pdf: pd.DataFrame, f_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(cand_pdf) == 0:
                return cand_pdf.assign(**{out_col: pd.Series([], dtype=bool)})
            if len(f_pdf) == 0:
                return cand_pdf.assign(**{out_col: False})
            blob = f_pdf[self.blob].iat[0]
            if blob is None:
                return cand_pdf.assign(**{out_col: True})
            hit = self.contains(
                int(f_pdf[self.size_col].iat[0]), blob,
                cand_pdf["_h1"].to_numpy(), cand_pdf["_h2"].to_numpy(), cfg,
            )
            return cand_pdf.assign(**{out_col: hit})

        probed = (
            hashed.groupBy("_bucket")
            .cogroup(filters.groupBy("bucket"))
            .applyInPandas(per_bucket, out_schema)
        )
        return _probe_output(probed, candidates.columns, out_col, bucket_out)

    # ----------------------------------------------------------- upkeep --
    def write(
        self,
        store: SnapshotStore,
        filters: DataFrame,
        meta: dict,
        read_seen: Callable[[], DataFrame],
        key_col: str = "surt",
        cfg: EngineConfig = DEFAULT,
    ) -> int:
        """Write ``filters`` as the filter table's next version, stamped
        with ``meta`` and this form's ``hash_version``; returns the version
        that is current afterwards. The size hint (the next probe's
        broadcast-vs-cogroup gate, :meth:`probe_for`) and the count of
        NULL-blob buckets ride the write's Observation. The hint is stored
        only when no bucket is NULL, because such a version is superseded
        at once: its NULL buckets are rebuilt from the exact seen rows,
        ``read_seen()`` (called only then; 4× headroom, so amortized-rare),
        and written again. A NULL blob therefore never outlives the write
        that produced it."""
        meta = {**meta, "hash_version": self.hash_version}

        def put(df: DataFrame) -> tuple[int, int]:
            obs = Observation()
            observed = df.observe(
                obs,
                self.size_expr().alias("size"),
                F.sum(F.when(F.col(self.blob).isNull(), 1).otherwise(0)).alias("overflow"),
            )

            def stamp() -> dict:
                if int(obs.get["overflow"] or 0):
                    return meta
                return {**meta, self.size_key: int(obs.get["size"] or 0)}

            v = store.write(self.table, observed, meta=stamp)
            return v, int(obs.get["overflow"] or 0)

        v, overflow = put(filters)
        if not overflow:
            return v
        written = store.read(filters.sparkSession, self.table)
        buckets = [
            r[0] for r in written.where(F.col(self.blob).isNull()).select("bucket").collect()
        ]
        return put(self.rebuild(written, read_seen(), buckets, key_col, cfg))[0]

    def refresh(
        self,
        store: SnapshotStore,
        meta: dict,
        read_seen: Callable[[], DataFrame],
        key_col: str = "surt",
        cfg: EngineConfig = DEFAULT,
    ) -> int | None:
        """The stamp check before probing a stored filter table: blobs of
        another hash scheme (a different or missing ``hash_version``) or
        bucket count would give false NEGATIVES, so the whole table is
        rebuilt from the exact seen rows and written with :meth:`write`.
        Returns that version, or None when the stamp holds."""
        stamp = store.meta(self.table)
        if stamp.get("hash_version") == self.hash_version and (
            stamp.get("num_buckets") in (None, cfg.num_host_buckets)
        ):
            return None
        built = self.build(read_seen(), key_col, cfg, headroom=4)
        return self.write(store, built, meta, read_seen, key_col, cfg)

    def probe_for(self, filters: DataFrame, cfg: EngineConfig = DEFAULT, hint: int | None = None):
        """The probe for this filter set: broadcast while it fits
        cfg.bloom_broadcast_max_bytes, cogrouped beyond. ``hint`` is the
        stored size hint (meta ``size_key``, piggybacked on the filter
        write — zero jobs); without it, one aggregate job over the B-row
        filter table."""
        if hint is None:
            hint = filters.agg(self.size_expr()).first()[0] or 0
        if self.hint_bytes(hint) <= cfg.bloom_broadcast_max_bytes:
            return self.probe_broadcast
        return self.probe_cogroup
