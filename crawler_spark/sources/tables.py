"""SnapshotStore — versioned parquet tables with atomic commits.

The production design targets Iceberg (``df.writeTo(t).append()``, snapshot
tags per BFS round, ``rollback_to_snapshot`` for resume, ``bucket(N, host)``
partition transforms). The Iceberg runtime jar is not on this classpath, so
this module provides the same *contract* over plain parquet:

- every write is a new immutable version directory ``<table>/v<NNNN>/``
- a JSON manifest is swapped in atomically (os.replace) → readers always
  see a complete snapshot; a killed writer leaves the previous version
  current (kill-safe resume, the Iceberg snapshot-isolation property the
  frontier loop depends on — SURVEY §4 custom piece #4)
- versions carry arbitrary metadata (round number, lineage) and can be
  rolled back to
- reads pass the schema to the parquet reader when it is known, so a
  read plans without a job: the store remembers, in memory only, the
  schema of every version directory it wrote itself (the recursive
  all-nullable form, which is what Spark's parquet writer stores, or the
  pyarrow schema of ``write_local``). A directory it did not write (a
  second store on the same root, a resumed process) or a partitioned
  write falls back to schema inference, one small job per read.
  Manifests and ``state.json`` carry no schema; ``drop()`` forgets the
  table's entries, because version paths restart after a drop, and an
  entry is trusted only while the directory's inode and mtime are the
  ones seen right after the write.

Swap-in path for a real cluster: replace SnapshotStore with the Iceberg
catalog; the frontier loop only uses read/write/rollback/current_version.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_LOCAL_TYPES = {
    "int": T.IntegerType(), "long": T.LongType(), "double": T.DoubleType(),
    "boolean": T.BooleanType(), "string": T.StringType(),
}


@dataclass
class Version:
    version: int
    path: str
    meta: dict


def _as_nullable(dt: T.DataType) -> T.DataType:
    """Spark's ``DataType.asNullable``: every field, element and value
    nullable, recursively — the schema a parquet write stores."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # version dir → (inode, mtime_ns, schema) of the dirs this object
        # wrote; never persisted (see the module docstring)
        self._schemas: dict[str, tuple[int, int, T.StructType]] = {}

    def _remember(self, vdir: str, schema: T.StructType) -> None:
        st = os.stat(vdir)
        self._schemas[vdir] = (st.st_ino, st.st_mtime_ns, schema)

    def _known_schema(self, vdir: str) -> T.StructType | None:
        entry = self._schemas.get(vdir)
        if entry is None:
            return None
        try:
            st = os.stat(vdir)
        except FileNotFoundError:
            return None
        return entry[2] if (st.st_ino, st.st_mtime_ns) == entry[:2] else None

    def _read_parquet(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        """Read version dirs with their remembered schema when every one
        is known and they agree; otherwise let Spark infer it."""
        schemas = [self._known_schema(p) for p in paths]
        if schemas and schemas[0] is not None and all(s == schemas[0] for s in schemas):
            return spark.read.schema(schemas[0]).parquet(*paths)
        return spark.read.parquet(*paths)

    # ------------------------------------------------------------ paths --
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_manifest.json")

    def _read_manifest(self, table: str) -> dict:
        try:
            with open(self._manifest_path(table)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"current": None, "versions": []}

    def _commit_manifest(self, table: str, manifest: dict) -> None:
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(table))  # atomic swap

    # -------------------------------------------------------------- api --
    def exists(self, table: str) -> bool:
        return self._read_manifest(table)["current"] is not None

    def current_version(self, table: str) -> int | None:
        return self._read_manifest(table)["current"]

    def versions(self, table: str) -> list[Version]:
        m = self._read_manifest(table)
        return [Version(v["version"], v["path"], v.get("meta", {})) for v in m["versions"]]

    def write(
        self,
        table: str,
        df: DataFrame,
        meta: dict | Callable[[], dict] | None = None,
        partition_by: list[str] | None = None,
        append: bool = False,
    ) -> int:
        """Write df as the table's next version; returns the version number.

        ``meta`` may be a callable: it is called after the parquet write
        and before the manifest swap, for facts only known once the
        write's Observation fires (e.g. the filter's total bits, read back
        next round without a job) — one manifest swap instead of a write
        and an ``amend_meta``.

        append=True emulates an Iceberg append snapshot: the new version's
        segment list = previous version's segments + the new delta dir, so
        only the delta is written (no rewrite of a 10^10-row seen table per
        round). The parquet write completes fully before the manifest swap —
        a failure mid-write leaves the previous version current.
        """
        m = self._read_manifest(table)
        next_v = 1
        if m["versions"]:
            next_v = max(v["version"] for v in m["versions"]) + 1
        vdir = os.path.join(self._tdir(table), f"v{next_v:05d}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(vdir)
        if not partition_by:  # partition columns' types are inferred from paths
            self._remember(vdir, _as_nullable(df.schema))
        if callable(meta):
            meta = meta()
        self._append_version(table, m, next_v, vdir, meta, append)
        return next_v

    def _append_version(
        self, table: str, m: dict, next_v: int, vdir: str, meta: dict | None, append: bool
    ) -> None:
        segments = [vdir]
        if append and m["current"] is not None:
            prev = next(e for e in m["versions"] if e["version"] == m["current"])
            segments = prev.get("segments", [prev["path"]]) + [vdir]
        m["versions"].append(
            {
                "version": next_v,
                "path": vdir,
                "segments": segments,
                "meta": {**(meta or {}), "ts": time.time()},
            }
        )
        m["current"] = next_v
        self._commit_manifest(table, m)

    def amend_meta(self, table: str, patch: dict, version: int | None = None) -> None:
        """Merge ``patch`` into a version's meta after the write — for
        facts only known once the write's Observation fires (e.g. the
        blooms' total filter bits, read back next round without a job)."""
        m = self._read_manifest(table)
        v = version if version is not None else m["current"]
        for entry in m["versions"]:
            if entry["version"] == v:
                entry.setdefault("meta", {}).update(patch)
                self._commit_manifest(table, m)
                return
        raise FileNotFoundError(f"table {table!r} version {v} not found")

    def write_local(
        self, table: str, rows: list[tuple], schema: str, meta: dict | None = None,
        append: bool = False,
    ) -> int:
        """Append tiny driver-side rows (metrics, lineage) as a new version
        WITHOUT a Spark job: pyarrow writes the parquet file directly.
        Readable by spark.read.parquet like any other version. At one row
        per BFS round a Spark write is pure scheduling overhead."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        fields = []
        arrays = []
        _PA = {
            "int": pa.int32(), "long": pa.int64(), "double": pa.float64(),
            "boolean": pa.bool_(), "string": pa.string(),
        }
        cols = [c.strip().rsplit(" ", 1) for c in schema.split(",")]
        for i, (name, typ) in enumerate(cols):
            fields.append(pa.field(name.strip(), _PA[typ.strip()]))
            arrays.append(pa.array([r[i] for r in rows], type=_PA[typ.strip()]))
        m = self._read_manifest(table)
        next_v = 1 + max((v["version"] for v in m["versions"]), default=0)
        vdir = os.path.join(self._tdir(table), f"v{next_v:05d}")
        os.makedirs(vdir, exist_ok=True)
        pq.write_table(
            pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
            os.path.join(vdir, "part-00000.parquet"),
        )
        self._remember(
            vdir,
            T.StructType([T.StructField(n.strip(), _LOCAL_TYPES[t.strip()]) for n, t in cols]),
        )
        self._append_version(table, m, next_v, vdir, meta, append)
        return next_v

    def read_delta(self, spark: SparkSession, table: str, version: int) -> DataFrame:
        """Read ONLY the delta directory a given append version added —
        the Iceberg incremental-read analog (changelog between snapshots).
        The frontier's bloom maintenance folds in just this delta instead
        of rescanning the whole table."""
        m = self._read_manifest(table)
        for entry in m["versions"]:
            if entry["version"] == version:
                return self._read_parquet(spark, [entry["path"]])
        raise FileNotFoundError(f"table {table!r} version {version} not found")

    def read(self, spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
        m = self._read_manifest(table)
        v = version if version is not None else m["current"]
        if v is None:
            raise FileNotFoundError(f"table {table!r} has no committed version")
        for entry in m["versions"]:
            if entry["version"] == v:
                return self._read_parquet(spark, entry.get("segments", [entry["path"]]))
        raise FileNotFoundError(f"table {table!r} version {v} not found")

    # ------------------------------------------------------- round state --
    # Atomic multi-table commit marker: a BFS round is durable only once
    # state.json points at the versions it wrote. On resume, tables are
    # rolled back to the last recorded state — a crash between table writes
    # and the state swap discards the partial round (snapshot isolation).

    def _state_path(self) -> str:
        return os.path.join(self.root, "state.json")

    def commit_state(self, state: dict) -> None:
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1)
        os.replace(tmp, self._state_path())

    def read_state(self) -> dict | None:
        try:
            with open(self._state_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def restore_state(self) -> dict | None:
        """Roll every table back to the last committed state (resume)."""
        state = self.read_state()
        if state:
            for table, version in state.get("tables", {}).items():
                if self.current_version(table) != version:
                    self.rollback(table, version)
        return state

    def rollback(self, table: str, version: int) -> None:
        """Make an older version current (Iceberg rollback_to_snapshot analog)."""
        m = self._read_manifest(table)
        if not any(e["version"] == version for e in m["versions"]):
            raise FileNotFoundError(f"table {table!r} version {version} not found")
        m["current"] = version
        self._commit_manifest(table, m)

    def meta(self, table: str, version: int | None = None) -> dict:
        m = self._read_manifest(table)
        v = version if version is not None else m["current"]
        for entry in m["versions"]:
            if entry["version"] == v:
                return entry.get("meta", {})
        return {}

    def drop(self, table: str) -> None:
        shutil.rmtree(self._tdir(table), ignore_errors=True)
        prefix = self._tdir(table) + os.sep
        for vdir in list(self._schemas):  # a snapshot: writer threads may add keys
            if vdir.startswith(prefix):
                self._schemas.pop(vdir, None)
