"""Iceberg-shaped table catalog with an atomic parquet backend.

The reference checkpoints progress with ad-hoc pickle caches and
append-mode TSVs (`utils/entity_expander.py:43-49,71-77`,
`utils/entity_extractor.py:37-38`). The engine replaces those with a
catalog exposing the Iceberg table surface the pipeline needs —
named tables, atomic snapshot commits, append/overwrite, snapshot
history with per-commit metrics, read-of-last-committed-snapshot —
so every stage boundary is a durable, resumable checkpoint
(north rule: "resumes from the last committed checkpoint").

``ParquetCatalog`` stores each snapshot as an immutable parquet
directory plus a JSON manifest whose atomic rename *is* the commit —
Iceberg's semantics: readers only ever see the last committed
snapshot; a crashed writer leaves no partial state.

Layout (ParquetCatalog):
    <warehouse>/<table>/snap-<n>/part-*.parquet   immutable data
    <warehouse>/<table>/manifest.json             current pointer
    <warehouse>/<table>/manifest.json.tmp-*       in-flight commit

Warehouse filesystems: a scheme-less warehouse path uses the local
filesystem directly (`_LocalFS` — zero-overhead sandbox path); any
``scheme://`` warehouse (hdfs://, s3a://, viewfs://, file://, ...)
routes every manifest/metadata operation through the JVM's Hadoop
``FileSystem`` for that scheme (`_HadoopFS`), the same layer Spark
itself writes the parquet data through — so a remote warehouse is
supported end-to-end, not only for the data files.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class _LocalFS:
    """Plain-os filesystem ops for a scheme-less local warehouse."""

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_atomic(self, path: str, data: bytes) -> None:
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # atomic on POSIX: this IS the commit

    def delete(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def list_files(self, path: str) -> list[tuple[str, int]]:
        out = []
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                full = os.path.join(root, f)
                out.append((os.path.relpath(full, path), os.path.getsize(full)))
        return out


class _HadoopFS:
    """Hadoop-FileSystem-backed ops for a ``scheme://`` warehouse.

    Goes through the SAME JVM filesystem layer Spark writes parquet
    with (py4j to ``org.apache.hadoop.fs.FileSystem``), so whatever
    scheme the cluster mounts (hdfs://, s3a://, viewfs://, ...) works
    for manifests exactly as it does for data. The manifest commit
    rename uses ``FileContext.rename(..., OVERWRITE)`` — atomic on
    HDFS; on rename-less object stores it degrades to the store's
    copy+delete rename, the standard tradeoff every manifest-pointer
    format accepts there.
    """

    def __init__(self, spark: SparkSession, base_uri: str):
        self._jvm = spark._jvm  # noqa: SLF001 — py4j bridge is the API here
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
        self._gateway = spark.sparkContext._gateway  # noqa: SLF001
        juri = self._jvm.java.net.URI.create(base_uri)
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            juri, self._conf
        )
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        try:
            self._fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                juri, self._conf
            )
        except Exception:
            self._fc = None  # fall back to delete+rename commits

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs.open(self._Path(path))
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def write_atomic(self, path: str, data: bytes) -> None:
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        out = self._fs.create(self._Path(tmp), True)
        try:
            out.write(bytearray(data))
            out.hflush()
        finally:
            out.close()
        src, dst = self._Path(tmp), self._Path(path)
        if self._fc is not None:
            Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
            opts = self._gateway.new_array(Rename, 1)
            opts[0] = Rename.OVERWRITE
            self._fc.rename(src, dst, opts)
        else:
            if self._fs.exists(dst):
                self._fs.delete(dst, False)
            self._fs.rename(src, dst)

    def delete(self, path: str) -> None:
        self._fs.delete(self._Path(path), True)

    def list_files(self, path: str) -> list[tuple[str, int]]:
        base = self._Path(path)
        if not self._fs.exists(base):
            return []
        base_str = str(self._fs.getFileStatus(base).getPath())
        it = self._fs.listFiles(base, True)
        out = []
        while it.hasNext():
            st = it.next()
            full = str(st.getPath())
            rel = full[len(base_str) :].lstrip("/")
            out.append((rel, int(st.getLen())))
        return sorted(out)


def _is_remote(path: str) -> bool:
    return "://" in path


def _footer_counts(data_dir: str) -> list[dict[str, Any]]:
    """Per-partition row counts from parquet footers only.

    One entry per written file: {"path": <relative>, "rows": n}. For
    ``partitionBy`` layouts the relative path carries the partition
    values (e.g. ``cls=salted/part-...parquet``), so the manifest
    records per-partition lineage without any data re-scan — footer
    reads are O(files), not O(rows).
    """
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    paths: list[str] = []
    for root, _dirs, files in os.walk(data_dir):
        for f in sorted(files):
            if f.endswith(".parquet"):
                paths.append(os.path.join(root, f))

    def _one(full: str) -> dict[str, Any]:
        return {
            "path": os.path.relpath(full, data_dir),
            "rows": pq.ParquetFile(full).metadata.num_rows,
        }

    # footer reads are tiny independent IO ops; a thread pool keeps
    # the commit's driver-side latency flat in the file count (the
    # serial form charged ~file_count x open latency to every commit)
    if len(paths) <= 4:
        return [_one(p) for p in paths]
    with ThreadPoolExecutor(max_workers=16) as pool:
        return list(pool.map(_one, paths))


@dataclass
class Snapshot:
    snapshot_id: int
    mode: str
    # rows written by THIS commit (the delta, for an append)
    row_count: int
    committed_at: float
    lineage: dict[str, Any] = field(default_factory=dict)
    metrics: dict[str, Any] = field(default_factory=dict)
    partitions: list[dict[str, Any]] = field(default_factory=list)
    # rows across ALL data_dirs this snapshot exposes — what read()
    # returns. Equal to row_count for overwrite snapshots; cumulative
    # for appends. Anything sizing driver-side work from a snapshot
    # (e.g. connected_components' canonical_count) must use THIS, not
    # row_count — an append's delta can be arbitrarily smaller than
    # the table it fronts.
    total_rows: int = -1

    def __post_init__(self):
        if self.total_rows < 0:
            self.total_rows = self.row_count


class ParquetCatalog:
    def __init__(self, warehouse: str, spark: SparkSession | None = None):
        self.warehouse = warehouse
        self._spark = spark
        self._fs: _LocalFS | _HadoopFS | None = None
        if not _is_remote(warehouse):
            self._fs = _LocalFS()
            self._fs.mkdirs(warehouse)

    @property
    def fs(self) -> _LocalFS | _HadoopFS:
        # the Hadoop FS bridge needs a live JVM — resolved lazily from
        # the constructor session or the active one
        if self._fs is None:
            spark = self._spark or SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    f"remote warehouse {self.warehouse!r} needs an active "
                    "SparkSession (pass spark= to ParquetCatalog)"
                )
            self._fs = _HadoopFS(spark, self.warehouse)
            self._fs.mkdirs(self.warehouse)
        return self._fs

    # -- manifest helpers --------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "manifest.json")

    def _read_manifest(self, table: str) -> dict | None:
        path = self._manifest_path(table)
        if not self.fs.exists(path):
            return None
        return json.loads(self.fs.read_bytes(path).decode())

    def _commit_manifest(self, table: str, manifest: dict) -> None:
        # atomic pointer swap through the warehouse's filesystem
        # (POSIX rename locally, Hadoop FileContext OVERWRITE rename
        # remotely) — this IS the commit
        self.fs.write_atomic(
            self._manifest_path(table), json.dumps(manifest, indent=1).encode()
        )

    # -- public surface ----------------------------------------------------
    def exists(self, table: str) -> bool:
        return self._read_manifest(table) is not None

    @staticmethod
    def _entry_total_rows(snapshots: list[dict], idx: int) -> int:
        """total_rows for ``snapshots[idx]``: the stored value when
        present, else reconstructed by summing ``row_count`` back to
        the last overwrite (ADVICE r5: a legacy pre-total_rows append
        snapshot's ``row_count`` is the last delta only — falling back
        to it undercounts the table, and that count sizes driver-side
        work like connected_components' contraction bound)."""
        if "total_rows" in snapshots[idx]:
            return snapshots[idx]["total_rows"]
        total = 0
        for s in snapshots[: idx + 1]:
            if s["mode"] == "overwrite":
                total = s["row_count"]
            else:
                total += s["row_count"]
        return total

    def current_snapshot(self, table: str) -> Snapshot | None:
        m = self._read_manifest(table)
        if m is None or not m.get("snapshots"):
            return None
        cur = m["snapshots"][-1]
        return Snapshot(
            snapshot_id=cur["snapshot_id"],
            mode=cur["mode"],
            row_count=cur["row_count"],
            committed_at=cur["committed_at"],
            lineage=cur.get("lineage", {}),
            metrics=cur.get("metrics", {}),
            partitions=cur.get("partitions", []),
            total_rows=self._entry_total_rows(
                m["snapshots"], len(m["snapshots"]) - 1
            ),
        )

    def history(self, table: str) -> list[dict]:
        m = self._read_manifest(table)
        return list(m["snapshots"]) if m else []

    def rollback(self, table: str, snapshot_id: int) -> Snapshot:
        """Make ``snapshot_id`` the table's current snapshot by
        truncating every later manifest entry (the Iceberg
        rollback-to-snapshot analogue). Data dirs of dropped snapshots
        stay on disk — unreferenced, harmless, reclaimable by a future
        GC — so the operation is one atomic manifest swap. The repair
        path for a partially-committed multi-table batch (see
        Pipeline.incremental's replay guard)."""
        m = self._read_manifest(table)
        if m is None:
            raise FileNotFoundError(f"table not committed: {table}")
        keep = [s for s in m["snapshots"] if s["snapshot_id"] <= snapshot_id]
        if not keep or keep[-1]["snapshot_id"] != snapshot_id:
            raise ValueError(
                f"{table} has no snapshot {snapshot_id} "
                f"(history: {[s['snapshot_id'] for s in m['snapshots']]})"
            )
        m["snapshots"] = keep
        self._commit_manifest(table, m)
        return self.current_snapshot(table)  # type: ignore[return-value]

    def write(
        self,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        lineage: dict | None = None,
        metrics: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        """Write ``df`` as a new committed snapshot.

        ``append`` snapshots reference prior data dirs plus the new
        one (no rewrite); ``overwrite`` starts a fresh data-dir list.
        The manifest rename is the only mutation visible to readers.
        """
        assert mode in ("overwrite", "append")
        m = self._read_manifest(table) or {"table": table, "snapshots": []}
        snap_id = (m["snapshots"][-1]["snapshot_id"] + 1) if m["snapshots"] else 0
        data_dir = os.path.join(self._table_dir(table), f"snap-{snap_id}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        # row counts from parquet FOOTERS (pyarrow metadata only — no
        # second scan of the data, which at 100 TB would double every
        # stage's read volume) + per-partition lineage (north rule:
        # "per-partition lineage + metrics"): one entry per written
        # file/partition-dir with its row count. On a remote
        # (scheme://) warehouse the footers aren't driver-openable
        # with plain pyarrow, so per-partition lineage comes from the
        # Hadoop FS listing (path + bytes per file) and the row count
        # from a metadata-only Spark count (parquet count() is
        # footer-driven, not a data scan — one extra job, never
        # silently zero).
        if isinstance(self.fs, _LocalFS) and os.path.isdir(data_dir):
            partitions = _footer_counts(data_dir)
            row_count = sum(p["rows"] for p in partitions)
        else:
            partitions = [
                {"path": rel, "bytes": size}
                for rel, size in self.fs.list_files(data_dir)
                if rel.endswith(".parquet")
            ]
            row_count = df.sparkSession.read.parquet(data_dir).count()
        dirs = [f"snap-{snap_id}"]
        total_rows = row_count
        if mode == "append" and m["snapshots"]:
            prev = m["snapshots"][-1]
            dirs = prev["data_dirs"] + dirs
            # reconstructed when the legacy manifest lacks total_rows
            # (prev["row_count"] alone is just the last delta)
            total_rows += self._entry_total_rows(
                m["snapshots"], len(m["snapshots"]) - 1
            )
        entry = {
            "snapshot_id": snap_id,
            "mode": mode,
            "data_dirs": dirs,
            "row_count": row_count,
            "total_rows": total_rows,
            "committed_at": time.time(),
            "lineage": lineage or {},
            "metrics": metrics or {},
            "partitions": partitions,
        }
        m["snapshots"].append(entry)
        self._commit_manifest(table, m)
        return self.current_snapshot(table)  # type: ignore[return-value]

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        m = self._read_manifest(table)
        if m is None or not m["snapshots"]:
            raise FileNotFoundError(f"table not committed: {table}")
        cur = m["snapshots"][-1]
        paths = [
            os.path.join(self._table_dir(table), d) for d in cur["data_dirs"]
        ]
        return spark.read.parquet(*paths)

    def _snapshot_dirs(self, table: str, snapshot_id: int) -> list[str]:
        m = self._read_manifest(table)
        if m is None:
            raise FileNotFoundError(f"table not committed: {table}")
        for snap in m["snapshots"]:
            if snap["snapshot_id"] == snapshot_id:
                return [
                    os.path.join(self._table_dir(table), d)
                    for d in snap["data_dirs"]
                ]
        raise KeyError(f"{table}: no snapshot {snapshot_id}")

    def read_snapshot(
        self, spark: SparkSession, table: str, snapshot_id: int
    ) -> DataFrame:
        """Time travel: read a specific committed snapshot."""
        return spark.read.parquet(*self._snapshot_dirs(table, snapshot_id))

    def read_written(
        self, spark: SparkSession, table: str, snapshot_id: int
    ) -> DataFrame:
        """Read only the rows snapshot ``snapshot_id``'s own commit
        wrote: the delta of an append (``read_snapshot`` reads the
        cumulative table), the whole table of an overwrite. That is
        the snapshot's last data dir, on a local or ``scheme://``
        warehouse alike."""
        return spark.read.parquet(self._snapshot_dirs(table, snapshot_id)[-1])

    def drop(self, table: str) -> None:
        self.fs.delete(self._table_dir(table))

