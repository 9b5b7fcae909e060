"""Snapshot-versioned parquet catalog — the engine's table layer.

Re-expresses the reference's CrawlDb install protocol —
``crawl/CrawlDb.java:197-220``: write to a temp dir, atomically swap
``current`` <-> ``old``, guarded by a ``.locked`` file — as snapshot
commits, the way an Iceberg catalog would:

- every commit writes a fresh immutable snapshot directory and then
  atomically swings a JSON metadata pointer (``os.replace`` — atomic on
  POSIX, the moral equivalent of Iceberg's metadata-location CAS);
- the previous snapshot stays readable => ``db.preserve.backup`` /
  ``crawldb/old`` for free, plus time travel to any snapshot;
- each snapshot records lineage (input snapshot ids per source table,
  cycle id, stage), metrics (counter map), and an Iceberg-manifest-style
  per-file manifest (rows/bytes/url zone map read from the parquet
  footers at commit) — the north rule's per-partition lineage +
  fetch/parse metrics;
- each snapshot records its Spark schema (JSON) and, through the
  manifest, its row count (:attr:`Snapshot.rows`), as Iceberg table
  metadata does: :meth:`read` hands the stored schema to the parquet
  reader, so it starts no schema-inference job, and callers size a
  snapshot without a ``count()``;
- optimistic concurrency: commit fails if the parent snapshot moved
  (the ``.locked`` analogue, ``CrawlDb.java:69,191-195``).

In production this module is swapped for an Iceberg catalog
(``df.writeTo(...).createOrReplace()`` + snapshot tags); operator code
only touches :meth:`read` / :meth:`commit`, so the swap is config-only.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class ConcurrentCommitError(RuntimeError):
    pass


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    committed_at_ms: int
    path: str
    lineage: dict[str, Any] = field(default_factory=dict)
    metrics: dict[str, Any] = field(default_factory=dict)
    # Iceberg-manifest-style per-file entries: {file, bytes, rows,
    # url_min, url_max} for each parquet part (one per write partition)
    manifest: list[dict[str, Any]] = field(default_factory=list)
    # ``DataFrame.schema.json()`` of the committed frame; None on
    # snapshots committed before schemas were recorded (read infers it)
    schema: str | None = None

    @property
    def rows(self) -> int:
        """Row count from the manifest (the parquet footers)."""
        return sum(e["rows"] for e in self.manifest)


def _file_manifest(snap_dir: str) -> list[dict[str, Any]]:
    """Per-partition lineage from the committed parquet footers: one
    entry per ``part-*`` file with its byte size, row count, and a
    url zone map (min/max across row groups) when the table has a url
    column. This is what an Iceberg manifest records; footers are
    O(KB) metadata reads, so the driver-side loop costs O(#files)
    small reads per commit — real Iceberg moves exactly this into the
    writer tasks, which the docstring-level swap to a production
    catalog would restore."""
    import pyarrow.parquet as pq

    out: list[dict[str, Any]] = []
    for name in sorted(os.listdir(snap_dir)):
        if not name.endswith(".parquet") or name.startswith("."):
            continue
        fp = os.path.join(snap_dir, name)
        md = pq.ParquetFile(fp).metadata
        entry: dict[str, Any] = {
            "file": name,
            "bytes": os.path.getsize(fp),
            "rows": md.num_rows,
        }
        url_min = url_max = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                # leaf path, robust to struct/map siblings in the schema
                if col.path_in_schema != "url":
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    mn, mx = mn.decode("utf-8", "replace"), mx.decode("utf-8", "replace")
                url_min = mn if url_min is None else min(url_min, mn)
                url_max = mx if url_max is None else max(url_max, mx)
        if url_min is not None:
            entry["url_min"], entry["url_max"] = url_min, url_max
        out.append(entry)
    return out


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- metadata ----------------------------------------------------------
    def _meta_path(self, table: str) -> str:
        return os.path.join(self.root, table, "metadata.json")

    @contextlib.contextmanager
    def _meta_lock(self, table: str):
        """Exclusive advisory lock on the table's metadata — the
        ``.locked`` file of CrawlDb.java:69 done properly: load-check-
        store under one flock so two concurrent committers cannot both
        pass the expected_parent check and last-writer-wins each other's
        snapshot entries out of the metadata list."""
        table_dir = os.path.join(self.root, table)
        os.makedirs(table_dir, exist_ok=True)
        fd = os.open(os.path.join(table_dir, ".locked"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _load_meta(self, table: str) -> dict:
        p = self._meta_path(table)
        if not os.path.exists(p):
            return {"current_snapshot_id": None, "snapshots": []}
        with open(p, "r", encoding="utf-8") as f:
            return json.load(f)

    def _store_meta(self, table: str, meta: dict) -> None:
        table_dir = os.path.join(self.root, table)
        os.makedirs(table_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=table_dir, suffix=".json.tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path(table))  # atomic pointer swing

    # -- API ---------------------------------------------------------------
    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root) if os.path.exists(self._meta_path(d))
        )

    def exists(self, table: str) -> bool:
        return self._load_meta(table)["current_snapshot_id"] is not None

    def current_snapshot_id(self, table: str) -> int | None:
        return self._load_meta(table)["current_snapshot_id"]

    def snapshots(self, table: str) -> list[Snapshot]:
        return [Snapshot(**s) for s in self._load_meta(table)["snapshots"]]

    def snapshot(self, table: str, snapshot_id: int | None = None) -> Snapshot:
        """The snapshot ``snapshot_id`` of ``table`` (default: current)."""
        meta = self._load_meta(table)
        sid = snapshot_id if snapshot_id is not None else meta["current_snapshot_id"]
        if sid is None:
            raise FileNotFoundError(f"no current snapshot for table {table}")
        for s in meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return Snapshot(**s)
        raise FileNotFoundError(f"snapshot {sid} of {table} not found")

    def commit(
        self,
        df: DataFrame,
        table: str,
        *,
        now_ms: int = 0,
        lineage: dict[str, Any] | None = None,
        metrics: dict[str, Any] | None = None,
        expected_parent: int | None = -1,
    ) -> Snapshot:
        """Write ``df`` as the new current snapshot of ``table``.

        ``expected_parent=-1`` skips the optimistic-concurrency check;
        pass the snapshot id you read from to enforce it.
        ``now_ms`` is the injected clock (no wall-clock in logic paths).
        """
        # cheap pre-flight CAS check before the expensive write
        pre = self._load_meta(table)
        if expected_parent != -1 and pre["current_snapshot_id"] != expected_parent:
            raise ConcurrentCommitError(
                f"{table}: current={pre['current_snapshot_id']} expected={expected_parent}"
            )
        # parquet write OUTSIDE the lock (long-running, conflict-free in a
        # uuid-unique pending dir); the id is allocated and the dir renamed
        # under the lock, where the CAS check is re-done authoritatively
        token = uuid.uuid4().hex[:8]
        pending = os.path.join(self.root, table, f"snap-pending-{token}")
        try:
            df.write.mode("overwrite").parquet(pending)
        except BaseException:
            # a failed/interrupted write must not leak a partial snapshot's
            # worth of parquet (driver crashes still leak — expire_snapshots
            # sweeps those)
            shutil.rmtree(pending, ignore_errors=True)
            raise
        # footer scan outside the lock too — it only touches the
        # uuid-unique pending dir
        manifest = _file_manifest(pending)
        with self._meta_lock(table):
            meta = self._load_meta(table)
            if expected_parent != -1 and meta["current_snapshot_id"] != expected_parent:
                shutil.rmtree(pending, ignore_errors=True)
                raise ConcurrentCommitError(
                    f"{table}: current={meta['current_snapshot_id']} "
                    f"expected={expected_parent}"
                )
            # ids must be unique across the whole history: after rollback()
            # current may be lower than already-used ids, and read() resolves
            # by id — so allocate past the global max, not current+1
            used = [s["snapshot_id"] for s in meta["snapshots"]]
            snap_id = max([meta["current_snapshot_id"] or 0, *used], default=0) + 1
            rel = f"snap-{snap_id:06d}-{token}"
            os.rename(pending, os.path.join(self.root, table, rel))
            snap = Snapshot(
                snapshot_id=snap_id,
                parent_id=meta["current_snapshot_id"],
                committed_at_ms=now_ms,
                path=rel,
                lineage=lineage or {},
                metrics=metrics or {},
                manifest=manifest,
                schema=df.schema.json(),
            )
            meta["snapshots"].append(snap.__dict__)
            meta["current_snapshot_id"] = snap_id
            self._store_meta(table, meta)
        return snap

    def read(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None
    ) -> DataFrame:
        snap = self.snapshot(table, snapshot_id)
        if os.path.basename(snap.path) != snap.path or snap.path in ("", ".", ".."):
            # metadata.json is data: a path that leaves the table dir
            # would read files outside the warehouse
            raise ValueError(f"{table}: snapshot path {snap.path!r} leaves the table dir")
        reader = spark.read
        if snap.schema is not None:
            reader = reader.schema(StructType.fromJson(json.loads(snap.schema)))
        return reader.parquet(os.path.join(self.root, table, snap.path))

    def update_snapshot_metrics(
        self, table: str, snapshot_id: int, metrics: dict[str, Any]
    ) -> None:
        """Merge ``metrics`` into an existing snapshot's metrics map
        (Iceberg snapshot-summary style). Lets callers commit the data
        file FIRST and derive expensive aggregates from the committed
        parquet instead of executing the uncommitted lineage twice."""
        with self._meta_lock(table):
            meta = self._load_meta(table)
            for s in meta["snapshots"]:
                if s["snapshot_id"] == snapshot_id:
                    s["metrics"] = {**s.get("metrics", {}), **metrics}
                    self._store_meta(table, meta)
                    return
        raise FileNotFoundError(f"snapshot {snapshot_id} of {table} not found")

    def rollback(self, table: str, snapshot_id: int) -> None:
        """Point ``current`` back at an older snapshot (resume-from-checkpoint)."""
        with self._meta_lock(table):
            meta = self._load_meta(table)
            if not any(s["snapshot_id"] == snapshot_id for s in meta["snapshots"]):
                raise FileNotFoundError(f"snapshot {snapshot_id} of {table} not found")
            meta["current_snapshot_id"] = snapshot_id
            self._store_meta(table, meta)

    def expire_snapshots(
        self, table: str, keep: int = 2, pending_grace_s: float = 24 * 3600
    ) -> int:
        """Drop all but the newest ``keep`` snapshots (old-dir cleanup).

        ``pending_grace_s``: minimum age before an unreferenced
        snap-pending-* dir is swept as an orphan. Commits write their
        parquet outside the meta lock, so a pending dir may belong to a
        LIVE in-flight commit — only dirs quiet for a full grace window
        (dir mtime ticks on every file create/rename inside it) are
        provably abandoned (driver died mid-write)."""
        with self._meta_lock(table):
            meta = self._load_meta(table)
            snaps = sorted(meta["snapshots"], key=lambda s: s["snapshot_id"])
            drop = snaps[:-keep] if keep else snaps
            current = meta["current_snapshot_id"]
            dropped = 0
            remaining = []
            for s in snaps:
                if s in drop and s["snapshot_id"] != current:
                    shutil.rmtree(
                        os.path.join(self.root, table, s["path"]), ignore_errors=True
                    )
                    dropped += 1
                else:
                    remaining.append(s)
            meta["snapshots"] = remaining
            self._store_meta(table, meta)
            # orphan sweep (Iceberg remove-orphan-files style): a commit
            # whose driver died mid-write leaves a snap-pending-* dir no
            # metadata references. A pending dir can also belong to a
            # commit in flight RIGHT NOW (parquet write happens outside
            # the meta lock), so only sweep dirs quiet past the grace
            # window — an active writer keeps bumping the dir mtime.
            table_dir = os.path.join(self.root, table)
            for d in os.listdir(table_dir):
                if not d.startswith("snap-pending-"):
                    continue
                path = os.path.join(table_dir, d)
                try:
                    quiet_s = time.time() - os.path.getmtime(path)
                except OSError:
                    continue  # raced with the owner's own rename/cleanup
                if quiet_s >= pending_grace_s:
                    shutil.rmtree(path, ignore_errors=True)
        return dropped
