"""Iceberg-shaped table layer: Parquet directories + snapshot manifests.

No Iceberg/Delta runtime jars ship in this sandbox (checked: pyspark/jars),
so tables are plain Parquet directories fronted by a thin manifest layer that
carries what the north rule asks of each snapshot: lineage (parent snapshot,
input identifiers, config hash) and metrics (row/term counts). On a cluster
with the Iceberg runtime, `write` maps 1:1 onto
``df.writeTo(name).createOrReplace()`` + snapshot summary properties — the
seam is this module only.

Checkpointed (resumable) writes: ``ChunkedWriter`` splits a job into
deterministic chunks keyed by a stable hash column; each completed chunk
directory gets a ``_MANIFEST.json`` recording its input fingerprint. A
re-run skips chunks whose manifest matches — idempotent, partition-level
resume (the Spark-native replacement for the reference's resume-by-rowcount
at nlp/11_build_product_embeddings.py:130-137, which is unsound under
reordering).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def _config_hash(obj: Any) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def _write_json_atomic(path: str, obj: Any) -> None:
    """Write ``obj`` as JSON to ``path`` through a hidden temp file in the
    same directory and ``os.replace``: readers see the old file or the
    new one, never torn JSON, even if the writer dies mid-write."""
    tmp = os.path.join(os.path.dirname(path),
                       f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=2)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def parquet_row_count_strict(path: str) -> int:
    """Row count from parquet footers — metadata-only, no data scan, any
    scale. RAISES on unreadable/missing paths: callers that feed the count
    into correctness-critical math (n_docs → idf/avgdl in the index build)
    must fail loudly rather than silently compute with 0."""
    import pyarrow.dataset as pa_ds
    ds = pa_ds.dataset(path, format="parquet", partitioning="hive")
    return sum(f.metadata.num_rows for f in ds.get_fragments())


def parquet_row_count(path: str) -> int:
    """Lenient variant for snapshot METRICS only (a missing/empty dir is a
    legitimate 0-row table there). Never use for values that drive scoring
    math — use ``parquet_row_count_strict``."""
    try:
        return parquet_row_count_strict(path)
    except Exception:  # noqa: BLE001 — missing/empty dir
        return 0


@dataclass
class TableIO:
    root: str

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _snapshot_dir(self, name: str) -> str:
        # manifests live BESIDE the data directory, not inside it: a
        # mode=overwrite data write replaces the whole table dir, and
        # manifests inside it would lose the snapshot history (caught by
        # tests/test_snapshots.py::test_snapshot_chain_order)
        return os.path.join(self.root, "_snapshots", name)

    def write(self, df: DataFrame, name: str, *, mode: str = "overwrite",
              partition_by: list[str] | None = None,
              lineage: dict[str, Any] | None = None,
              metrics: dict[str, Any] | None = None) -> str:
        """Write a table + snapshot manifest; returns the snapshot id."""
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))
        metrics = dict(metrics or {})
        metrics.setdefault("rows", parquet_row_count(self.path(name)))
        return self.commit_snapshot(name, lineage=lineage, metrics=metrics)

    def commit_snapshot(self, name: str, *, lineage: dict[str, Any] | None = None,
                        metrics: dict[str, Any] | None = None) -> str:
        snap_dir = self._snapshot_dir(name)
        os.makedirs(snap_dir, exist_ok=True)
        parent = self.current_snapshot(name)
        snap_id = uuid.uuid4().hex[:16]
        manifest = {
            "snapshot_id": snap_id,
            "parent_snapshot_id": parent.get("snapshot_id") if parent else None,
            "table": name,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "lineage": lineage or {},
            "metrics": metrics or {},
        }
        _write_json_atomic(os.path.join(snap_dir, f"{snap_id}.json"),
                           manifest)
        _write_json_atomic(os.path.join(snap_dir, "_current.json"), manifest)
        return snap_id

    def current_snapshot(self, name: str) -> dict[str, Any] | None:
        p = os.path.join(self._snapshot_dir(name), "_current.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self.path(name))

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    def drop(self, name: str) -> None:
        """Remove a table's data directory AND its snapshot manifests —
        for scratch/staging tables that are not part of a root's table
        contract (e.g. the delta-merge staging tables, dropped once the
        merged POSTINGS commit has landed). Iceberg analogue: DROP TABLE
        PURGE."""
        import shutil
        shutil.rmtree(self.path(name), ignore_errors=True)
        shutil.rmtree(self._snapshot_dir(name), ignore_errors=True)

    def snapshots(self, name: str) -> list[dict[str, Any]]:
        """All snapshot manifests for a table, oldest→newest by commit
        order (parent-chain walk from the current snapshot)."""
        cur = self.current_snapshot(name)
        by_id: dict[str, dict[str, Any]] = {}
        snap_dir = self._snapshot_dir(name)
        if os.path.isdir(snap_dir):
            for fn in os.listdir(snap_dir):
                if fn.startswith("_") or not fn.endswith(".json"):
                    continue
                with open(os.path.join(snap_dir, fn)) as f:
                    m = json.load(f)
                by_id[m["snapshot_id"]] = m
        chain: list[dict[str, Any]] = []
        seen: set[str] = set()
        while cur and cur["snapshot_id"] not in seen:
            seen.add(cur["snapshot_id"])
            chain.append(cur)
            parent = cur.get("parent_snapshot_id")
            cur = by_id.get(parent) if parent else None
        return list(reversed(chain))

    def expire_snapshots(self, name: str, keep_last: int = 10) -> int:
        """Manifest hygiene (the snapshot-expiry half of Iceberg's
        ``expireSnapshots``): drop manifest files older than the newest
        ``keep_last`` on the current chain, re-rooting the oldest kept
        manifest (parent → None). Data files are untouched — each write
        here replaces its table directory, so there are no orphaned data
        files to vacuum; on real Iceberg the runtime's expire handles
        both. Returns the number of manifests removed.

        ``keep_last`` must be ≥ 1: keeping zero snapshots would delete
        every manifest while ``_current.json`` still points at one
        (chain[-0:] is the WHOLE chain, so the old behavior re-wrote the
        oldest deleted manifest and left the catalog inconsistent)."""
        if keep_last < 1:
            raise ValueError(
                f"keep_last must be >= 1 (got {keep_last}): the current "
                "snapshot's manifest must survive expiry")
        chain = self.snapshots(name)
        keep = {m["snapshot_id"] for m in chain[-keep_last:]}
        snap_dir = self._snapshot_dir(name)
        removed = 0
        if not os.path.isdir(snap_dir):
            return 0
        for fn in os.listdir(snap_dir):
            if fn.startswith("_") or not fn.endswith(".json"):
                continue
            sid = fn[:-len(".json")]
            if sid not in keep:
                os.remove(os.path.join(snap_dir, fn))
                removed += 1
        if chain[-keep_last:]:
            oldest = chain[-keep_last:][0]
            if oldest.get("parent_snapshot_id") is not None:
                oldest = {**oldest, "parent_snapshot_id": None}
                _write_json_atomic(os.path.join(
                    snap_dir, f"{oldest['snapshot_id']}.json"), oldest)
        return removed


@dataclass
class ChunkedWriter:
    """Deterministic chunked, resumable writes for one table."""

    io: TableIO
    name: str
    n_chunks: int
    input_fingerprint: str  # stable id of the input (snapshot id / config hash)

    def chunk_dir(self, i: int) -> str:
        return os.path.join(self.io.path(self.name), f"chunk={i}")

    def chunk_manifest_path(self, i: int) -> str:
        return os.path.join(self.chunk_dir(i), "_MANIFEST.json")

    def chunk_done(self, i: int) -> bool:
        p = self.chunk_manifest_path(i)
        if not os.path.exists(p):
            return False
        with open(p) as f:
            m = json.load(f)
        return m.get("input_fingerprint") == self.input_fingerprint

    def write_chunk(self, df: DataFrame, i: int,
                    metrics: dict[str, Any] | None = None,
                    partition_by: list[str] | None = None) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.chunk_dir(i))
        m = dict(metrics or {})
        m.setdefault("rows", parquet_row_count(self.chunk_dir(i)))
        _write_json_atomic(self.chunk_manifest_path(i), {
            "chunk": i,
            "input_fingerprint": self.input_fingerprint,
            "metrics": m,
        })

    def pending_chunks(self) -> list[int]:
        return [i for i in range(self.n_chunks) if not self.chunk_done(i)]

    def clean_stale(self) -> None:
        """Remove chunk dirs that do not belong to this build: a different
        fingerprint (format/config change) or an index outside the current
        chunking layout — otherwise a table read would mix stale rows in."""
        import shutil
        root = self.io.path(self.name)
        if not os.path.isdir(root):
            return
        for entry in os.listdir(root):
            if not entry.startswith("chunk="):
                continue
            try:
                i = int(entry.split("=", 1)[1])
            except ValueError:
                continue
            if i >= self.n_chunks or not self.chunk_done(i):
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)

    def finalize(self, lineage: dict[str, Any] | None = None,
                 metrics: dict[str, Any] | None = None) -> str:
        chunk_metrics = []
        for i in range(self.n_chunks):
            with open(self.chunk_manifest_path(i)) as f:
                chunk_metrics.append(json.load(f).get("metrics", {}))
        agg = {"chunks": self.n_chunks,
               "rows": sum(m.get("rows", 0) for m in chunk_metrics)}
        agg.update(metrics or {})
        return self.io.commit_snapshot(
            self.name,
            lineage={**(lineage or {}), "input_fingerprint": self.input_fingerprint},
            metrics=agg)


def config_fingerprint(**kwargs: Any) -> str:
    return _config_hash(kwargs)
