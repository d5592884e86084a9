"""Snapshot-committed parquet tables with manifests and lineage.

An Iceberg-style (snapshot + manifest) table implemented over plain
parquet, so it needs no Iceberg runtime or catalog. The layout keeps
Iceberg's guarantees that matter for the north rule — atomic commits,
snapshot isolation for readers, and resume bookkeeping.

Layout:
  <root>/data/<snapshot_id>/part-*.parquet      (immutable data files)
  <root>/lineage/<snapshot_id>/part-*.parquet   (per-bucket lineage)
  <root>/_manifests/manifest-<n>.json           (atomic commit records)

A manifest lists the snapshot directories of ALL data committed so
far plus the set of completed input buckets; readers only see
manifest-committed snapshots, so a killed job never exposes partial
output and a restart resumes from `completed_buckets`.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, "_manifests")

    # -- manifest bookkeeping ------------------------------------------------

    def _manifest_paths(self) -> list[str]:
        if not os.path.isdir(self.manifest_dir):
            return []
        names = [n for n in os.listdir(self.manifest_dir) if n.startswith("manifest-")]
        return [
            os.path.join(self.manifest_dir, n)
            for n in sorted(names, key=lambda n: int(n.split("-")[1].split(".")[0]))
        ]

    def latest_manifest(self) -> dict | None:
        paths = self._manifest_paths()
        if not paths:
            return None
        with open(paths[-1], encoding="utf-8") as fh:
            return json.load(fh)

    def completed_buckets(self) -> set:
        manifest = self.latest_manifest()
        return set(manifest["completed_buckets"]) if manifest else set()

    # -- commits --------------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        buckets: list,
        lineage: DataFrame | None = None,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Write df as a new snapshot and atomically commit a manifest
        marking ``buckets`` complete. Crash before the manifest rename
        leaves the table at the previous snapshot (data dir is orphaned,
        never read)."""
        snapshot_id = f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        data_dir = os.path.join(self.root, "data", snapshot_id)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)

        lineage_dir = None
        if lineage is not None:
            lineage_dir = os.path.join(self.root, "lineage", snapshot_id)
            lineage.write.mode("overwrite").parquet(lineage_dir)

        previous = self.latest_manifest()
        manifest = {
            "sequence": (previous["sequence"] + 1) if previous else 0,
            "snapshot_id": snapshot_id,
            "data_dirs": (previous["data_dirs"] if previous else []) + [data_dir],
            "lineage_dirs": (previous["lineage_dirs"] if previous else [])
            + ([lineage_dir] if lineage_dir else []),
            "completed_buckets": sorted(
                set(previous["completed_buckets"] if previous else []) | set(buckets)
            ),
            "committed_at": time.time(),
        }
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
        final = os.path.join(self.manifest_dir, f"manifest-{manifest['sequence']}.json")
        os.rename(tmp, final)  # atomic commit point
        return manifest

    # -- reads ----------------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame | None:
        manifest = self.latest_manifest()
        if not manifest or not manifest["data_dirs"]:
            return None
        # one read per snapshot dir: each is its own partitioned layout,
        # and a multi-root read would fail partition discovery
        df = None
        for data_dir in manifest["data_dirs"]:
            part = spark.read.parquet(data_dir)
            df = part if df is None else df.unionByName(part, allowMissingColumns=True)
        return df

    def read_lineage(self, spark: SparkSession) -> DataFrame | None:
        manifest = self.latest_manifest()
        if not manifest or not manifest["lineage_dirs"]:
            return None
        return spark.read.parquet(*manifest["lineage_dirs"])


def write_bucketed(
    df: DataFrame, name: str, path: str, bucket_col: str = "subject",
    buckets: int = 8,
) -> None:
    """Materialize ``df`` as a BUCKETED (and bucket-sorted) parquet
    table: rows are hash-partitioned into ``buckets`` files by
    ``bucket_col`` at WRITE time, and the catalog records the layout —
    so every later equi-join or aggregation on ``bucket_col`` between
    co-bucketed tables runs WITHOUT a shuffle (the Exchange disappears
    from the plan; plan-gated in tests/test_plans.py). This is the
    co-located-join strategy a 100-TB triple store wants for its
    subject-keyed triple/adjacency tables: pay one partitioning at
    ingest, reuse it across every downstream join.

    Uses ``option(path)`` so data lands under the caller's directory;
    the table name lives in the session catalog (in-memory here; a
    Hive/Iceberg catalog in production)."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .format("parquet")
        .saveAsTable(name)
    )
