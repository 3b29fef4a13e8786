"""Snapshot / lineage / resume layer (north_rule).

Every pipeline stage writes its output as an immutable *snapshot* with a
manifest row per partition: ``(stage, snapshot_id, input_fingerprint,
partition, rows, wall_ms)``.  Re-running a stage whose
``(stage, input_fingerprint)`` already has a committed snapshot is a
metadata-only read — the Iceberg ``VERSION AS OF`` pattern.  Partial
failures leave no committed snapshot (write to ``_tmp`` then atomic
rename), so restart = recompute only uncommitted stages.

Catalog backend: the sandbox has no Iceberg runtime jar, so the store is
**partitioned Parquet + a JSONL manifest** implementing the same
snapshot contract behind an Iceberg-shaped API (``write → snapshot id``,
``read(version)``, ``history``).  On a cluster with Iceberg on the
classpath, ``IcebergStore`` (same interface) maps write→``writeTo(...)
.append()`` + ``snapshot_id``, read→``VERSION AS OF`` — a config
switch, not a code change (SURVEY.md §7.0).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.manifest_path = os.path.join(base_dir, "manifest.jsonl")

    # -- manifest ----------------------------------------------------------

    def _manifest(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def history(self, stage: str) -> list[dict]:
        return [m for m in self._manifest() if m["stage"] == stage]

    def latest(self, stage: str, fingerprint: str) -> dict | None:
        rows = [
            m for m in self.history(stage)
            if m["fingerprint"] == fingerprint and m["committed"]
        ]
        return rows[-1] if rows else None

    # -- snapshot write / read ----------------------------------------------

    def write(
        self,
        stage: str,
        df: DataFrame,
        fingerprint: str,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Materialize df as a committed snapshot; returns the manifest row."""
        snap_id = f"{int(time.time() * 1000)}_{uuid.uuid4().hex[:8]}"
        final = os.path.join(self.base, stage, snap_id)
        tmp = final + "._tmp"
        t0 = time.time()
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        wall_ms = int((time.time() - t0) * 1000)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.rename(tmp, final)  # commit point (atomic on one filesystem)

        # per-partition lineage: rows per parquet file/partition dir
        back = self.spark.read.parquet(final)
        from pyspark.sql import functions as F

        per_part = (
            back.groupBy(*partition_by).count().collect()
            if partition_by
            else [((), back.count())]
        )
        partitions = (
            [
                {"partition": {c: row[c] for c in partition_by}, "rows": row["count"]}
                for row in per_part
            ]
            if partition_by
            else [{"partition": {}, "rows": per_part[0][1]}]
        )
        entry = {
            "stage": stage,
            "snapshot_id": snap_id,
            "fingerprint": fingerprint,
            "path": final,
            "rows": int(sum(p["rows"] for p in partitions)),
            "partitions": partitions,
            "wall_ms": wall_ms,
            "committed": True,
            "ts": time.time(),
        }
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(entry) + "\n")
        return entry

    def read(self, stage: str, snapshot_id: str | None = None) -> DataFrame:
        """Read a snapshot (latest committed if id omitted) —
        ``VERSION AS OF`` semantics."""
        rows = [m for m in self.history(stage) if m["committed"]]
        if snapshot_id is not None:
            rows = [m for m in rows if m["snapshot_id"] == snapshot_id]
        if not rows:
            raise FileNotFoundError(f"no committed snapshot for stage {stage}")
        return self.spark.read.parquet(rows[-1]["path"])

    def drop(self, stage: str) -> None:
        """Remove a stage's snapshots (test/GC helper); manifest rows are
        rewritten without them."""
        keep = [m for m in self._manifest() if m["stage"] != stage]
        with open(self.manifest_path, "w") as f:
            for m in keep:
                f.write(json.dumps(m) + "\n")
        shutil.rmtree(os.path.join(self.base, stage), ignore_errors=True)


class Pipeline:
    """Resumable stage chain over a SnapshotStore.

    ``run_stage(name, fingerprint, build_fn)``: if a committed snapshot
    for (name, fingerprint) exists, return it (no recompute — the
    restart path); else build, snapshot, return.  ``stats`` records
    which path each stage took plus rows/latency (the north_rule
    metrics surface; bench dumps it next to BENCH_r{N}.json).
    """

    def __init__(self, store: SnapshotStore):
        self.store = store
        self.stats: list[dict] = []

    def run_stage(
        self,
        name: str,
        fingerprint: str,
        build_fn,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        hit = self.store.latest(name, fingerprint)
        if hit is not None:
            self.stats.append(
                {"stage": name, "resumed": True, "rows": hit["rows"], "wall_ms": 0}
            )
            return self.store.read(name, hit["snapshot_id"])
        entry = self.store.write(name, build_fn(), fingerprint, partition_by)
        self.stats.append(
            {
                "stage": name,
                "resumed": False,
                "rows": entry["rows"],
                "wall_ms": entry["wall_ms"],
            }
        )
        return self.store.read(name, entry["snapshot_id"])

    def dump_stats(self, run_name: str, out_dir: str = "BENCH") -> str:
        """Persist the per-stage rows/latency record (north_rule metrics
        surface) as one JSON file via engine.metrics.StageMetrics."""
        from .metrics import StageMetrics

        m = StageMetrics(run_name, out_dir)
        m.stages = list(self.stats)
        return m.dump()

