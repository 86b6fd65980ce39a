"""Per-stage, per-partition lineage metrics (north rule: checkpointed
lineage + metrics so any stage is resumable and auditable).

Each pipeline stage leaves a metrics artifact:
(stage, partition files, bytes per file, wall_ms, config_hash) — file-
granular so skew is visible in the metrics themselves (a hot LSH band
shows up as one output file 100x the median).

Scale notes:
- the histogram is derived from the checkpoint parquet's FILE METADATA
  driver-side (one Hadoop listStatus), not from a second Spark
  aggregation over the stage output — round-1 measured the per-stage
  metrics job as part of the fixed latency that capped scaling
  efficiency.
- every filesystem touch goes through the Hadoop FS API (fsutil), so
  metrics land next to the checkpoints wherever out_dir lives
  (file://, hdfs://, s3a://), matching the Checkpointer."""

from __future__ import annotations

import json
import time

from pyspark.sql import SparkSession

from .. import fsutil


def file_histogram(spark: SparkSession, path: str) -> list[dict[str, object]]:
    """Per-output-file byte sizes of a materialized stage directory."""
    return [
        {"file": name, "bytes": size}
        for name, size in fsutil.list_files(spark, path)
        if not name.startswith(("_", "."))
    ]


class MetricsCollector:
    def __init__(self, spark: SparkSession, out_dir: str, config_hash: str):
        self.spark = spark
        self.out_dir = out_dir
        self.config_hash = config_hash
        self._t0: dict[str, float] = {}
        self.summary: dict[str, object] = {"config_hash": config_hash}

    def finish(self, stage: str, checkpoint_path: str) -> None:
        """Record wall time + the file-size histogram of the (already
        materialized) stage checkpoint. Driver-side only — no Spark job."""
        wall_ms = int((time.time() - self._t0.get(stage, time.time())) * 1000)
        files = file_histogram(self.spark, checkpoint_path)
        record = {
            "stage": stage,
            "wall_ms": wall_ms,
            "config_hash": self.config_hash,
            "n_files": len(files),
            "total_bytes": sum(f["bytes"] for f in files),
            "max_file_bytes": max((f["bytes"] for f in files), default=0),
            "files": files,
        }
        # `.json` suffix avoids colliding with round-1 runs that left
        # parquet DIRECTORIES at metrics/<stage>; if such a legacy
        # directory exists (resumed out_dir), clear it so the recompute
        # can't die on a directory-in-the-way error.
        path = fsutil.urljoin(self.out_dir, "metrics", f"{stage}.json")
        legacy = fsutil.urljoin(self.out_dir, "metrics", stage)
        if fsutil.is_dir(self.spark, legacy):
            fsutil.delete(self.spark, legacy, recursive=True)
        fsutil.write_text(self.spark, path, json.dumps(record, indent=2))
        self.summary[f"{stage}_wall_ms"] = wall_ms

    def start(self, stage: str) -> None:
        self._t0[stage] = time.time()

    def add(self, **kv: object) -> None:
        self.summary.update(kv)

    def write_summary(self) -> str:
        path = fsutil.urljoin(self.out_dir, "metrics", "summary.json")
        fsutil.write_text(
            self.spark,
            path,
            json.dumps(self.summary, indent=2, sort_keys=True, default=str),
        )
        return path
