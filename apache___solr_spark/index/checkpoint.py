"""Per-stage checkpoint manifests: resume + lineage + metrics.

Stands in for the reference's transaction-log / commit machinery
(solr/core/src/java/org/apache/solr/update/UpdateLog.java:105,
CommitTracker.java:47) in a batch-Spark world: every build stage writes its
output to parquet and then atomically publishes a ``_MANIFEST.json`` carrying
the config digest, input fingerprint, row count, per-partition lineage and
wall time.  A re-run with the same config + input skips completed stages
(north_rule: resumable from per-partition checkpoints with lineage and
metrics).  Atomicity: manifest written to a temp name then os.replace.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

MANIFEST_NAME = "_MANIFEST.json"


def manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, MANIFEST_NAME)


def load_manifest(stage_dir: str) -> dict | None:
    p = manifest_path(stage_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def stage_complete(stage_dir: str, config_digest: str, input_digest: str) -> bool:
    m = load_manifest(stage_dir)
    return (
        m is not None
        and m.get("config_digest") == config_digest
        and m.get("input_digest") == input_digest
    )


def publish_manifest(
    stage_dir: str,
    *,
    stage: str,
    config_digest: str,
    input_digest: str,
    rows: int,
    partitions: list[dict[str, Any]] | None = None,
    started_at: float,
) -> None:
    m = {
        "stage": stage,
        "config_digest": config_digest,
        "input_digest": input_digest,
        "rows": rows,
        "partitions": partitions or [],
        "wall_sec": round(time.time() - started_at, 3),
    }
    tmp = manifest_path(stage_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.replace(tmp, manifest_path(stage_dir))


def partition_lineage(df) -> list[dict[str, Any]]:
    """Per-output-partition row counts (lineage/metrics for the manifest)."""
    from pyspark.sql import functions as F

    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .orderBy("pid")
        .collect()
    )
    return [{"partition": r["pid"], "rows": r["count"]} for r in rows]


def parquet_lineage(stage_dir: str) -> list[dict[str, Any]]:
    """Per-output-file row counts straight from parquet footers — no Spark
    job (each written file is one task's output, so this IS the partition
    lineage, captured for free on the driver).

    Footers are read on a thread pool: the bucket-partitioned postings
    stage writes O(tasks x buckets) files (2k+ at local[32]), and a serial
    footer loop was measurable driver-side FIXED cost right after the
    build's largest stage — the kind of per-file driver work that grows
    with cluster size and eats the N->4N scaling number."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    paths = []
    for root, _dirs, files in os.walk(stage_dir):
        for f in sorted(files):
            if f.endswith(".parquet"):
                paths.append(os.path.join(root, f))

    def one(full: str) -> dict[str, Any]:
        return {
            "file": os.path.relpath(full, stage_dir),
            "rows": pq.ParquetFile(full).metadata.num_rows,
        }

    if len(paths) <= 4:
        return [one(p) for p in paths]
    with ThreadPoolExecutor(max_workers=16) as ex:
        return list(ex.map(one, paths))
