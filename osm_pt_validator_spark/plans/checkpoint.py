"""Per-stage checkpoint / resume with per-partition lineage + metrics.

North-rule requirement: 10^12-doc jobs must be resumable from
checkpoints with lineage. The unit of resume is a STAGE (a materialised
intermediate table): a stage whose `_SUCCESS` marker exists is never
recomputed — `run_stage` short-circuits to a scan. Within a stage,
lineage records per-partition row counts and order-insensitive
checksums, so a resumed run can be audited against the original
(`verify_lineage`).

On a real deployment the checkpoint root is an Iceberg/S3 prefix; the
mechanism below is pure Spark API and works identically on local paths.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _lineage_path(root: str, stage: str) -> str:
    return os.path.join(root, f"{stage}__lineage")


def _stage_path(root: str, stage: str) -> str:
    return os.path.join(root, stage)


def stage_complete(root: str, stage: str) -> bool:
    return os.path.exists(os.path.join(_stage_path(root, stage), "_SUCCESS"))


def compute_lineage(df: DataFrame) -> DataFrame:
    """(partition_id, rows, checksum) — checksum is an order-insensitive
    XOR of xxhash64 over all columns: stable under row order, sensitive
    to any value change, and overflow-free under ANSI mode."""
    cols = [F.col(c).cast("string") for c in df.columns]
    return (
        df.select(
            F.spark_partition_id().alias("partition_id"),
            F.xxhash64(*cols).alias("h"),
        )
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor("h").alias("checksum"),
        )
    )


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    df_fn: Callable[[], DataFrame],
) -> DataFrame:
    """Compute-or-resume a stage.

    * resume: `_SUCCESS` present -> return the materialised scan
      (no recompute; downstream stages read columnar parquet with
      pushdown intact).
    * compute: materialise df_fn() to parquet, record lineage (per
      partition) and a manifest (wall time, row count).
    """
    path = _stage_path(root, stage)
    if stage_complete(root, stage):
        return spark.read.parquet(path)

    t0 = time.time()
    df = df_fn()
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)

    lineage = compute_lineage(out)
    lineage.write.mode("overwrite").parquet(_lineage_path(root, stage))

    manifest = {
        "stage": stage,
        "seconds": round(time.time() - t0, 3),
        "rows": out.count(),
    }
    with open(os.path.join(root, f"{stage}__manifest.json"), "w") as f:
        json.dump(manifest, f)
    return out


def stage_metrics(spark: SparkSession, root: str) -> DataFrame:
    """The run's metrics table: one row per completed stage (name, wall
    seconds, output rows) assembled from the stage manifests. On a real
    deployment this is the table an orchestrator reads to spot the slow
    stage of a resumed 10^12-doc job."""
    rows = []
    for fn in sorted(os.listdir(root)):
        if fn.endswith("__manifest.json"):
            with open(os.path.join(root, fn)) as f:
                m = json.load(f)
            rows.append((m["stage"], float(m["seconds"]), int(m["rows"])))
    return spark.createDataFrame(rows, "stage string, seconds double, rows long")


def verify_lineage(spark: SparkSession, root: str, stage: str) -> bool:
    """Audit a materialised stage against its recorded lineage: total
    rows and the global checksum must match (partition boundaries may
    differ after a re-read, so compare the order-insensitive totals)."""
    df = spark.read.parquet(_stage_path(root, stage))
    recorded = spark.read.parquet(_lineage_path(root, stage))
    cur = compute_lineage(df).agg(
        F.sum("rows").alias("rows"), F.bit_xor("checksum").alias("checksum")
    ).collect()[0]
    rec = recorded.agg(
        F.sum("rows").alias("rows"), F.bit_xor("checksum").alias("checksum")
    ).collect()[0]
    return (cur.rows, cur.checksum) == (rec.rows, rec.checksum)
