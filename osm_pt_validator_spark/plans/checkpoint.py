"""Per-stage checkpoint / resume; each stage is one write with lineage.

North-rule requirement: 10^12-doc jobs must be resumable from
checkpoints with lineage. The unit of resume is a STAGE (a materialised
intermediate table). A stage is committed by its manifest
(`<stage>__manifest.json`), written atomically after the parquet write;
a committed stage is never recomputed — `run_stage` short-circuits to a
scan. The manifest records the rows and the order-insensitive checksum
of what was sent to the writer, observed on the write itself, so a
resumed run can be audited against the original (`verify_lineage`).

On a real deployment the checkpoint root is an Iceberg/S3 prefix; the
mechanism below is pure Spark API and works identically on local paths.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _stage_path(root: str, stage: str) -> str:
    return os.path.join(root, stage)


def _manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, f"{stage}__manifest.json")


def stage_complete(root: str, stage: str) -> bool:
    """Committed (manifest written) and its data still on disk."""
    return os.path.exists(_manifest_path(root, stage)) and os.path.exists(
        os.path.join(_stage_path(root, stage), "_SUCCESS")
    )


def _digest(df: DataFrame) -> tuple[Column, Column]:
    """(rows, checksum) aggregates over df. The checksum is an
    order-insensitive XOR of xxhash64 over all columns: stable under row
    order and partitioning, sensitive to any value change, and
    overflow-free under ANSI mode. NULL over zero rows."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    return F.count(F.lit(1)).alias("rows"), F.bit_xor(h).alias("checksum")


def compute_lineage(df: DataFrame) -> DataFrame:
    """(partition_id, rows, checksum): the digest per input partition."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(*_digest(df))


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    df_fn: Callable[[], DataFrame],
) -> DataFrame:
    """Compute-or-resume a stage.

    * resume: committed (see stage_complete) -> return the materialised scan
      (no recompute; downstream stages read columnar parquet with
      pushdown intact).
    * compute: materialise df_fn() to parquet in one write that also
      observes its rows and checksum, then commit the manifest
      (wall time, rows, checksum).
    """
    path = _stage_path(root, stage)
    if stage_complete(root, stage):
        return spark.read.parquet(path)

    manifest_path = _manifest_path(root, stage)
    if os.path.exists(manifest_path):  # its data went missing: uncommit first
        os.remove(manifest_path)
    t0 = time.time()
    df = df_fn()
    obs = Observation()
    df.observe(obs, *_digest(df)).write.mode("overwrite").parquet(path)
    manifest = {"stage": stage, "seconds": round(time.time() - t0, 3), **obs.get}
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(manifest_path + ".tmp", manifest_path)
    return spark.read.parquet(path)


def stage_manifests(root: str) -> dict[str, dict]:
    """The stage manifests run_stage wrote under root, by stage name:
    {"stage", "seconds", "rows", "checksum"} each. Plain file reads, no
    Spark job."""
    out = {}
    for fn in sorted(os.listdir(root)):
        if fn.endswith("__manifest.json"):
            with open(os.path.join(root, fn)) as f:
                m = json.load(f)
            out[m["stage"]] = m
    return out


def verify_lineage(spark: SparkSession, root: str, stage: str) -> bool:
    """Audit a materialised stage against its manifest: the rows and the
    checksum of the stage on disk must equal those observed on its write
    (order-insensitive, so partition boundaries may differ)."""
    df = spark.read.parquet(_stage_path(root, stage))
    cur = df.agg(*_digest(df)).first()
    with open(_manifest_path(root, stage)) as f:
        rec = json.load(f)
    return (cur.rows, cur.checksum) == (rec["rows"], rec["checksum"])
