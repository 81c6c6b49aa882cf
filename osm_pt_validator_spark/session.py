"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` single-JVM; the conf below is chosen so
the same code runs unchanged on a multi-executor cluster:

  * AQE on — runtime coalescing of shuffle partitions + skew-join
    splitting (our explicit salting in ``spatial/joins.py`` handles the
    pathological cell-skew AQE cannot see ahead of time).
  * Arrow on — every Python boundary in this engine is Arrow-batched.
  * ``spark.sql.shuffle.partitions`` scales with parallelism instead of
    the static 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the CPUs this
    process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "osm-pt-validator-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to :func:`default_cores`.
    On a real cluster this function is still usable: ``master`` is only
    forced when no master is configured.
    """
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        # one-ish shuffle partition per core locally; on a cluster this
        # would be ~2-3x total cores — callers override.
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # join-strategy ladder WITHOUT per-site hints (a SHUFFLE_HASH
        # hint is resolved before size-based broadcast selection, so it
        # FORCES SHJ and forgoes the zero-shuffle broadcast plan even
        # for a 10-row dim): tiny build -> broadcast; partition-small
        # build -> shuffled hash (this flag, skipping sort-merge's two
        # sorts — measured win for the map/array-heavy ways & nodes
        # dims); huge build -> sort-merge, the only spill-safe choice.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # static SHJ selection needs trustworthy build-side stats, which
        # in-memory/synthesized relations don't have — let AQE convert
        # SMJ -> SHJ at runtime from MEASURED per-partition build sizes
        # (off by default). 128 MiB per partition hashes comfortably in
        # executor memory; bigger builds stay sort-merge (spill-safe).
        .config(
            "spark.sql.adaptive.shuffledHashJoinLocalMapThreshold",
            str(128 * 1024 * 1024),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER") and "spark.master" not in os.environ:
        builder = builder.master(f"local[{cores}]")
    else:  # pragma: no cover - cluster path
        builder = builder.master(os.environ.get("SPARK_MASTER", "local[*]"))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_py_files(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers.

    Arrow-batched UDFs (`applyInPandas`, `pandas_udf`) unpickle by
    module reference, so executors must be able to import
    ``osm_pt_validator_spark`` — true automatically under
    ``spark-submit --py-files``, but not when a driver script runs from
    an arbitrary cwd. Idempotently zip the package and addPyFile it.
    """
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # already imported from an archive (spark-submit --py-files):
        # the zip is on every node's path; nothing to build or ship
        return
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(root, ".osm_pt_validator_spark.zip")
    sources = []
    for dirpath, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                sources.append(os.path.join(dirpath, fn))
    # A stale zip silently shadows the live source on executors
    # (unpickling then fails with "Can't get attribute ..."), so rebuild
    # whenever any module is newer than the archive.
    stale = not os.path.exists(zpath) or any(
        os.path.getmtime(p) >= os.path.getmtime(zpath) for p in sources
    )
    if stale:
        # per-process tmp name: concurrent rebuilders must not
        # interleave writes into one shared tmp file (os.replace is
        # atomic, but a shared tmp's CONTENTS aren't protected)
        tmp = f"{zpath}.{os.getpid()}.tmp"
        try:
            with zipfile.ZipFile(tmp, "w") as z:
                for full in sorted(sources):
                    z.write(full, os.path.relpath(full, root))
            os.replace(tmp, zpath)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    spark.sparkContext.addPyFile(zpath)
