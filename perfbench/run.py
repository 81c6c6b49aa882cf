"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload validate_routes --seed 1 \
        --seconds 1 --trace 0

Run from the repository root. The run generates its inputs from the
seed, builds a ``local[4]`` session the way the engine does
(``session.get_spark`` + ``ensure_py_files`` + one Arrow UDF call so the
Python workers are up), times the workload's job, checks every output
against the generator's ground truth and prints, as the last line of
stdout, ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, runs the job once untraced and then layer by layer
(see ``tracing.py``), and reports the per-layer metrics plus the tracing
overhead. Host context (spin probe, steal %) goes to stderr only.

Everything the run writes lives under ``.perfbench/`` in the checkout;
its scratch directory is removed when the run ends, the spans file of a
traced run is kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(1, ROOT)

CORES = 4
#: the metrics of an untraced run, (name, unit)
END_TO_END = (
    ("setup_s", "s"),
    ("job_s", "s"),
    ("work_rows_per_s", "1/s"),
    ("cpu_s", "s"),
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    # get_spark's own heap and tuning stay as they are: only where the
    # session writes, and with --trace the event log, are set here
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # event logs default to zstd, which Python cannot read here
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        })
    return conf


def setup(work: str, trace: bool):
    """Session as the engine builds it, plus one Arrow UDF call."""
    from pyspark.sql import functions as F

    from osm_pt_validator_spark.session import ensure_py_files, get_spark
    from osm_pt_validator_spark.sources.pages import extract_text_udf

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=CORES, extra_conf=session_conf(work, trace))
    t1 = time.perf_counter()
    ensure_py_files(spark)
    t2 = time.perf_counter()
    html = F.encode(F.format_string("<p>%d</p>", F.col("id")), "utf-8")
    spark.range(0, 4096, 1, CORES).select(
        F.count(extract_text_udf(html))
    ).collect()
    t3 = time.perf_counter()
    return spark, {
        "session.get_spark_s": t1 - t0,
        "session.ensure_py_files_s": t2 - t1,
        "session.worker_warm_s": t3 - t2,
        "setup_s": t3 - T_START,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        return
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_job(spark, wl, data: str, work: str, name: str):
    """Run the job once; returns (seconds, cpu seconds, peak MB, outputs)."""
    from proctree import PeakRss, tree_cpu_s

    pid = os.getpid()
    out_dir = os.path.join(work, name)
    spark.catalog.clearCache()
    cpu0 = tree_cpu_s(pid)
    with PeakRss(pid) as rss:
        t0 = time.perf_counter()
        out = wl.job(spark, data, out_dir)
        dt = time.perf_counter() - t0
    cpu = tree_cpu_s(pid) - cpu0
    shutil.rmtree(out_dir, ignore_errors=True)
    return dt, cpu, rss.peak_mb, out


def run(args, work: str) -> dict:
    from osm_pt_validator_spark.hostprobe import cpu_times, spin_probe, steal_pct

    import workloads

    wl = workloads.WORKLOADS[args.workload]
    host = {"spin_mops_before": spin_probe(0.3)}
    stat0 = cpu_times()

    spark, session = setup(work, bool(args.trace))
    try:
        log(f"setup {session['setup_s']:.3f} s")
        metrics, attempted, failed, traced = measure(spark, session, wl, args, work)
    finally:
        stop_session(spark)

    # host context only: stamps never adjust a metric
    host.update(spin_mops_after=spin_probe(0.3), steal_pct=steal_pct(stat0, cpu_times()))
    log("host " + json.dumps(host))
    if traced is not None:
        import tracing

        traced.host = host
        path = tracing.write_spans(
            traced, os.path.join(ROOT, ".perfbench", "traces"), args.workload, args.seed
        )
        log(f"spans written to {path}")
    log(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def measure(spark, session: dict, wl, args, work: str):
    """Generate, time the job, check it; with --trace, also the warm
    untraced job and the layer-by-layer run. Returns the metrics, the
    operations attempted and failed, and the trace (or None)."""
    data = os.path.join(work, "data")
    truth = wl.generate(data, args.seed)
    attempted = failed = 0

    def tally(checks):
        nonlocal attempted, failed
        for c in checks:
            attempted += 1
            if not c.ok:
                failed += 1
                log(f"CHECK FAILED {c.name}: {c.detail}")

    # one cold job: the first job of the process, as jobs.main runs
    # once per spark-submit, so its warm-up cost lands in job_s.
    # --seconds is accepted but does not repeat the job
    job_s, cpu_s, peak_mb, out = timed_job(spark, wl, data, work, "out")
    attempted += 1  # each job call is an operation, as is each check
    tally(wl.check(out, truth))
    tally(wl.spark_checks(spark, data))
    log(f"job {job_s:.3f} s, peak rss {peak_mb:.0f} MB")

    if not args.trace:
        values = {
            "setup_s": session["setup_s"],
            "job_s": job_s,
            "work_rows_per_s": wl.units(truth) / job_s,
            "cpu_s": cpu_s,
        }
        return {k: (values[k], u) for k, u in END_TO_END}, attempted, failed, None

    import tracing

    # the overhead baseline: the same job, untraced, as warm as the
    # layer-by-layer run that follows it
    warm_s, _cpu, _rss, warm_out = timed_job(spark, wl, data, work, "warm_out")
    attempted += 1
    tally(wl.check(warm_out, truth))
    traced = tracing.traced_run(spark, args.workload, data, work, truth, warm_s)
    tally(traced.checks)
    traced.job_peak_rss_mb = peak_mb
    stop_session(spark)  # flushes the event log
    metrics = tracing.layer_metrics(traced, session, work)
    return metrics, attempted + traced.attempted, failed + traced.failed, traced


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine must come from this checkout: without it, fail before
    # anything is printed to stdout
    if not os.path.isdir(os.path.join(ROOT, "osm_pt_validator_spark")):
        log(f"no osm_pt_validator_spark package in {ROOT}")
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Spark honours SPARK_LOCAL_DIRS over spark.local.dir; keep every
    # scratch file of the JVM and the workers inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # also for the launcher JVM spark-submit starts before the driver
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
