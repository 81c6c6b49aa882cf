"""Scaling-efficiency evidence (BASELINE.md protocol).

Runs ONE compute-dominated end-to-end job — synthesize N pages ->
G1 text extraction -> G2 mention parse -> cell assignment -> salted
cell join vs a stops dim -> tile heatmap, PLUS validator pipeline over
M synthetic relations — at two parallelism levels (N and 4N cores) and
reports throughput at each plus scaling efficiency E = (T_N / T_4N) / 4.

Sandbox reality this protocol is designed around: the VM advertises 32
vCPUs but is a multi-tenant guest whose deliverable CPU fluctuates on a
scale of minutes (single-threaded spin throughput varies ~1.8x between
windows; at 32-way load, /proc/stat shows double-digit %steal in bad
windows). Two consequences:

  * trials at the two levels are INTERLEAVED (4N, N, 4N, N, ...) and
    each level takes its BEST trial — best-of approximates the
    uncontended capacity at that level and cancels slow host windows;
  * the primary pair is N=2 vs 4N=8 cores (both well under the host's
    sustained ~0.6-0.75x-of-32 capacity), with 8 vs 32 reported as a
    secondary, host-capped figure. The driver instruction allows any
    "N and 4N cores" pair.

Each worker process is single-threaded numpy/pandas (Arrow batches);
the job is embarrassingly parallel by construction: deterministic
seeded input (identical at both levels), Arrow-batched Python
(extraction, automaton) and JVM joins/aggregations, no driver loops.

Probe gating (round 3): each trial pair is bracketed by single-thread
spin probes (hostprobe.spin_probe); only pairs whose probes agree
within 10% count toward the recorded efficiency — the host delivered
the same capacity to both halves, so the ratio measures the engine.
The emitted JSON carries every pair's probes and per-pair E, plus the
basis used (probe-stable pair vs best-of-level fallback).

Gate statistic v2.1 (round 4): the round-3 in-leg gate compared the
MIN and MAX of ~60 one-second sidecar samples — extreme order
statistics of a noisy per-second series, which never passed (spreads
0.27-0.43) even in windows where the bracket probes and the leg times
themselves were flat. The phenomenon the in-leg gate exists to catch
is MULTI-MINUTE sag (an 8-core leg swinging 39 -> 57 s inside one
run), not per-second scheduler jitter, so v2.1 gates on the spread of
~50-second WINDOW MEANS of the same samples (raw samples still
recorded). Sag on the scale that moves a leg time shows up in the
window means; second-scale jitter averages out.

Job size v2.1: at 4M pages / 600k relations the measured legs carry a
~8-16 s driver-serial component (Catalyst planning + action setup,
identical at both levels), which caps measurable E at ~0.75 even for
a perfectly parallel engine. The default job is now 6x larger
(24M pages / 3.6M relations), putting >90% of each leg in the
data-parallel region — the regime the 10^12-document north rule
describes, where per-job planning cost is amortized to nothing.
Warmup is a 1/8-size pass (python-worker imports, JIT, shuffle
buffers) instead of a full-size first iteration.

Each leg is pinned to CPUs [0, cpus). The run exits with an error when
the 4N leg's CPUs are not all usable by this process (Linux would
accept the mask and silently run the "4N" leg on fewer cores). The
in-leg sidecar probe runs on the two highest usable CPUs outside
[0, 4N); when fewer than two are free the legs run without it and the
JSON ``basis`` says so.

Usage:
    python scaling_bench.py                # primary pair (2, 8), 3 pairs
    SPARK_GRAFT_SCALE_PAIR=1,4 python scaling_bench.py   # 4-CPU host
    SPARK_GRAFT_SCALE_PAIR=8,32 python scaling_bench.py
    SPARK_GRAFT_SCALE_TRIALS=4 python scaling_bench.py

Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))

N_PAGES = int(os.environ.get("SPARK_GRAFT_SCALE_PAGES", 24_000_000))
N_RELS = int(os.environ.get("SPARK_GRAFT_SCALE_RELS", 3_600_000))
N_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SCALE_PARTITIONS", 64))
#: in-leg gate window: mean of this many sidecar samples (~50 s wall at
#: the 2s-sample + 3s-wait cadence); spread is over these window means
PROBE_WINDOW = int(os.environ.get("SPARK_GRAFT_SCALE_PROBE_WINDOW", 10))


def sidecar_cores(n4_cpus: int, allowed: set[int]) -> tuple[int, ...] | None:
    """The CPUs of the in-leg sidecar probe: the two highest of
    ``allowed`` (the CPUs this process may use) outside the 4N leg's
    pin mask [0, n4_cpus), or None when fewer than two are free.

    Raises ValueError when the 4N leg asks for a CPU outside ``allowed``.
    """
    legs = set(range(n4_cpus))
    if not legs <= allowed:
        raise ValueError(
            f"the {n4_cpus}-CPU leg needs CPUs 0-{n4_cpus - 1}, but this process "
            f"may use only {sorted(allowed)}; set SPARK_GRAFT_SCALE_PAIR"
        )
    spare = sorted(allowed - legs)
    return tuple(spare[-2:]) if len(spare) >= 2 else None


def _run_level(cpus: int) -> dict:
    """One trial at `cpus` cores, in a fresh JVM (cold caches each trial
    so levels are comparable).

    The process tree is PINNED to exactly `cpus` CPUs
    (sched_setaffinity, inherited by the JVM and every Python worker).
    Without pinning, local[N] on a 32-core box is not an N-core
    machine — JVM GC/netty/shuffle threads and Arrow serialization run
    on idle cores, which inflates small-N throughput and understates
    scaling efficiency.
    """
    out = subprocess.run(
        [sys.executable, __file__, "--worker", str(cpus)],
        capture_output=True,
        text=True,
        cwd=_REPO,
        env={
            **os.environ,
            "SPARK_GRAFT_CPUS": str(cpus),
            # the single local JVM hosts every concurrent ShuffledHashJoin
            # build; 8g leaves the 600k-relation ways build short of its
            # 512MB acquisitions under 64-partition x N-task concurrency
            "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        },
        preexec_fn=lambda: os.sched_setaffinity(0, range(cpus)),
        timeout=2700,
    )
    # a worker that printed its JSON but then crashed (e.g. during
    # spark.stop) must NOT count as a valid trial
    if out.returncode != 0:
        raise RuntimeError(
            f"worker exited {out.returncode} at cpus={cpus}: {out.stderr[-2000:]}"
        )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"worker failed at cpus={cpus}: {out.stderr[-2000:]}")



def _run_level_probed(cpus: int, off_cores: tuple[int, ...] | None) -> dict:
    """_run_level plus a CONCURRENT sidecar probe: while the pinned job
    runs on cores [0, cpus), a sampler thread pins THIS process to two
    spare high cores and samples 1-second 2-way capacity every ~5 s.
    With ``off_cores`` None there is no sidecar (no samples, spread None).
    The 2026-08-18 runs showed why brackets are not enough: 8-way
    bracket probes can agree within 4% while the 8-core leg itself
    swings 39 -> 57 s — multi-minute host sag INSIDE a leg that only a
    concurrent sampler can see. Per-leg spread joins the pair gate.
    """
    import threading

    from osm_pt_validator_spark.hostprobe import parallel_probe

    samples: list[float] = []
    stop = threading.Event()
    full = os.sched_getaffinity(0)

    def sampler() -> None:
        try:
            os.sched_setaffinity(0, set(off_cores))
            while not stop.is_set():
                samples.append(parallel_probe(len(off_cores), seconds=2.0))
                stop.wait(3.0)
        finally:
            os.sched_setaffinity(0, full)

    t = threading.Thread(target=sampler, daemon=True)
    if off_cores:
        t.start()
    try:
        r = _run_level(cpus)
    finally:
        stop.set()
        if off_cores:
            t.join()
    r["leg_probes_mops"] = [round(x, 1) for x in samples]
    # sustained-capacity estimate: mean of each PROBE_WINDOW-sample
    # window (~50 s wall); a trailing window shorter than half the
    # nominal size is folded into its predecessor rather than letting a
    # 1-2 sample stub masquerade as a window mean
    means: list[float] = []
    for i in range(0, len(samples), PROBE_WINDOW):
        w = samples[i : i + PROBE_WINDOW]
        if means and len(w) < PROBE_WINDOW // 2:
            prev = samples[i - PROBE_WINDOW : i + len(w)]
            means[-1] = sum(prev) / len(prev)
        else:
            means.append(sum(w) / len(w))
    r["leg_probe_window_means"] = [round(x, 1) for x in means]
    r["leg_probe_spread"] = (
        round((max(means) - min(means)) / max(means), 3)
        if len(means) >= 2
        else None
    )
    return r


def worker(cpus: int) -> None:
    sys.path.insert(0, _REPO)
    from pyspark.sql import functions as F

    from osm_pt_validator_spark.session import ensure_py_files, get_spark

    spark = get_spark(
        # Partitioning is FIXED across parallelism levels (as on a real
        # cluster: same dataset + partition spec, more executors), so
        # both levels execute the identical plan and per-partition fixed
        # costs don't masquerade as poor scaling.
        f"scaling-bench-{cpus}", cores=cpus, shuffle_partitions=N_PARTITIONS
    )
    ensure_py_files(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).select(F.sum("id")).collect()  # warm JVM + a py worker

    from osm_pt_validator_spark.functions.geo import cell
    from osm_pt_validator_spark.sources.pages import extract_mentions
    from osm_pt_validator_spark.spatial.joins import salted_equi_join
    from osm_pt_validator_spark.spatial.tiles import failure_heatmap

    pid = F.col("id")

    def build_pages(n_pages: int):
        return (
        spark.range(0, n_pages, 1, numPartitions=N_PARTITIONS)
        .select(
            F.format_string("https://pages.example.org/p/%d", pid).alias("url"),
            F.encode(
                F.format_string(
                    "<html><head><title>page %d</title></head><body>"
                    "<p>Lorem ipsum dolor sit amet %d consectetur adipiscing "
                    "elit %d sed do eiusmod tempor incididunt ut labore.</p>"
                    "<p>STOP:%d@%.4f,%.4f ROUTE:%d and STOP:%d@%.4f,%.4f</p>"
                    "</body></html>",
                    pid,
                    pid * 7919 % 104729,
                    pid * 104729 % 7919,
                    pid % 50000 + 100,
                    55.0 + ((pid % 50000) + 100) * 3e-4,
                    -3.9 + ((pid % 50000) + 100) * 3e-4,
                    pid % 9000,
                    (pid * 3) % 50000 + 100,
                    55.0 + (((pid * 3) % 50000) + 100) * 3e-4,
                    -3.9 + (((pid * 3) % 50000) + 100) * 3e-4,
                ),
                "utf-8",
            ).alias("html"),
        )
        .withColumn("warc_ts", F.to_timestamp(F.lit("2026-01-01")))
        .withColumn("text", F.lit(None).cast("string"))
        .withColumn("lang", F.lit("en"))
        )

    def extract_leg(pages) -> "object":
        from pyspark.storagelevel import StorageLevel

        mentions = extract_mentions(pages, from_html=True).filter(
            F.col("kind") == "stop"
        )
        m = mentions.select(
            "url", "mention_idx", "lat", "lon",
            cell(F.col("lat"), F.col("lon"), 16).alias("cell"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # persisted: the hot-cell histogram and the join probe both
        # consume m — without persist each recomputes the extraction.
        sid = F.col("id")
        stops = spark.range(0, 50_000).select(
            sid.alias("stop_id"),
            cell(55.0 + (sid + 100) * 3e-4, -3.9 + (sid + 100) * 3e-4, 16).alias("cell"),
        )
        hot = m.groupBy("cell").count().filter(F.col("count") > 200_000).select("cell")
        joined = salted_equi_join(
            m, stops, "cell", salt_factor=8, hot=hot, probe_salt_col="url"
        )
        hm = failure_heatmap(joined, z=12)
        row = hm.agg(F.sum("n").alias("n"), F.count(F.lit(1)).alias("tiles")).collect()[0]
        m.unpersist()
        return row

    import bench

    # Job composition (SPARK_GRAFT_SCALE_JOB):
    #   full    — extract+join+heatmap AND the validator pipeline (the
    #             round-3 job; shuffle-bearing, see "control").
    #   extract — pages extract -> mention parse -> salted cell join ->
    #             tile heatmap only: the north-rule headline path, and
    #             the map-dominated shape where local-mode parallelism
    #             faithfully proxies multi-executor scaling.
    #   control — VANILLA Spark, zero engine code: a codegen-only agg,
    #             a high-cardinality groupBy.count shuffle, and a
    #             collect_list(struct) shuffle. Measured round 4: the
    #             bare substrate scales at E~0.63-0.73 from 2->8 pinned
    #             cores (one JVM, one page cache — local-mode shuffle is
    #             NOT per-executor disks+NICs), which bounds ANY
    #             shuffle-bearing job's measurable E on this host,
    #             engine-independent. Reported next to the engine jobs
    #             so engine-vs-substrate is separable in the record.
    job = os.environ.get("SPARK_GRAFT_SCALE_JOB", "full")

    def control_leg(scale: int = 1) -> None:
        spark.range(0, 1_600_000_000 * scale // 8, 1, numPartitions=N_PARTITIONS).select(
            (F.xxhash64("id") % 2147483648).alias("h")
        ).agg(F.sum("h")).collect()
        spark.range(0, 30_000_000 * scale // 8, 1, numPartitions=N_PARTITIONS).groupBy(
            (F.col("id") % 3_000_000).alias("k")
        ).count().agg(F.sum("count")).collect()
        spark.range(0, 8_000_000 * scale // 8, 1, numPartitions=N_PARTITIONS).select(
            (F.col("id") % 1_000_000).alias("k"), F.col("id").alias("v")
        ).groupBy("k").agg(
            F.sort_array(F.collect_list(F.struct("v"))).alias("ms")
        ).select(F.sum(F.size("ms"))).collect()

    # Warmup at 1/8 size (python-worker imports, JIT, shuffle buffers);
    # then ONE measured full-size iteration — the steady state a
    # long-running cluster job spends ~100% of its time in. A full-size
    # throwaway iteration would double leg wall for no extra warmth.
    t_warm0 = time.time()
    if job == "control":
        control_leg(scale=12)
    else:
        extract_leg(build_pages(max(N_PAGES // 8, 100_000)))
        if job == "full":
            bench._N_RELS = max(N_RELS // 8, 10_000)
            bench.bench_validation(spark, "")
    t_warm = round(time.time() - t_warm0, 3)

    t_extract = t_val = 0.0
    row = None
    val_stats: dict = {}
    t0 = time.time()
    if job == "control":
        # sized so the 8-core leg spans ~2 sidecar windows (~100 s) —
        # shorter legs can't be in-leg certified at the 50 s-window gate
        control_leg(scale=144)
    else:
        pages = build_pages(N_PAGES)
        row = extract_leg(pages)
        t_extract = round(time.time() - t0, 3)
        if job == "full":
            t1 = time.time()
            bench._N_RELS = N_RELS
            val_stats = bench.bench_validation(spark, "")
            t_val = round(time.time() - t1, 3)
    t_total = round(time.time() - t0, 3)
    print(
        json.dumps(
            {
                "cpus": cpus,
                "job": job,
                "t_extract": t_extract,
                "t_val": t_val,
                "t_total": t_total,
                "t_warmup_eighth": t_warm,
                "join_rows": int(row.n) if row is not None else 0,
                "tiles": int(row.tiles) if row is not None else 0,
                "validation": val_stats,
            }
        )
    )
    spark.stop()


def main() -> None:
    pair = os.environ.get("SPARK_GRAFT_SCALE_PAIR", "2,8")
    n_cpus, n4_cpus = (int(x) for x in pair.split(","))
    trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "3"))
    try:
        off_cores = sidecar_cores(n4_cpus, os.sched_getaffinity(0))
    except ValueError as exc:
        sys.exit(f"scaling_bench: {exc}")

    sys.path.insert(0, _REPO)
    from osm_pt_validator_spark.hostprobe import parallel_probe

    # Each trial PAIR is bracketed by three MULTI-CORE capacity probes
    # (4N simultaneous spinners — the 1-thread probe stays flat through
    # the host's multi-core swings, see hostprobe.parallel_probe) taken
    # before 4N, between, and after N. A pair only counts toward the
    # recorded efficiency when its probes agree within 10% — i.e. the
    # host delivered the same capacity to both halves; otherwise the
    # ratio measures the host window, not the engine.
    runs: dict[int, list[dict]] = {n_cpus: [], n4_cpus: []}
    pairs: list[dict] = []
    for _ in range(trials):
        # interleave: 4N first, then N, so slow host windows hit both
        p0 = parallel_probe(n4_cpus, seconds=3.0)
        r4 = _run_level_probed(n4_cpus, off_cores)
        p1 = parallel_probe(n4_cpus, seconds=3.0)
        rn = _run_level_probed(n_cpus, off_cores)
        p2 = parallel_probe(n4_cpus, seconds=3.0)
        runs[n4_cpus].append(r4)
        runs[n_cpus].append(rn)
        probes = [p0, p1, p2]
        bracket_spread = (max(probes) - min(probes)) / max(probes)
        leg_spreads = [
            x for x in (r4["leg_probe_spread"], rn["leg_probe_spread"])
            if x is not None
        ]
        stable = bracket_spread <= 0.10 and all(x <= 0.10 for x in leg_spreads)
        e = (rn["t_total"] / r4["t_total"]) / (n4_cpus / n_cpus)
        pairs.append(
            {
                "probes_mops": probes,
                "probe_spread": round(bracket_spread, 3),
                "leg_probe_spread_4n": r4["leg_probe_spread"],
                "leg_probe_spread_n": rn["leg_probe_spread"],
                "leg_probes_4n": r4["leg_probes_mops"],
                "leg_probes_n": rn["leg_probes_mops"],
                "leg_windows_4n": r4["leg_probe_window_means"],
                "leg_windows_n": rn["leg_probe_window_means"],
                "stable": stable,
                "t_4n": r4["t_total"],
                "t_n": rn["t_total"],
                "efficiency": round(e, 3),
            }
        )
        # stream each finished pair to stderr: a crash or timeout after
        # N pairs must not lose the first N results
        print("PAIR " + json.dumps(pairs[-1]), file=sys.stderr, flush=True)

    # per-level bests always (throughput section), regardless of which
    # basis supplies the headline efficiency
    best = {c: min(rs, key=lambda r: r["t_total"]) for c, rs in runs.items()}
    stable_pairs = [p for p in pairs if p["stable"]]
    if stable_pairs:
        # cleanest stable window = the stable pair with the highest
        # minimum probe capacity (least host interference end-to-end)
        headline = max(stable_pairs, key=lambda p: min(p["probes_mops"]))
        eff = headline["efficiency"]
        t_n, t_4n = headline["t_n"], headline["t_4n"]
        basis = "probe-stable pair (bracket AND concurrent in-leg spreads <= 10%)"
        if off_cores is None:
            basis = "probe-stable pair (bracket spread <= 10%)"
    else:
        # no stable window in this run: fall back to best-of-level (the
        # old protocol) and SAY SO — the record is then evidence-weak
        t_n, t_4n = best[n_cpus]["t_total"], best[n4_cpus]["t_total"]
        eff = round((t_n / t_4n) / (n4_cpus / n_cpus), 3)
        basis = "NO probe-stable pair; best-of-level fallback (host-degraded run)"
    if off_cores is None:
        basis += "; no in-leg sidecar probe: fewer than two CPUs free outside the 4N leg"
    print(
        json.dumps(
            {
                "metric": (
                    "scaling efficiency, end-to-end extract+join+heatmap+validation "
                    f"at local[{n_cpus}] vs local[{n4_cpus}], "
                    f"{trials} interleaved probe-gated trial pairs"
                ),
                "value": round(eff, 3),
                "unit": "efficiency",
                "basis": basis,
                "pairs": pairs,
                "queries": {
                    f"t_local{n_cpus}": t_n,
                    f"t_local{n4_cpus}": t_4n,
                },
                "sf": None,
                "job": os.environ.get("SPARK_GRAFT_SCALE_JOB", "full"),
                "pages": N_PAGES,
                "relations": N_RELS,
                "docs_per_min": {
                    str(c): round(N_PAGES / b["t_extract"] * 60.0, 1)
                    for c, b in best.items()
                    if b["t_extract"]
                },
                "join_rows_per_sec": {
                    str(c): round(b["join_rows"] / b["t_extract"], 1)
                    for c, b in best.items()
                    if b["t_extract"]
                },
                "relations_per_sec": {
                    str(c): round(N_RELS / b["t_val"], 1)
                    for c, b in best.items()
                    if b["t_val"]
                },
                "trials": {str(c): rs for c, rs in runs.items()},
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]))
    else:
        main()
