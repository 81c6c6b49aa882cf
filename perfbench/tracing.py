"""The traced run: each layer's public functions called one layer at a
time, each inside a span and its own Spark job group.

Every layer call takes persisted inputs from the layer before and
materializes its result with the ``noop`` sink (a ``count()`` would
let Catalyst prune columns and skip work), persisting it for the next
layer. The spans and row counts are recorded here, around the calls;
task-level numbers come from the Spark event log, reduced per job group
by ``eventlog.py``. The decomposition mirrors ``validate_all`` and the
pages pipeline of ``workloads.pages_job``; its outputs are checked
against the same ground truth as the untraced job's.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

import eventlog
import workloads

#: layers the benchmark attributes time to, as the package's modules
SPARK_LAYERS = (
    "sources.pages",
    "operators.set_stages",
    "operators.node_checks",
    "operators.way_order",
    "operators.route_master",
    "operators.pipeline",
    "plans.checkpoint",
    "spatial.knn",
    "spatial.joins",
    "spatial.tiles",
)
BASE_METRICS = (
    ("wall_s", "s"),
    ("run_s", "s"),
    ("jvm_cpu_s", "s"),
    ("py_s", "s"),
    ("fetch_wait_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("task_skew", "ratio"),
    ("rows_in", "count"),
    ("rows_out", "count"),
)
EXTRA_METRICS = (
    ("sources.pages.py_sent_mb", "MB"),
    ("sources.pages.py_returned_mb", "MB"),
    ("sources.pages.mentions_per_page", "ratio"),
    ("operators.way_order.py_sent_mb", "MB"),
    ("operators.way_order.py_returned_mb", "MB"),
    ("spatial.knn.candidates_per_result", "ratio"),
    ("spatial.joins.hot_keys_s", "s"),
    ("spatial.joins.build_replication", "ratio"),
    ("plans.checkpoint.bytes_per_row", "B"),
    ("plans.checkpoint.lineage_s", "s"),
    ("session.get_spark_s", "s"),
    ("session.ensure_py_files_s", "s"),
    ("session.worker_warm_s", "s"),
    ("job.peak_rss_mb", "MB"),
    ("trace.task_retries", "count"),
    ("trace.untraced_job_s", "s"),
    ("trace.traced_job_s", "s"),
    ("trace.overhead_frac", "ratio"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit) a traced run prints."""
    base = [(f"{layer}.{m}", u) for layer in SPARK_LAYERS for m, u in BASE_METRICS]
    return base + list(EXTRA_METRICS)


@dataclass
class Span:
    name: str
    layer: str
    parent: str | None
    start: float
    end: float


@dataclass
class Traced:
    spans: list[Span] = field(default_factory=list)
    rows_in: dict[str, int] = field(default_factory=dict)
    rows_out: dict[str, int] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)
    untraced_job_s: float = 0.0
    #: the traced run from its first read until its outputs are read
    #: back, with the row counts and hand-off persists it adds
    traced_job_s: float = 0.0
    #: peak resident memory of the process tree during the cold job
    job_peak_rss_mb: float = 0.0
    host: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.t = Traced()
        self._t0 = time.perf_counter()
        self._groups: list[str] = []

    def _group(self, name: str | None) -> None:
        """Push (or, with None, pop) the job group of the calling thread."""
        if name is None:
            self._groups.pop()
        else:
            self._groups.append(name)
        sc = self.spark.sparkContext
        if self._groups:
            sc.setJobGroup(self._groups[-1], self._groups[-1])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def layer(self, layer: str, *inputs, name: str | None = None,
              parent: str | None = None, group: str | None = None):
        """Span around one layer call, in job group ``group`` (default:
        the layer). A top-level span counts ``inputs`` into the layer's
        rows_in and the frames ``out()`` adds into its rows_out, after
        the span closes; a child span (``parent`` set) only times."""
        outs: list = []
        self.t.attempted += 1
        self._group(group or layer)
        start = time.perf_counter()
        try:
            yield outs
        except Exception:
            self.t.failed += 1
            raise
        finally:
            end = time.perf_counter()
            self._group(None)
            self.t.spans.append(Span(name or layer, layer, parent, start - self._t0, end - self._t0))
        if parent is None:
            self._group("perfbench.counts")
            self.t.rows_in[layer] = self.t.rows_in.get(layer, 0) + sum(d.count() for d in inputs)
            self.t.rows_out[layer] = self.t.rows_out.get(layer, 0) + sum(d.count() for d in outs)
            self._group(None)

    @staticmethod
    def out(outs: list, df):
        """Persist and materialize a layer's result inside its span."""
        from pyspark.storagelevel import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.write.format("noop").mode("overwrite").save()
        outs.append(df)
        return df


def _validation(tr: Tracer, data: str, out_dir: str) -> dict:
    """validate_all + jobs.main's checkpointed sink, one layer at a time."""
    from pyspark.sql import functions as F

    from osm_pt_validator_spark.config import DEFAULT_CONFIG as cfg
    from osm_pt_validator_spark.functions.elements import is_ptv2
    from osm_pt_validator_spark.operators import pipeline, route_master
    from osm_pt_validator_spark.operators.node_checks import (
        missing_node_errors,
        validate_relation_nodes,
    )
    from osm_pt_validator_spark.operators.set_stages import set_based_verdicts
    from osm_pt_validator_spark.operators.way_order import (
        STAGE_ENGINE_ERROR,
        validate_way_and_stop_order,
    )
    from osm_pt_validator_spark.plans.checkpoint import run_stage
    from osm_pt_validator_spark.schemas import STAGE_NODE_COUNT

    spark = tr.spark
    with tr.layer("inputs") as o:
        rels, nodes, ways = (
            tr.out(o, spark.read.parquet(os.path.join(data, f"{t}.parquet")))
            for t in ("relations", "nodes", "ways")
        )
    rel_type = F.col("tags").getItem("type")
    masters = rels.filter(rel_type == "route_master")

    with tr.layer("operators.route_master", masters) as o:
        master_verdicts = tr.out(
            o, route_master.validate_route_masters(masters, cfg.minimum_route_variants)
        )
        work = tr.out(o, route_master.split_route_master_members(masters))

    with tr.layer("operators.pipeline", rels, work) as o:
        gone = tr.out(o, pipeline.missing_relation_verdicts(work, rels))
        member_routes = rels.join(
            F.broadcast(work.select("relation_id").distinct()), "relation_id", "left_semi"
        )
        routes = tr.out(
            o,
            rels.filter(rel_type == "route")
            .unionByName(member_routes)
            .dropDuplicates(["relation_id"]),
        )
        members = tr.out(o, pipeline.explode_members(routes.filter(is_ptv2(F.col("tags")))))

    with tr.layer("operators.set_stages", routes) as o:
        vset = tr.out(o, set_based_verdicts(routes, cfg))

    with tr.layer("operators.node_checks", members, nodes) as o:
        node_errors = tr.out(o, missing_node_errors(members, nodes))

    with tr.layer("operators.pipeline", members, node_errors) as o:
        aborted = F.broadcast(node_errors.select("relation_id").distinct())
        live = tr.out(o, members.join(aborted, "relation_id", "left_anti"))

    with tr.layer("operators.node_checks", live, nodes) as o:
        v3 = tr.out(o, validate_relation_nodes(live, nodes, cfg.naptan_platform_tags))

    with tr.layer("operators.way_order", live, ways) as o:
        v456 = tr.out(
            o, validate_way_and_stop_order(live, ways, cfg.ignore_traversal_direction_ways)
        )

    with tr.layer("operators.pipeline", vset, v3, v456, master_verdicts, gone) as o:
        kept = (
            vset.join(aborted.withColumn("__ab", F.lit(True)), "relation_id", "left")
            .filter((F.col("stage_no") != STAGE_NODE_COUNT) | F.col("__ab").isNull())
            .drop("__ab")
        )
        verdicts = tr.out(
            o,
            kept.unionByName(v3)
            .unionByName(v456.filter(F.col("stage_no") != STAGE_ENGINE_ERROR))
            .unionByName(master_verdicts)
            .unionByName(gone),
        )
        invalid = tr.out(o, pipeline.collect_invalid(verdicts))

    with tr.layer("plans.checkpoint", verdicts, invalid) as o:
        v_out = run_stage(spark, out_dir, "verdicts", lambda: verdicts)
        i_out = run_stage(spark, out_dir, "invalid_relations", lambda: invalid)
        o += [v_out, i_out]
    _checkpoint_extras(tr, out_dir, ("verdicts", "invalid_relations"), v_out)

    return {
        "verdicts": [tuple(r) for r in v_out.select(*workloads.VERDICT_COLS).collect()],
        "invalid": [tuple(r) for r in i_out.select("relation_id", "error_count").collect()],
    }


def _checkpoint_extras(tr: Tracer, out_dir: str, stages, stage_df) -> None:
    """bytes_per_row of the written stages and lineage_s of one stage."""
    from osm_pt_validator_spark.plans.checkpoint import compute_lineage

    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for s in stages
        for dp, _d, fs in os.walk(os.path.join(out_dir, s))
        for f in fs
        if f.endswith(".parquet")
    )
    tr.t.extra["plans.checkpoint.bytes_per_row"] = size / max(1, tr.t.rows_out["plans.checkpoint"])
    # run_stage computes lineage inside its span; time the same call on
    # its own, in a group of its own so the layer's totals stay as run
    with tr.layer("plans.checkpoint", name="lineage", parent="plans.checkpoint",
                  group="plans.checkpoint.lineage"):
        compute_lineage(stage_df).write.format("noop").mode("overwrite").save()
    tr.t.extra["plans.checkpoint.lineage_s"] = tr.t.spans[-1].end - tr.t.spans[-1].start


def _pages(tr: Tracer, data: str, out_dir: str) -> dict:
    """workloads.pages_job, one layer at a time."""
    from osm_pt_validator_spark.plans.checkpoint import run_stage
    from osm_pt_validator_spark.sources.pages import extract_mentions
    from osm_pt_validator_spark.spatial.joins import hot_keys
    from osm_pt_validator_spark.spatial.tiles import failure_heatmap

    spark = tr.spark
    with tr.layer("inputs") as o:
        pages, stops = (tr.out(o, df) for df in workloads.pages_inputs(spark, data))

    with tr.layer("sources.pages", pages) as o:
        mentions = tr.out(o, extract_mentions(pages, from_html=True))

    with tr.layer("plans.checkpoint", mentions) as o:
        m_out = run_stage(spark, out_dir, "mentions", lambda: mentions)
        o.append(m_out)
    _checkpoint_extras(tr, out_dir, ("mentions",), m_out)
    m_out = tr.out([], m_out)  # later layers read the stage from memory

    with tr.layer("spatial.knn", m_out, stops) as o:
        nearest = tr.out(o, workloads.knn_nearest(m_out, stops))

    with tr.layer("spatial.joins", m_out, stops) as o:
        mc, sc = (tr.out([], df) for df in workloads.cell_tables(m_out, stops))
        with tr.layer("spatial.joins", name="hot_keys", parent="spatial.joins"):
            hot = tr.out([], hot_keys(mc, "cell", workloads.HOT_THRESHOLD))
        tr.t.extra["spatial.joins.hot_keys_s"] = tr.t.spans[-1].end - tr.t.spans[-1].start
        joined = tr.out(o, workloads.cell_join(mc, sc, hot))
    tr.t.extra["spatial.joins.build_rows"] = sc.count()

    with tr.layer("spatial.tiles", m_out) as o:
        heat = tr.out(o, failure_heatmap(m_out, workloads.HEATMAP_Z))

    return {
        "mentions": m_out.select("url", "mention_idx", "kind", "entity_id", "lat", "lon").toPandas(),
        "nearest": nearest.select("url", "mention_idx", "entity_id", "stop_id").toPandas(),
        "cell_join": joined.toPandas(),
        "heatmap": heat.select("tile_z", "tile_x", "tile_y", "n").toPandas(),
    }


def traced_run(spark, workload: str, data: str, work: str, truth, untraced_job_s: float) -> Traced:
    tr = Tracer(spark)
    tr.t.untraced_job_s = untraced_job_s
    spark.catalog.clearCache()
    out_dir = os.path.join(work, "traced_out")
    fn = _pages if workload == "pages_to_stops" else _validation
    t0 = time.perf_counter()
    out = fn(tr, data, out_dir)
    tr.t.traced_job_s = time.perf_counter() - t0
    tr.t.checks = workloads.WORKLOADS[workload].check(out, truth)
    return tr.t


def layer_metrics(t: Traced, session: dict, work: str) -> dict[str, tuple[float, str]]:
    """The per-layer table: span walls and row counts from the trace,
    task and SQL metrics from the event log, zeros for layers this
    workload does not call."""
    groups = eventlog.reduce_dir(os.path.join(work, "events"))
    top = [s for s in t.spans if s.parent is None]
    values: dict[str, float] = {}
    for layer in SPARK_LAYERS:
        g = groups.get(layer, eventlog.GroupStats())
        values.update({
            f"{layer}.wall_s": sum((s.end - s.start for s in top if s.layer == layer), 0.0),
            f"{layer}.run_s": g.run_s,
            f"{layer}.jvm_cpu_s": g.cpu_s,
            f"{layer}.py_s": g.run_s - g.cpu_s,
            f"{layer}.fetch_wait_s": g.fetch_wait_s,
            f"{layer}.shuffle_write_mb": g.shuffle_write_b / 1e6,
            f"{layer}.spill_mb": g.spill_b / 1e6,
            f"{layer}.gc_s": g.gc_s,
            f"{layer}.task_skew": g.task_skew(),
            f"{layer}.rows_in": float(t.rows_in.get(layer, 0)),
            f"{layer}.rows_out": float(t.rows_out.get(layer, 0)),
        })
    for layer in ("sources.pages", "operators.way_order"):
        g = groups.get(layer, eventlog.GroupStats())
        values[f"{layer}.py_sent_mb"] = g.sql_sum("data sent to Python workers") / 1e6
        values[f"{layer}.py_returned_mb"] = g.sql_sum("data returned from Python workers") / 1e6
    pages_in = t.rows_in.get("sources.pages", 0)
    values["sources.pages.mentions_per_page"] = (
        t.rows_out.get("sources.pages", 0) / pages_in if pages_in else 0.0
    )
    knn = groups.get("spatial.knn", eventlog.GroupStats())
    knn_out = t.rows_out.get("spatial.knn", 0)
    values["spatial.knn.candidates_per_result"] = (
        knn.sql_sum("number of output rows", node_prefix=eventlog.JOIN_NODES) / knn_out
        if knn_out else 0.0
    )
    joins = groups.get("spatial.joins", eventlog.GroupStats())
    build_rows = t.extra.get("spatial.joins.build_rows", 0)
    values["spatial.joins.build_replication"] = (
        joins.sql_sum("number of output rows", node_prefix=("Generate",)) / build_rows
        if build_rows else 0.0
    )
    for k in ("spatial.joins.hot_keys_s", "plans.checkpoint.bytes_per_row",
              "plans.checkpoint.lineage_s"):
        values[k] = t.extra.get(k, 0.0)
    values.update({
        "session.get_spark_s": session["session.get_spark_s"],
        "session.ensure_py_files_s": session["session.ensure_py_files_s"],
        "session.worker_warm_s": session["session.worker_warm_s"],
        "job.peak_rss_mb": t.job_peak_rss_mb,
        "trace.task_retries": float(sum(g.retries for g in groups.values())),
        "trace.untraced_job_s": t.untraced_job_s,
        "trace.traced_job_s": t.traced_job_s,
        "trace.overhead_frac": t.traced_job_s / t.untraced_job_s - 1.0,
    })
    t.layers = values
    return {name: (values[name], unit) for name, unit in per_layer_names()}


def write_spans(t: Traced, out_dir: str, workload: str, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": workload,
                "seed": seed,
                "host": t.host,
                "spans": [s.__dict__ for s in t.spans],
                "rows_in": t.rows_in,
                "rows_out": t.rows_out,
                "checks": [c.__dict__ for c in t.checks],
                "layers": t.layers,
            },
            f,
            indent=1,
        )
    return path
