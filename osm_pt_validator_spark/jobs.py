"""spark-submit entry point: validate a work-list of relations against
OSM-shaped parquet tables and write verdict/error tables.

    spark-submit --py-files .osm_pt_validator_spark.zip \
        -m osm_pt_validator_spark.jobs  (or python -m ... locally)
        --tables /data/osm --routes routes/ --out /data/verdicts

Mirrors the reference's CLI/Lambda lifecycle (scripts/validate/main.go,
cmd/trigger + cmd/validate-rm + cmd/validate-route) as one batch plan:
work-list -> validate_all over the full relations table -> grouped sink.
Exit code 1 when any verdicts exist (O4, main.go:122-125).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", required=True, help="dir with nodes/ways/relations parquet")
    ap.add_argument("--routes", help="RoutesFile JSON path/glob (default: all relations)")
    ap.add_argument("--out", required=True, help="output dir (checkpointed stages)")
    ap.add_argument("--relation-id", type=int, help="validate a single relation (-r)")
    ap.add_argument(
        "--naptan",
        action="store_true",
        help="with --relation-id: enable naptan platform checks "
        "(reference -n flag, default false — scripts/validate/main.go:25-26,117)",
    )
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    if args.relation_id is not None and args.relation_id < 1:
        ap.error("--relation-id must be at least 1")

    from osm_pt_validator_spark.config import DEFAULT_CONFIG, ValidationConfig
    from osm_pt_validator_spark.operators.pipeline import collect_invalid, validate_all
    from osm_pt_validator_spark.plans.checkpoint import run_stage, stage_manifests
    from osm_pt_validator_spark.session import ensure_py_files, get_spark
    from osm_pt_validator_spark.sources.routes_file import read_routes_files

    spark = get_spark("osm-pt-validate", cores=args.cpus)
    ensure_py_files(spark)

    nodes = spark.read.parquet(f"{args.tables}/nodes.parquet")
    ways = spark.read.parquet(f"{args.tables}/ways.parquet")
    relations = spark.read.parquet(f"{args.tables}/relations.parquet")

    # one work list over the FULL relations table: validate_all decides
    # what is validated and what is gone. The reference builds one
    # validator per routes file from that file's config block
    # (scripts/validate/main.go:70-74); here each work-list row carries
    # its own file's config, so any number of files is one plan.
    config, requested = DEFAULT_CONFIG, None
    if args.relation_id is not None:
        # reference -r path: Config{NaptanPlatformTags: npt}, npt
        # defaulting FALSE (scripts/validate/main.go:25-26,117)
        config = ValidationConfig(naptan_platform_tags=args.naptan)
        requested = spark.range(args.relation_id, args.relation_id + 1).toDF("relation_id")
    elif args.routes:
        requested = read_routes_files(spark, args.routes)

    verdicts = run_stage(
        spark, args.out, "verdicts", lambda: validate_all(relations, nodes, ways, config, requested)[0]
    )
    run_stage(spark, args.out, "invalid_relations", lambda: collect_invalid(verdicts))

    # the summary comes from the stage manifests: no Spark action
    m = stage_manifests(args.out)
    n = m["verdicts"]["rows"]
    print(f"relations with verdicts: {m['invalid_relations']['rows']}; verdicts: {n}")
    return 1 if n > 0 else 0


if __name__ == "__main__":
    sys.exit(main())
