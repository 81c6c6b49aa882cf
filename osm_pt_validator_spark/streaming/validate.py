"""Streaming route validation — the validator pipeline applied to a
continuously arriving relations stream.

The reference's production shape is event-driven (SQS CheckRelationEvent
per relation, cmd/validate-route/main.go); the Spark-native equivalent
is a Structured Streaming source of relation rows micro-batched through
the SAME batch operators via ``foreachBatch``: each micro-batch runs
`validate_all` (dims joined as static DataFrames — stream-static joins
in their natural Spark form) and writes verdicts to a parquet sink.
foreachBatch is at-least-once — a micro-batch can be REPLAYED after a
failure/restart — so the sink must be idempotent per batch: each batch
overwrites its own deterministic ``batch_id=<id>`` partition directory,
making the replay a no-op instead of an append-duplicate. Readers scan
``out_path`` and see ``batch_id`` as a partition column.

Why foreachBatch and not a fully incremental plan: the validator needs
multi-join + grouped-Arrow stages per relation, which are per-row
independent — there is no cross-batch state, so micro-batch reuse of
the batch plan IS the idiomatic Spark solution (state would only enter
for cross-batch dedup, which `streaming/dedup.py` provides upstream).

Known gap: each micro-batch is its own ``relations`` table for
`validate_all`, which looks route-master members up and decides
presence in the table it is given. A master whose members arrived in an
EARLIER batch therefore gets false gone (HTTP-410) verdicts
for them. The stream has no full relations table to pass instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from osm_pt_validator_spark.config import DEFAULT_CONFIG, ValidationConfig


def streaming_validate(
    relations_stream: DataFrame,
    nodes: DataFrame,
    ways: DataFrame,
    out_path: str,
    checkpoint_path: str,
    config: ValidationConfig = DEFAULT_CONFIG,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Validate a stream of relation rows; append verdicts to parquet.

    relations_stream: streaming DataFrame with the relations schema
    (relation_id, version, members, tags). nodes/ways: static dims.
    Returns the started StreamingQuery (caller awaits/stops).
    """
    from osm_pt_validator_spark.operators.pipeline import validate_all

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        verdicts, _errors = validate_all(batch_df, nodes, ways, config)
        # idempotent per-batch sink: a replayed micro-batch (foreachBatch
        # is at-least-once) overwrites ITS OWN partition dir instead of
        # appending duplicates to a shared file set
        verdicts.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    writer = (
        relations_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
