"""Streaming CDC sink — an ordered I/U/D changelog stream applied to
a warehouse table, micro-batch by micro-batch.

The batch operators (sources/cdc.cdc_compact / cdc_apply) are the
whole algorithm; streaming is just the delivery schedule: each
micro-batch is compacted to one final op per key, applied over the
table's current committed state, and committed as a new snapshot.
Correctness leans on two properties the batch layer already
guarantees and tests pin here end-to-end:

- **prefix-equivalence**: applying the log in epoch slices equals
  applying it at once, provided each key's sequence numbers never
  decrease across epochs (true of any log emitted in commit order —
  Debezium/WAL readers);
- **replay-idempotence**: ``foreachBatch`` may redeliver an epoch
  after a failure; re-applying an already-applied slice leaves the
  state unchanged (cdc_apply is last-wins on (seq, op-severity), and
  the base rows it would replace already carry the final payloads).

At 10^10 scale the per-epoch work is log-slice-sized (the compaction
window partitions by key over the SLICE, not the table) plus one
keyed anti-join against the table — with the Warehouse's bucketed
merge that join prunes to touched buckets; here the sandbox twin
commits full snapshots (documented in merge_upsert for the bucketed
path)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from docrawl_spark.sources.cdc import cdc_apply
from docrawl_spark.sources.storage import Warehouse


def run_streaming_cdc_apply(
    spark: SparkSession,
    changelog_stream: DataFrame,
    warehouse: Warehouse,
    table: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    checkpoint_dir: str | None = None,
):
    """Start (and return) the streaming query applying
    ``changelog_stream`` (columns: table payload + ``op`` + seq) to
    ``warehouse[table]``. The table must already exist (seed it with
    an initial snapshot — an empty frame with the payload schema is
    fine). Use ``trigger(availableNow=True)`` semantics via
    ``query.processAllAvailable()`` in tests."""
    payload_cols = [
        c for c in changelog_stream.columns if c not in (op_col, seq_col)
    ]

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        base = warehouse.read(table).select(*payload_cols)
        state = cdc_apply(
            base, batch_df, key_cols, seq_col, op_col
        ).localCheckpoint()
        warehouse.overwrite(table, state)

    writer = changelog_stream.writeStream.foreachBatch(_apply).outputMode(
        "update"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
