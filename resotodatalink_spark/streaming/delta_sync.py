"""Streaming incremental sync: delta NDJSON stream -> table generations.

Composes the two round-5 pieces into the continuous-ingest shape a
100 TB deployment actually runs: collectors spool changed-node deltas
as chunked NDJSON (the same doc protocol as the remote graph stream,
reference remote_graph.py:59-91, extended with a ``{"type":
"deleted", "id": ...}`` tombstone the full-resync reference never
needed), and every micro-batch advances the published tables by ONE
generation through ``operators/incremental.sync_delta`` — MERGE by
key, untouched tables skipped, one publish pass per batch.

The reference's closest analog is re-running collect_and_sync on a
timer (full rebuild per run); here steady-state work is proportional
to the change rate, not the corpus.

Scale notes: the foreachBatch body is the batch sync_delta — all data
movement is distributed joins; only sync_delta's planning rows
(change-sized, like a broadcast; the tombstones among them) are
collected to the driver.  With ``Trigger.AvailableNow`` the stream
drains spooled chunks and stops (the T3 end-of-stream semantic);
``maxFilesPerTrigger=1`` makes each spooled chunk file one generation,
which is how the tests replay a multi-generation history
deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resotodatalink_spark.model.kinds import Model
from resotodatalink_spark.operators.incremental import sync_delta
from resotodatalink_spark.sources.graph import GraphSource


def apply_delta_batch(
    spark: SparkSession, docs: DataFrame, model: Model, dest_dir: str
) -> dict[str, dict[str, int]]:
    """One delta generation from a raw doc frame (column ``doc``:
    NDJSON strings of node/edge/deleted records).  Tombstones reach
    ``sync_delta`` as docs, in its one planning collect, so this runs
    no Spark job of its own.  A batch must be change-sized: its ids and
    edges are collected to the driver to plan the generation, and each
    of ``sync_delta``'s reads re-reads and re-parses it (see there)."""
    return sync_delta(spark, GraphSource._split(docs), model, dest_dir)


def stream_delta_sync(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    model: Model,
    dest_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain a directory of spooled delta-NDJSON chunks; each
    micro-batch advances the tables under ``dest_dir`` by one
    generation and publishes it in one pass.  Restart-safe: the streaming
    checkpoint remembers which chunks were applied."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.text(src_dir).select(F.col("value").alias("doc"))

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        apply_delta_batch(spark, batch_df, model, dest_dir)

    (
        raw.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle)
        .start()
        .awaitTermination()
    )
