"""Streaming ingest with the reference's BatchStream semantics.

The reference's ``BatchStream`` (batch_stream.py:16-64) buffers
elements per key and emits ``(key, batch)`` when a batch reaches
``batch_size``; its "watermark" is a MEMORY bound (total buffered
count), not an event-time lateness bound — on overflow it flushes the
*largest* group early, and drains everything at end-of-stream.

Spark Structured Streaming mapping (the semantic gaps are deliberate
and documented):

* per-key grouping     -> micro-batch ``foreachBatch`` + repartition by
                          key (shuffle+spill replaces the hand-rolled
                          memory watermark — executors spill instead of
                          evicting, reference batch_stream.py:51-56).
* count trigger        -> Spark triggers are time/availability based;
                          the count-based chunking happens inside
                          ``foreachBatch`` where each key group is
                          split into <=batch_size chunks.
* end-of-stream drain  -> ``Trigger.AvailableNow`` drains the source
                          and stops (batch_stream.py:57-64 analog).

``stream_events`` mirrors the batch reader's adaptive ``ts`` handling
(sources/tables.py:48-57): the footer type decides the read path, so a
timestamp[us] file streams natively and only a genuine timestamp[ns]
footer takes the nanos-as-long + div-1000 route.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file source, schema pinned).

    Streaming sources can't infer schemas, so we read the parquet footer
    once (driver-side, metadata only) via the batch reader and pin what
    it reports.  Two cases, matching sources/tables.py:48-57:

    * ``ts`` is a timestamp (the testdata's timestamp[us], read as
      TIMESTAMP_NTZ): pin the footer schema verbatim, then cast NTZ ->
      TIMESTAMP because ``withWatermark`` only accepts instant-based
      event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise).  The
      session time zone is UTC (session.py:39), so the cast pins the
      wall-clock as UTC and collected values equal the batch reader's
      NTZ values bit-for-bit.
    * ``ts`` is a long (a timestamp[ns] footer read under
      ``nanosAsLong``): pin LongType and take the nanos->micros route
      (``timestamp_micros`` already yields an instant TIMESTAMP).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    footer = spark.read.parquet(path).schema  # metadata-only driver read
    # file streaming sources need a directory; glob-filter to the table
    raw = (
        spark.readStream.schema(footer)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_field = next(f for f in footer.fields if f.name == "ts")
    if ts_field.dataType.typeName() == "long":
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_keyed_batches(
    stream_df: DataFrame,
    key_col: str,
    batch_size: int,
    on_batch: Callable[[str, DataFrame], None],
    checkpoint_dir: str,
) -> None:
    """Drain ``stream_df`` with AvailableNow, delivering (key, chunk)
    callbacks where every chunk has <= batch_size rows — the
    BatchStream contract (count conservation + bound, reference
    batch_stream_test.py:5-19).  Chunking happens executor-side via
    row_number; only the per-key delivery loop touches the driver,
    mirroring the reference's per-batch insert loop
    (collect_plugins.py:203-212).

    COMPAT SHIM — not the scale path.  This launches one filtered job
    per (key, chunk): O(keys x chunks) driver-scheduled jobs.  A sink
    that needs no per-chunk callback writes each micro-batch in one
    pass instead, as ``streaming.delta_sync.stream_delta_sync`` does.

    Chunk assignment is computed ONCE: the window orders by every
    column (deterministic), and the chunked frame is materialized with
    an eager ``localCheckpoint`` before the keys collect().  Without
    both, each downstream filter re-evaluates the plan and a
    nondeterministic row_number can deliver a row in two chunks or
    none."""

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        from pyspark.sql import Window as W

        order_cols = [F.col(c) for c in batch_df.columns]
        chunked = batch_df.withColumn(
            "__chunk",
            ((F.row_number().over(W.partitionBy(key_col).orderBy(*order_cols)) - 1)
             / batch_size).cast("int"),
        ).localCheckpoint(eager=True)
        keys = [
            (r[0], r[1])
            for r in chunked.select(key_col, "__chunk").distinct().collect()
        ]
        for key, chunk in sorted(keys):
            on_batch(
                key,
                chunked.filter(
                    (F.col(key_col) == key) & (F.col("__chunk") == chunk)
                ).drop("__chunk"),
            )

    (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle)
        .start()
        .awaitTermination()
    )
