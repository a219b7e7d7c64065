"""Structured Streaming paths: readStream windows agree with the batch
(oracle-checked) slugs; count-trigger batching honors the BatchStream
contract (count conservation + batch-size bound, reference
batch_stream_test.py:5-19)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from resotodatalink_spark.sources.tables import table
from resotodatalink_spark.streaming.batch_stream import (
    run_keyed_batches,
    stream_events,
)
from resotodatalink_spark.streaming.windows import session_counts, tumbling_counts
from tests.conftest import SF_DIR, drain_available_now


def _run_to_memory(spark, stream_df, name, checkpoint, mode="complete"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q)
    return spark.table(name)


def test_stream_tumbling_agrees_with_batch(spark, tmp_path):
    ev = stream_events(spark, SF_DIR)
    assert ev.isStreaming
    got = _run_to_memory(
        spark,
        tumbling_counts(ev, "1 hour", watermark="1 hour"),
        "t_tumble",
        str(tmp_path / "cp1"),
    ).collect()
    want = tumbling_counts(table(spark, SF_DIR, "events"), "1 hour").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_stream_session_agrees_with_batch(spark, tmp_path):
    ev = stream_events(spark, SF_DIR)
    got = _run_to_memory(
        spark,
        session_counts(ev, "6 hours", watermark="1 hour"),
        "t_session",
        str(tmp_path / "cp2"),
    ).collect()
    want = session_counts(table(spark, SF_DIR, "events"), "6 hours").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_keyed_batches_contract(spark, tmp_path):
    ev = stream_events(spark, SF_DIR)
    total = table(spark, SF_DIR, "events").count()
    seen: list[tuple[str, int]] = []

    def on_batch(key, df):
        seen.append((key, df.count()))

    run_keyed_batches(ev, "event_type", 300, on_batch, str(tmp_path / "cp3"))
    # count conservation
    assert sum(n for _, n in seen) == total
    # batch-size bound
    assert all(n <= 300 for _, n in seen)
    # every key delivered
    assert {k for k, _ in seen} == {"click", "signup", "purchase", "error", "view"}


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: the LAST emitted snapshot per user must
    equal the batch group-by (state survives across micro-batches —
    maxFilesPerTrigger forces multiple batches)."""
    from resotodatalink_spark.streaming.stateful import (
        running_user_totals,
        user_totals_batch,
    )

    # split events into several files so AvailableNow runs >1 micro-batch
    # (written from the batch reader, so ts is already micros timestamps)
    src_dir = str(tmp_path / "src")
    batch_events = table(spark, SF_DIR, "events")
    batch_events.repartition(4).write.parquet(src_dir)
    ev = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = running_user_totals(ev)
    q = (
        out.writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q)
    snaps = spark.table("t_stateful").toPandas()
    # multiple micro-batches -> multiple snapshots for at least one user
    assert len(snaps) > snaps["user_id"].nunique()
    # last snapshot per user == batch totals
    last = snaps.groupby("user_id").last().reset_index()
    want = user_totals_batch(table(spark, SF_DIR, "events")).toPandas()
    merged = last.merge(want, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(want)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (abs(merged["total_value_s"] - merged["total_value_b"]) < 1e-6).all()


def test_stream_stream_interval_join(spark, tmp_path):
    """The stream_interval_join slug's condition driven through TWO
    readStream inputs with watermarks — results must equal batch."""
    from resotodatalink_spark.streaming.batch_stream import stream_events

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        errors = df.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("error_ts"),
        )
        return clicks, errors

    ev_s = stream_events(spark, SF_DIR)
    clicks_s, errors_s = sides(ev_s)
    clicks_s = clicks_s.withWatermark("click_ts", "2 hours")
    errors_s = errors_s.withWatermark("error_ts", "2 hours")
    cond = (
        (clicks_s.user_id == errors_s.e_user_id)
        & (errors_s.error_ts > clicks_s.click_ts)
        & (errors_s.error_ts <= clicks_s.click_ts + F.expr("INTERVAL 1 HOUR"))
    )
    joined = clicks_s.join(errors_s, cond).select(
        "click_id", "error_id", "user_id", "click_ts", "error_ts"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_ss"))
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q)
    got = spark.table("t_ssjoin")
    ev_b = table(spark, SF_DIR, "events")
    clicks_b, errors_b = sides(ev_b)
    cond_b = (
        (clicks_b.user_id == errors_b.e_user_id)
        & (errors_b.error_ts > clicks_b.click_ts)
        & (errors_b.error_ts <= clicks_b.click_ts + F.expr("INTERVAL 1 HOUR"))
    )
    want = clicks_b.join(errors_b, cond_b).select(
        "click_id", "error_id", "user_id", "click_ts", "error_ts"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming dedup: a source with each event duplicated must come
    out with one row per event_id (dropDuplicatesWithinWatermark)."""
    src_dir = str(tmp_path / "dups")
    ev = table(spark, SF_DIR, "events")
    ev.unionByName(ev).repartition(3).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_d"))
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q)
    got = spark.table("t_dedup_stream")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_keyed_batches_exactly_once_ids(spark, tmp_path):
    """Regression for the nondeterministic-chunking hazard: chunk
    assignment is materialized once and ordered deterministically, so
    every event id is delivered EXACTLY once across chunk callbacks —
    no duplicate delivery, no loss (counts alone can miss a dup+drop
    pair)."""
    ev = stream_events(spark, SF_DIR)
    delivered: list[int] = []

    def on_batch(key, df):
        delivered.extend(r.event_id for r in df.select("event_id").collect())

    run_keyed_batches(ev, "event_type", 250, on_batch, str(tmp_path / "cp5"))
    expected = [
        r.event_id
        for r in table(spark, SF_DIR, "events").select("event_id").collect()
    ]
    assert sorted(delivered) == sorted(expected)


def _time_split_stream(spark, tmp_path, n_files=4):
    """events split into n time-ordered parquet files so AvailableNow +
    maxFilesPerTrigger=1 runs one micro-batch per file and the watermark
    advances BETWEEN batches (time-ordered => no late drops, so batch
    parity must hold exactly)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    batch = table(spark, SF_DIR, "events")
    pdf = batch.orderBy("ts", "event_id").toPandas()
    src = tmp_path / "tsplit"
    src.mkdir()
    for i, chunk in enumerate(np.array_split(pdf, n_files)):
        tbl = pa.Table.from_pandas(chunk, preserve_index=False)
        # pandas round-trips as timestamp[ns]; write timestamp[us] so the
        # file matches the testdata format and the pinned NTZ schema
        ts_idx = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(
            ts_idx, "ts", tbl.column("ts").cast(pa.timestamp("us"))
        )
        pq.write_table(tbl, str(src / f"{i:02d}.parquet"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return stream, batch


def _n_data_batches(query):
    return sum(1 for p in query.recentProgress if p["numInputRows"] > 0)


def test_multibatch_tumbling_update_snapshots(spark, tmp_path):
    """Tumbling counts across 4 micro-batches (update mode): the LAST
    snapshot per (window, event_type) must equal the batch group-by —
    windows spanning a file boundary accumulate state across batches."""
    stream, batch = _time_split_stream(spark, tmp_path)
    q = (
        tumbling_counts(stream, "1 hour", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("t_mb_tumble")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp_mb1"))
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q)
    assert _n_data_batches(q) >= 2, "expected multiple micro-batches"
    snaps = spark.table("t_mb_tumble").toPandas()
    last = snaps.groupby(["window_start", "event_type"]).last().reset_index()
    got = sorted(map(tuple, last.itertuples(index=False)))
    want = sorted(
        map(tuple, tumbling_counts(batch, "1 hour").toPandas().itertuples(index=False))
    )
    assert got == want


def test_multibatch_session_complete(spark, tmp_path):
    """Session windows across micro-batches: sessions spanning a file
    boundary must MERGE in the state store (update mode is unsupported
    for session windows — STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION —
    so complete mode's final table is the check; it still exercises the
    cross-batch merge because state carries between the 4 batches)."""
    stream, batch = _time_split_stream(spark, tmp_path)
    q = (
        session_counts(stream, "6 hours", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("t_mb_session")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "cp_mb2"))
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q)
    assert _n_data_batches(q) >= 2
    got = spark.table("t_mb_session").collect()
    want = session_counts(batch, "6 hours").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.mark.slow  # r13 verdict item 2: long sweep, full tier only
def test_multibatch_interval_join_exact(spark, tmp_path):
    """Stream-stream interval join across 4 micro-batches: inner-join
    results emit as matches arrive and state survives across batches
    within the watermark — with time-ordered input the append output
    must equal the batch join exactly (including pairs whose click and
    error land in DIFFERENT micro-batches)."""

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        errors = df.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("error_ts"),
        )
        return clicks, errors

    stream, batch = _time_split_stream(spark, tmp_path)
    clicks_s, errors_s = sides(stream)
    clicks_s = clicks_s.withWatermark("click_ts", "2 hours")
    errors_s = errors_s.withWatermark("error_ts", "2 hours")
    cond = (
        (clicks_s.user_id == errors_s.e_user_id)
        & (errors_s.error_ts > clicks_s.click_ts)
        & (errors_s.error_ts <= clicks_s.click_ts + F.expr("INTERVAL 1 HOUR"))
    )
    joined = clicks_s.join(errors_s, cond).select(
        "click_id", "error_id", "user_id", "click_ts", "error_ts"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_mb_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_mb3"))
        .trigger(availableNow=True)
        .start()
    )
    drain_available_now(q)
    assert _n_data_batches(q) >= 2
    got = spark.table("t_mb_join")
    clicks_b, errors_b = sides(batch)
    cond_b = (
        (clicks_b.user_id == errors_b.e_user_id)
        & (errors_b.error_ts > clicks_b.click_ts)
        & (errors_b.error_ts <= clicks_b.click_ts + F.expr("INTERVAL 1 HOUR"))
    )
    want = clicks_b.join(errors_b, cond_b).select(
        "click_id", "error_id", "user_id", "click_ts", "error_ts"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_dedup_agrees_with_batch(spark, tmp_path):
    from resotodatalink_spark.streaming.windows import first_event_dedup

    ev = stream_events(spark, SF_DIR)
    got = _run_to_memory(
        spark,
        first_event_dedup(ev, watermark="1 hour"),
        "t_dedup",
        str(tmp_path / "cp_dedup"),
    ).collect()
    want = first_event_dedup(table(spark, SF_DIR, "events")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_nearest_event_join_tie_rules(spark, tmp_path):
    """Edge cases the parquet test data never exercises: equidistant
    backward/forward ties resolve to the EARLIER purchase, duplicate
    same-(user, ts) purchases canonicalize to min event_id, a
    same-instant purchase is distance 0, and purchase-less users drop."""
    import datetime as dt

    from resotodatalink_spark.queries.streaming import nearest_event_join

    def ev(eid, h, m, uid, typ):
        return (
            eid,
            dt.datetime(2024, 1, 1, h, m, 0),
            uid,
            typ,
            1.0,
            "{}",
        )

    rows = [
        # user 1: click 10:00 equidistant between purchases 09:00/11:00
        ev(100, 10, 0, 1, "click"),
        ev(101, 9, 0, 1, "purchase"),
        ev(102, 11, 0, 1, "purchase"),
        # user 2: two purchases at the SAME instant; click later
        ev(200, 10, 30, 2, "click"),
        ev(202, 10, 0, 2, "purchase"),
        ev(201, 10, 0, 2, "purchase"),
        # user 3: no purchase at all
        ev(300, 10, 0, 3, "click"),
        # user 4: purchase at exactly the click instant
        ev(400, 10, 0, 4, "click"),
        ev(401, 10, 0, 4, "purchase"),
        # user 5: asymmetric distances, backward nearer
        ev(500, 10, 0, 5, "click"),
        ev(501, 9, 59, 5, "purchase"),
        ev(502, 10, 2, 5, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, user_id: long, "
              "event_type: string, value: double, props: string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["event_id"]: (r["nearest_event_id"], r["diff_us"])
        for r in nearest_event_join(spark, str(tmp_path)).collect()
    }
    assert got == {
        100: (101, 3600 * 1_000_000),  # tie -> earlier purchase
        200: (201, 1800 * 1_000_000),  # same-ts purchases -> min event_id
        400: (401, 0),                 # same-instant purchase
        500: (501, 60 * 1_000_000),    # backward nearer
    }
