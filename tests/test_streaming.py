"""Streaming parity: replay the events fixture as a file-source stream and
assert batch ≡ streaming on the same input (SURVEY.md §5.5)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stock_market_big_data_project_spark.sources.tables import load_table
from stock_market_big_data_project_spark.streaming.ingest import (
    dedup_within_watermark,
    hourly_tumbling_agg,
    read_events_stream,
    run_to_memory,
)
from stock_market_big_data_project_spark.streaming.stateful import stateful_ffill


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Copy the events fixture into a stream-source directory (the file
    source treats each file as arriving data)."""
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_streaming_hourly_agg_equals_batch(spark, sf_dir, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir)
    run_to_memory(hourly_tumbling_agg(stream), "hourly_out")
    got = spark.sql("SELECT * FROM hourly_out").toPandas()

    ev = load_table(spark, sf_dir, "events")
    want = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"),
            F.col("user_id").alias("symbol"),
        )
        .agg(
            F.max_by("value", F.struct("ts", "event_id")).alias("price"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .toPandas()
    )
    # append mode only emits windows the watermark has passed: at stream end
    # the final windows (inside max_ts - 2h) are withheld — compare the
    # closed-window subset, and require the stream emitted nothing else.
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    wm = pd.Timestamp(max_ts) - pd.Timedelta("2 hours")
    want = want[want["hour_ts"] + pd.Timedelta("1 hour") <= wm]

    key = ["hour_ts", "symbol"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, want_s[got_s.columns], check_like=True)


def test_streaming_dedup(spark, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir)
    run_to_memory(dedup_within_watermark(stream), "dedup_out")
    got = spark.sql("SELECT * FROM dedup_out").toPandas()
    assert got["event_id"].is_unique
    assert len(got) > 0


def test_stateful_ffill_carries_last_value(spark, tmp_path):
    # long-format stream with gaps: indicator A has nulls that must be filled
    pdf = pd.DataFrame(
        {
            "indicator": ["A", "A", "A", "B", "B"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 01:00", "2024-01-01 02:00",
                 "2024-01-01 00:30", "2024-01-01 01:30"]
            ),
            "value": [1.5, None, 2.5, None, 7.0],
        }
    )
    src = tmp_path / "fred_stream"
    src.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    # pyarrow writes ns timestamps by default, which Spark can't read —
    # coerce to microseconds (same issue as the events fixture)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    table = pa.Table.from_pandas(pdf)
    pq.write_table(table, src / "batch0.parquet")

    stream = (
        spark.readStream.schema("indicator string, ts timestamp, value double")
        .format("parquet")
        .load(str(src))
    )
    run_to_memory(stateful_ffill(stream), "ffill_out")
    got = (
        spark.sql("SELECT * FROM ffill_out")
        .toPandas()
        .sort_values(["indicator", "ts"])
        .reset_index(drop=True)
    )
    a = got[got["indicator"] == "A"]["value"].tolist()
    assert a == [1.5, 1.5, 2.5]  # null at 01:00 filled with 1.5
    b = got[got["indicator"] == "B"]["value"].tolist()
    assert b[0] is None or pd.isna(b[0])  # nothing to carry yet
    assert b[1] == 7.0
    assert got[got["indicator"] == "A"]["filled"].tolist() == [False, True, False]


def test_streaming_session_window_equals_batch(spark, sf_dir, events_stream_dir):
    from stock_market_big_data_project_spark.streaming.ingest import (
        session_window_agg,
    )

    stream = read_events_stream(spark, events_stream_dir)
    run_to_memory(session_window_agg(stream), "sessions_out")
    got = spark.sql("SELECT * FROM sessions_out").toPandas()

    ev = load_table(spark, sf_dir, "events")
    want = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
        .toPandas()
    )
    # append mode only emits sessions closed by the final watermark
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm = pd.Timestamp(max_ts) - pd.Timedelta("2 hours")
    want = want[want["session_end"] <= wm]

    key = ["user_id", "session_start"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) > 0
    pd.testing.assert_frame_equal(got_s, want_s[got_s.columns], check_like=True)


def test_streaming_interval_join_equals_batch(spark, sf_dir, events_stream_dir):
    """Stream-stream interval join (purchases ⋈ preceding-hour clicks) over
    the replayed fixture must produce exactly the batch range join's rows —
    inner interval joins emit results as matches arrive, so even the final
    watermark leaves nothing held back on a finite replay."""
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        load_all_plans,
    )
    from stock_market_big_data_project_spark.streaming.ingest import (
        interval_join_streams,
    )

    load_all_plans()
    stream = read_events_stream(spark, events_stream_dir)
    run_to_memory(interval_join_streams(stream), "ij_out")
    got = {
        (r["user_id"], r["purchase_id"], r["click_id"], r["gap_micros"])
        for r in spark.table("ij_out").collect()
    }
    want = {
        (r["user_id"], r["purchase_id"], r["click_id"], r["gap_micros"])
        for r in LOCAL_QUERIES["interval_join_purchase_click"](
            spark, sf_dir
        ).collect()
    }
    assert got == want and len(want) > 0


def _record_state_dir(seen: list):
    """A per_batch that records the state dir and appends the batch."""

    def per_batch(batch_df, batch_id, state):
        seen.append((state, batch_df.agg(F.min("k")).first()[0]))
        batch_df.write.mode("append").parquet(state)

    return per_batch


def test_replay_removes_temp_dir_and_detaches_result(spark):
    """replay runs one micro-batch per range file, in range order, removes
    its temp dir, and returns a frame that still counts afterwards."""
    import os

    from stock_market_big_data_project_spark.streaming.ingest import replay

    seen: list = []
    src = spark.range(30).withColumnRenamed("id", "k")
    out = replay(src, "k", _record_state_dir(seen), spark.read.parquet)
    assert len(seen) == 3
    mins = [m for _, m in seen]
    assert mins == sorted(mins) and mins[0] == 0
    assert not os.path.exists(os.path.dirname(seen[0][0]))
    assert out.count() == 30
    assert sorted(r.k for r in out.collect()) == list(range(30))


def test_replay_of_empty_source_serves_empty_state(spark):
    """An empty source still runs one (empty) micro-batch, so state dirs
    that per_batch writes on every batch read back with their schema."""
    from stock_market_big_data_project_spark.streaming.ingest import replay

    seen: list = []
    src = spark.range(0).withColumnRenamed("id", "k")
    out = replay(src, "k", _record_state_dir(seen), spark.read.parquet)
    assert len(seen) == 1
    assert out.columns == ["k"] and out.count() == 0


def test_replay_cleans_up_when_a_batch_fails(spark):
    """A failing per_batch propagates, and leaves neither the temp dir nor
    an active stream behind."""
    import os

    from pyspark.errors import StreamingQueryException

    from stock_market_big_data_project_spark.streaming.ingest import replay

    seen: list = []
    record = _record_state_dir(seen)

    def per_batch(batch_df, batch_id, state):
        record(batch_df, batch_id, state)
        raise RuntimeError("per_batch failed")

    src = spark.range(30).withColumnRenamed("id", "k")
    with pytest.raises(StreamingQueryException, match="per_batch failed"):
        replay(src, "k", per_batch, spark.read.parquet)
    assert len(seen) == 1
    assert not os.path.exists(os.path.dirname(seen[0][0]))
    assert spark.streams.active == []


def test_stateful_parity_queries_register_no_tables(spark, sf_dir):
    """The stateful-stream parities (formerly memory sinks, one uuid-named
    session table per call) leave the session catalog as they found it."""
    from stock_market_big_data_project_spark.plans import (
        LOCAL_QUERIES,
        QUERIES,
        load_all_plans,
    )

    load_all_plans()
    queries = {**LOCAL_QUERIES, **QUERIES}
    before = {t.name for t in spark.catalog.listTables()}
    for name in (
        "streaming_batch_parity",
        "streaming_stateful_ffill_parity",
        "streaming_clean_corpus_parity",
    ):
        assert queries[name](spark, sf_dir).count() > 0
    assert {t.name for t in spark.catalog.listTables()} == before
