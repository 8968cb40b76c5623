"""Structured Streaming tests: file stream → watermark window → memory
sink, checked against the identical batch computation."""

from __future__ import annotations

import pytest

from automated_etl_pipeline_spark.io.sources import load_testdata
from automated_etl_pipeline_spark.streaming import windows
from automated_etl_pipeline_spark.streaming.windows import (
    drain_stream,
    read_events_stream,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"


def test_stream_matches_batch_window_agg(spark, tmp_path):
    # Materialize events as a microsecond-timestamp parquet drop zone
    # (the raw testdata file is TIMESTAMP(NANOS), which the streaming
    # file source can't scan without the same normalization batch uses).
    events = load_testdata(spark, SF, ["events"])["events"]
    drop = str(tmp_path / "drops")
    events.write.parquet(drop)

    stream = read_events_stream(spark, drop, max_files_per_trigger=2)
    assert stream.isStreaming
    got = {
        (r.window_start, r.n_events)
        for r in drain_stream(windowed_counts(stream)).collect()
    }
    want = {
        (r.window_start, r.n_events)
        for r in windowed_counts(events).collect()  # same code, batch path
    }
    assert got == want and len(got) > 0


def test_drain_timeout_stops_query_and_drops_sink(spark, tmp_path, monkeypatch):
    """A drain still running at DRAIN_TIMEOUT_S raises TimeoutError and
    leaves neither an active query nor a sink view behind."""
    events = load_testdata(spark, SF, ["events"])["events"]
    drop = str(tmp_path / "drops")
    events.write.parquet(drop)
    views = {t.name for t in spark.catalog.listTables()}
    monkeypatch.setattr(windows, "DRAIN_TIMEOUT_S", 0.001)

    stream = read_events_stream(spark, drop, max_files_per_trigger=1)
    with pytest.raises(TimeoutError):
        drain_stream(windowed_counts(stream))
    assert spark.streams.active == []
    assert {t.name for t in spark.catalog.listTables()} == views


def test_stateful_sessionization_matches_batch_closed_sessions(spark, tmp_path):
    """applyInPandasWithState sessionization == batch gaps-and-islands,
    restricted to gap-closed sessions (each user's trailing session
    stays open in state and is never emitted)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.streaming.stateful import sessionize_stateful

    import time

    events = load_testdata(spark, SF, ["events"])["events"].select("user_id", "ts")
    drop = str(tmp_path / "sessions_drop")
    # the operator's contract is per-key event-time-ordered arrival
    # across microbatches; the file source orders batches by file
    # mtime, so write one ts-range file at a time (sleep > mtime
    # resolution) to deliver in order
    w_ts = Window.orderBy("ts")
    bucketed = events.withColumn("bucket", F.ntile(4).over(w_ts))
    for b in range(1, 5):
        bucketed.filter(F.col("bucket") == b).drop("bucket").coalesce(1).write.mode(
            "append"
        ).parquet(drop)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    out = sessionize_stateful(stream, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.sql("SELECT * FROM closed_sessions").collect()
    }

    # batch expectation: same gaps-and-islands sessionization, minus
    # each user's last (still-open) session
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = events.select(
        "user_id",
        us.alias("us"),
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 30 * 60 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    w_us = Window.partitionBy("user_id").orderBy("us")
    sessions = (
        flagged.withColumn(
            "sid",
            F.sum("new_s").over(w_us.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("us").alias("session_start_us"),
            F.max("us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    last_sid = sessions.groupBy("user_id").agg(F.max("sid").alias("sid"))
    want = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in sessions.join(last_sid, ["user_id", "sid"], "left_anti").collect()
    }
    assert got == want and len(got) > 0


def test_foreachbatch_sink_is_idempotent_under_replay(spark, tmp_path):
    """Replaying a microbatch (fresh checkpoint over the same input and
    sink dir) overwrites its batch partitions instead of duplicating."""
    from automated_etl_pipeline_spark.streaming.sinks import write_stream_idempotent

    events = load_testdata(spark, SF, ["events"])["events"].select(
        "event_id", "user_id", "value"
    )
    drop = str(tmp_path / "drop")
    events.coalesce(2).write.parquet(drop)
    out = str(tmp_path / "out")

    def run(checkpoint: str) -> None:
        stream = (
            spark.readStream.schema("event_id long, user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        q = write_stream_idempotent(stream, out, checkpoint)
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    n1 = spark.read.parquet(out).count()
    # fresh checkpoint -> the source replays everything as the same
    # batch ids -> partitions overwrite, not append
    run(str(tmp_path / "ckpt2"))
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == events.count()


# ----------------------------------------------------------------------
# Streaming Misra-Gries (streaming/stateful.mg_fold): the fold rule
# the stateful handler applies per trigger, pinned against brute
# force under arbitrary stream slicings.
# ----------------------------------------------------------------------


class TestMgFold:
    def _zipf_stream(self, seed: int, n: int = 3000, vocab: int = 200):
        import numpy as np

        rng = np.random.default_rng(seed)
        return [f"t{z}" for z in rng.zipf(1.3, n) % vocab]

    def test_bound_and_capture_under_any_slicing(self):
        """For random trigger slicings of a zipf stream: every stored
        count undershoots truth by at most n/(k+1), and every item
        with true count > n/(k+1) is in the final sketch."""
        import collections
        import random

        from automated_etl_pipeline_spark.streaming.stateful import mg_fold

        for seed in range(8):
            stream = self._zipf_stream(seed)
            truth = collections.Counter(stream)
            n, k = len(stream), 24
            rnd = random.Random(seed)
            sketch: dict[str, int] = {}
            i = 0
            while i < n:  # arbitrary trigger sizes, 1..400
                j = min(n, i + 1 + rnd.randrange(400))
                sketch = mg_fold(
                    sketch, collections.Counter(stream[i:j]), k
                )
                i = j
            assert len(sketch) <= k
            bound = n / (k + 1)
            for item, c in sketch.items():
                assert c <= truth[item]  # never overcounts
                assert truth[item] - c <= bound  # undercount bounded
            for item, t in truth.items():
                if t > bound:
                    assert item in sketch, (item, t, bound)

    def test_slicing_invariance_of_guarantee_not_content(self):
        """Sketch CONTENT may differ between slicings (MG is order-
        sensitive) but the guaranteed capture set may not."""
        import collections

        from automated_etl_pipeline_spark.streaming.stateful import mg_fold

        stream = self._zipf_stream(99)
        truth = collections.Counter(stream)
        n, k = len(stream), 24
        bound = n / (k + 1)
        guaranteed = {i for i, t in truth.items() if t > bound}
        for step in (1, 7, 100, n):
            sketch: dict[str, int] = {}
            for i in range(0, n, step):
                sketch = mg_fold(
                    sketch, collections.Counter(stream[i : i + step]), k
                )
            assert guaranteed <= set(sketch)
