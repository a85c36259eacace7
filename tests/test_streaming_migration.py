"""Tests for Structured-Streaming ingest and the S5 migration pipeline."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from inception_eventstore_spark import schemas
from inception_eventstore_spark.functions.filetime import datetime_to_filetime
from inception_eventstore_spark.operators.eventstore import (
    AggregateCommit,
    EventStore,
    PlayerOptions,
)
from inception_eventstore_spark.operators.index import IndexByEventTypeStore
from inception_eventstore_spark.operators.migration import (
    copy_raw,
    migrate_event_store,
)
from inception_eventstore_spark.sources import layout as L
from inception_eventstore_spark.streaming.ingest import (
    stream_ingest,
    windowed_event_counts,
)

T0 = datetime_to_filetime(dt.datetime(2024, 3, 14, 12, 0, 0, tzinfo=dt.timezone.utc))
HOUR = 36_000_000_000

AID1 = b"stream-aggregate-1"
AID2 = b"stream-aggregate-2"


def _payload(name, et="type-s"):
    return json.dumps({"name": name, "et": et}).encode()


def _et_expr(data_col):
    return F.get_json_object(data_col.cast("string"), "$.et")


class TestStreamingIngest:
    def test_file_stream_ingests_and_indexes(self, spark, tmp_path):
        source = str(tmp_path / "incoming")
        ckpt = str(tmp_path / "ckpt")
        lay = L.for_tenant(str(tmp_path / "wh"), "stream", "es")
        store = EventStore(spark, lay, event_type_expr=_et_expr)

        rows = [
            (AID1, 1, 0, T0, _payload("a")),
            (AID1, 2, 0, T0 + HOUR, _payload("b")),
            (AID2, 1, 0, T0 + 2 * HOUR, _payload("c", "type-t")),
        ]
        spark.createDataFrame(rows, schema=schemas.EVENTS_SCHEMA).write.mode(
            "append"
        ).parquet(source)

        q = stream_ingest(spark, source, store, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        assert store.events_df().count() == 3
        idx = IndexByEventTypeStore(spark, lay)
        assert idx.count("type-s") == 2
        assert idx.count("type-t") == 1

        # second batch of files → incremental pickup, no reprocessing
        more = [(AID2, 2, 0, T0 + 3 * HOUR, _payload("d", "type-t"))]
        spark.createDataFrame(more, schema=schemas.EVENTS_SCHEMA).write.mode(
            "append"
        ).parquet(source)
        q = stream_ingest(spark, source, store, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert store.events_df().count() == 4
        assert idx.count("type-t") == 2
        # counters maintained by the same streaming batches
        from inception_eventstore_spark.operators.counters import MessageCounter

        counter = MessageCounter(spark, lay)
        assert counter.get_count("type-s") == 2
        assert counter.get_count("type-t") == 2

    def test_windowed_counts_memory_sink(self, spark, tmp_path):
        source = str(tmp_path / "in2")
        rows = [
            (AID1, 1, 0, T0, _payload("a")),
            (AID1, 2, 0, T0 + HOUR // 2, _payload("b")),
            (AID2, 1, 0, T0 + 2 * HOUR, _payload("c", "type-t")),
        ]
        spark.createDataFrame(rows, schema=schemas.EVENTS_SCHEMA).write.mode(
            "append"
        ).parquet(source)
        stream = (
            spark.readStream.schema(schemas.EVENTS_SCHEMA).parquet(source)
            .withColumn(
                "et",
                F.get_json_object(F.col("data").cast("string"), "$.et"),
            )
        )
        agg = windowed_event_counts(stream, window="1 hour", watermark="1 hour")
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("win_counts")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["window_start"], r["et"]): r["n"]
                for r in spark.sql("SELECT * FROM win_counts").collect()
            }
        finally:
            q.stop()
        base = dt.datetime(2024, 3, 14, 12, 0, 0)
        assert got[(base, "type-s")] == 2
        assert got[(base + dt.timedelta(hours=2), "type-t")] == 1


class TestWatermarkLateData:
    def test_late_event_dropped_in_append_mode(self, spark, tmp_path):
        """Append-mode windowed aggregation with a 1h watermark: a
        window's count is emitted once the watermark passes its end, and
        an event arriving later than the watermark is dropped."""
        source = str(tmp_path / "late_in")
        et = F.get_json_object(F.col("data").cast("string"), "$.et")

        def _write(rows):
            spark.createDataFrame(rows, schema=schemas.EVENTS_SCHEMA).write.mode(
                "append"
            ).parquet(source)

        # batch 1 must exist before the stream starts (the file source
        # needs the directory present)
        _write([(AID1, 1, 0, T0, _payload("a")),
                (AID1, 2, 0, T0 + HOUR // 2, _payload("b"))])
        stream = (
            spark.readStream.schema(schemas.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(source)
            .withColumn("et", et)
        )
        agg = windowed_event_counts(stream, window="1 hour", watermark="1 hour")
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("late_counts")
            .start()
        )
        try:
            q.processAllAvailable()
            # batch 2: an event far in the future advances the watermark
            # beyond the 12:00 window → that window closes and emits
            _write([(AID2, 1, 0, T0 + 10 * HOUR, _payload("c"))])
            q.processAllAvailable()
            # batch 3: a LATE event for the closed 12:00 window — dropped
            _write([(AID2, 2, 0, T0 + HOUR // 4, _payload("late"))])
            q.processAllAvailable()
            got = {
                (r["window_start"], r["et"]): r["n"]
                for r in spark.sql("SELECT * FROM late_counts").collect()
            }
        finally:
            q.stop()
        base = dt.datetime(2024, 3, 14, 12, 0, 0)
        # the 12:00 window emitted exactly the two on-time events; the
        # late third event did not re-open it
        assert got.get((base, "type-s")) == 2


class TestMigration:
    def _seed(self, spark, tmp_path):
        src_lay = L.for_tenant(str(tmp_path / "wh"), "src", "es")
        dst_lay = L.for_tenant(str(tmp_path / "wh"), "dst", "es")
        src = EventStore(spark, src_lay, event_type_expr=_et_expr)
        dst = EventStore(spark, dst_lay, event_type_expr=_et_expr)
        src.append_commits(
            [
                AggregateCommit(AID1, 1, T0, [_payload("a")], [_payload("p")]),
                AggregateCommit(AID1, 2, T0 + HOUR, [_payload("b")], []),
                AggregateCommit(AID2, 1, T0, [_payload("c")], []),
            ]
        )
        return src, dst

    def test_migrate_preserves_commits(self, spark, tmp_path):
        src, dst = self._seed(spark, tmp_path)
        n = migrate_event_store(src, dst)
        assert n == 3
        src_rows = {
            (bytes(r["id"]), r["rev"], r["pos"], bytes(r["data"]))
            for r in src.events_df().collect()
        }
        dst_rows = {
            (bytes(r["id"]), r["rev"], r["pos"], bytes(r["data"]))
            for r in dst.events_df().collect()
        }
        assert src_rows == dst_rows  # incl. the public event at pos 5
        commits = dst.load_aggregate(AID1).collect()
        assert [c["rev"] for c in commits] == [1, 2]
        assert [bytes(e) for e in commits[0]["public_events"]] == [_payload("p")]

    def test_migrate_with_transform(self, spark, tmp_path):
        src, dst = self._seed(spark, tmp_path)

        def bump_ts(commits):
            return commits.withColumn("ts", F.col("ts") + F.lit(HOUR))

        migrate_event_store(src, dst, transform=bump_ts)
        src_min = src.events_df().agg(F.min("ts")).first()[0]
        dst_min = dst.events_df().agg(F.min("ts")).first()[0]
        assert dst_min == src_min + HOUR

    def test_copy_raw_is_byte_faithful(self, spark, tmp_path):
        src, dst = self._seed(spark, tmp_path)
        copy_raw(src, dst)
        assert dst.events_df().count() == src.events_df().count()

    def test_migrate_respects_time_window(self, spark, tmp_path):
        src, dst = self._seed(spark, tmp_path)
        n = migrate_event_store(
            src, dst, options=PlayerOptions(after=T0 + HOUR)
        )
        assert n == 1  # only AID1 rev 2
        assert dst.events_df().count() == 1


class TestIngestIdempotence:
    def test_redelivered_batch_appends_nothing(self, spark, tmp_path):
        """foreachBatch is at-least-once: a retry re-runs the same batch.
        The anti-join against stored keys must make the second run a
        no-op (ADVICE r1 — duplicates would corrupt group_commits'
        pos == row_number-1 classification)."""
        lay = L.for_tenant(str(tmp_path / "wh"), "idem", "es")
        store = EventStore(spark, lay, event_type_expr=_et_expr)
        rows = [
            (AID1, 1, 0, T0, _payload("a")),
            (AID1, 1, 1, T0, _payload("b")),
            (AID2, 1, 0, T0 + HOUR, _payload("c", "type-t")),
        ]
        batch = spark.createDataFrame(rows, schema=schemas.EVENTS_SCHEMA)
        store._append_rows(batch, maintain_index=False, anti_join_existing=True)
        assert store.events_df().count() == 3
        # redelivery of the identical epoch
        store._append_rows(batch, maintain_index=False, anti_join_existing=True)
        assert store.events_df().count() == 3
        # partial overlap: one old row + one new row → only the new lands
        mixed = spark.createDataFrame(
            rows[:1] + [(AID2, 2, 0, T0 + 2 * HOUR, _payload("d", "type-t"))],
            schema=schemas.EVENTS_SCHEMA,
        )
        store._append_rows(mixed, maintain_index=False, anti_join_existing=True)
        assert store.events_df().count() == 4
        # commit reconstruction survives the redeliveries intact
        commits = store.load_aggregate(AID1).collect()
        assert len(commits) == 1 and commits[0]["rev"] == 1


class TestStatefulOperators:
    """Custom stateful streaming ops (applyInPandasWithState) + the
    built-in session_window sessionizer."""

    def test_commit_watermarks_state_spans_batches(self, spark, tmp_path):
        from inception_eventstore_spark.streaming.state import commit_watermarks

        source = str(tmp_path / "wm_in")
        ckpt = str(tmp_path / "wm_ckpt")
        # batch 1: revs 1,2 for AID1 — contiguous
        spark.createDataFrame(
            [(AID1, 1, 0, T0, _payload("a")), (AID1, 2, 0, T0 + HOUR, _payload("b"))],
            schema=schemas.EVENTS_SCHEMA,
        ).write.mode("append").parquet(source)

        stream = spark.readStream.schema(schemas.EVENTS_SCHEMA).parquet(source)
        out = commit_watermarks(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("wm_sink")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            rows = {
                bytes(r["id"]): r
                for r in spark.sql("SELECT * FROM wm_sink").collect()
            }
            assert rows[AID1]["high_water_rev"] == 2
            assert rows[AID1]["has_gap"] is False

            # batch 2: rev 4 arrives out of order — gap opens
            spark.createDataFrame(
                [(AID1, 4, 0, T0 + 2 * HOUR, _payload("d"))],
                schema=schemas.EVENTS_SCHEMA,
            ).write.mode("append").parquet(source)
            q.processAllAvailable()
            last = spark.sql(
                "SELECT * FROM wm_sink ORDER BY n_events DESC LIMIT 1"
            ).collect()[0]
            assert last["high_water_rev"] == 2
            assert last["max_seen_rev"] == 4
            assert last["has_gap"] is True

            # batch 3: rev 3 closes the gap — high water jumps to 4
            spark.createDataFrame(
                [(AID1, 3, 0, T0 + 3 * HOUR, _payload("c"))],
                schema=schemas.EVENTS_SCHEMA,
            ).write.mode("append").parquet(source)
            q.processAllAvailable()
            last = spark.sql(
                "SELECT * FROM wm_sink ORDER BY n_events DESC LIMIT 1"
            ).collect()[0]
            assert last["high_water_rev"] == 4
            assert last["has_gap"] is False
            assert last["n_events"] == 4
        finally:
            q.stop()

    def test_streaming_sessionize_gap_split(self, spark, tmp_path):
        from inception_eventstore_spark.streaming.state import (
            streaming_sessionize,
        )

        source = str(tmp_path / "sess_in")
        # user 7: two events 10 min apart (one session), then one 2 h
        # later (a second session)
        base = [
            (1, T0, 7),
            (2, T0 + HOUR // 6, 7),
            (3, T0 + 2 * HOUR, 7),
        ]
        rows = [
            (f"sess-{i}".encode(), 1, 0, ts, _payload(f"e{i}"))
            for i, ts, _u in base
        ]
        spark.createDataFrame(rows, schema=schemas.EVENTS_SCHEMA).write.mode(
            "append"
        ).parquet(source)

        from inception_eventstore_spark.functions.filetime import (
            filetime_to_timestamp_col,
        )

        stream = (
            spark.readStream.schema(schemas.EVENTS_SCHEMA)
            .parquet(source)
            .withColumn("ts_dt", filetime_to_timestamp_col("ts"))
            .withColumn("user_id", F.lit(7))
        )
        sessions = streaming_sessionize(stream, gap="30 minutes")
        q = (
            sessions.writeStream.format("memory")
            .queryName("sess_sink")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql(
                "SELECT * FROM sess_sink ORDER BY session_start"
            ).collect()
            assert [r["n_events"] for r in got] == [2, 1]
            assert got[0]["session_end"] > got[0]["session_start"]
        finally:
            q.stop()


class TestIndexRetrySafety:
    def test_index_backfilled_after_partial_epoch_failure(self, spark, tmp_path):
        """Crash between the events commit and the index append: the
        retried epoch finds every event row already stored, but the
        index anti-join works against the INDEX store, so the missing
        index rows (and their counter deltas) are appended exactly once
        (code-review finding r2: deriving the index from the events
        anti-join survivors would lose them forever)."""
        from inception_eventstore_spark.operators.counters import MessageCounter

        lay = L.for_tenant(str(tmp_path / "wh"), "retry", "es")
        store = EventStore(spark, lay, event_type_expr=_et_expr)
        rows = [
            (AID1, 1, 0, T0, _payload("a")),
            (AID1, 2, 0, T0 + HOUR, _payload("b")),
            (AID2, 1, 0, T0 + 2 * HOUR, _payload("c", "type-t")),
        ]
        batch = spark.createDataFrame(rows, schema=schemas.EVENTS_SCHEMA)
        # attempt 1 "crashes" after the events write, before the index
        store._append_rows(batch, maintain_index=False, anti_join_existing=True)
        idx = IndexByEventTypeStore(spark, lay)
        assert idx.count("type-s") == 0
        # retry of the same epoch, full maintenance
        store._append_rows(batch, maintain_index=True, anti_join_existing=True)
        assert store.events_df().count() == 3          # events not duplicated
        assert idx.count("type-s") == 2                # index backfilled
        assert idx.count("type-t") == 1
        counter = MessageCounter(spark, lay)
        assert counter.get_count("type-s") == 2
        # a further redelivery appends nothing anywhere
        store._append_rows(batch, maintain_index=True, anti_join_existing=True)
        assert store.events_df().count() == 3
        assert idx.count("type-s") == 2
        assert counter.get_count("type-s") == 2


class TestStreamingZscore:
    def test_state_spans_batches_and_matches_batch_twin(
        self, spark, tmp_path
    ):
        import datetime as dt

        from inception_eventstore_spark.operators.timeseries import (
            zscore_anomalies,
        )
        from inception_eventstore_spark.streaming.state import (
            streaming_zscore_anomalies,
        )

        source = str(tmp_path / "zs_in")
        ckpt = str(tmp_path / "zs_ckpt")
        base = dt.datetime(2024, 1, 1)
        schema = "event_id long, ts timestamp, user_id long, value double"

        def rows(lo, hi):
            out = []
            for i in range(lo, hi):
                v = 100.0 if i == 25 else float(i % 5)
                out.append((i, base + dt.timedelta(minutes=i), 7, v))
            return out

        # batch 1: 20 in-order normal events (builds history, no alarm)
        spark.createDataFrame(rows(0, 20), schema).write.mode(
            "append"
        ).parquet(source)
        stream = spark.readStream.schema(schema).parquet(source)
        out = streaming_zscore_anomalies(stream, window=10)
        q = (
            out.writeStream.format("memory")
            .queryName("zs_sink")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.sql("SELECT * FROM zs_sink").count() == 0

            # batch 2: the spike at i=25 must alarm using state built
            # in batch 1 (history crossed the batch boundary)
            spark.createDataFrame(rows(20, 30), schema).write.mode(
                "append"
            ).parquet(source)
            q.processAllAvailable()
            hits = spark.sql("SELECT * FROM zs_sink").collect()
            assert [h["value"] for h in hits] == [100.0]
            assert abs(hits[0]["zscore"]) >= 2.0

            # the batch twin over the full in-order log agrees
            batch_hits = zscore_anomalies(
                spark.createDataFrame(rows(0, 30), schema), window=10
            ).collect()
            assert {(h["user_id"], h["value"]) for h in batch_hits} == {
                (7, 100.0)
            }
        finally:
            q.stop()

    def test_cold_key_never_alarms_streaming(self, spark, tmp_path):
        import datetime as dt

        from inception_eventstore_spark.streaming.state import (
            streaming_zscore_anomalies,
        )

        source = str(tmp_path / "zs2_in")
        base = dt.datetime(2024, 1, 1)
        schema = "event_id long, ts timestamp, user_id long, value double"
        spark.createDataFrame(
            [(1, base, 9, 1e9)], schema
        ).write.mode("append").parquet(source)
        stream = spark.readStream.schema(schema).parquet(source)
        q = (
            streaming_zscore_anomalies(stream)
            .writeStream.format("memory")
            .queryName("zs2_sink")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "zs2_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.sql("SELECT * FROM zs2_sink").count() == 0
        finally:
            q.stop()


class TestStreamingZscoreNulls:
    def test_null_value_does_not_poison_history(self, spark, tmp_path):
        import datetime as dt

        from inception_eventstore_spark.streaming.state import (
            streaming_zscore_anomalies,
        )

        source = str(tmp_path / "zsn_in")
        base = dt.datetime(2024, 1, 1)
        schema = "event_id long, ts timestamp, user_id long, value double"
        rows = []
        for i in range(20):
            rows.append((i, base + dt.timedelta(minutes=i), 3,
                         float(i % 5)))
        rows.append((20, base + dt.timedelta(minutes=20), 3, None))
        rows.append((21, base + dt.timedelta(minutes=21), 3, 100.0))
        spark.createDataFrame(rows, schema).write.parquet(source)
        q = (
            streaming_zscore_anomalies(
                spark.readStream.schema(schema).parquet(source), window=10
            )
            .writeStream.format("memory")
            .queryName("zsn_sink")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "zsn_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            hits = spark.sql("SELECT * FROM zsn_sink").collect()
            # the spike right AFTER the null must still alarm
            assert [h["value"] for h in hits] == [100.0]
        finally:
            q.stop()

    def test_null_rows_occupy_frame_slots_like_batch_twin(
        self, spark, tmp_path
    ):
        """ADVICE r3: with nulls present, the streaming history must
        not reach further back than the batch twin's ROWS frame — null
        rows consume window slots on both sides, so the z-scores match
        exactly."""
        import datetime as dt

        from inception_eventstore_spark.operators.timeseries import (
            zscore_anomalies,
        )
        from inception_eventstore_spark.streaming.state import (
            streaming_zscore_anomalies,
        )

        source = str(tmp_path / "zsp_in")
        base = dt.datetime(2024, 1, 1)
        schema = "event_id long, ts timestamp, user_id long, value double"
        # values chosen so the frame CONTENT matters: early values are
        # large, recent ones small; nulls push the early values out of
        # a slot-counting window but keep them in a value-counting one
        vals = [50.0, 60.0, 55.0, 1.0, 2.0, 1.5, 2.5, 1.0, None, None,
                None, None, 2.0, 1.0, 1.5, 9.0]
        rows = [
            (i, base + dt.timedelta(minutes=i), 5, v)
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(rows, schema)
        df.write.parquet(source)
        q = (
            streaming_zscore_anomalies(
                spark.readStream.schema(schema).parquet(source),
                window=10, min_history=3, threshold=2.0,
            )
            .writeStream.format("memory")
            .queryName("zsp_sink")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "zsp_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            # the streaming schema carries (key, ts, value, zscore) —
            # match on ts
            stream_by_ts = {
                (h["ts"], round(h["zscore"], 9))
                for h in spark.sql("SELECT * FROM zsp_sink").collect()
            }
        finally:
            q.stop()
        batch_by_ts = {
            (h["ts"], round(h["zscore"], 9))
            for h in zscore_anomalies(
                df, window=10, min_history=3, threshold=2.0
            ).collect()
        }
        assert len(batch_by_ts) > 0
        assert stream_by_ts == batch_by_ts


class TestTrendingTokens:
    def test_stream_counts_and_sink_ranking(self, spark, tmp_path):
        import datetime as dt

        from inception_eventstore_spark.streaming.ingest import (
            topk_tokens_per_window,
            windowed_token_counts,
        )

        source = str(tmp_path / "tt_in")
        base = dt.datetime(2024, 1, 1)
        schema = "doc_id long, ts timestamp, text string"
        rows = []
        for i in range(20):
            # window 1: 'alpha' dominates; window 2: 'beta'
            w = 0 if i < 10 else 30
            word = "alpha" if i < 10 else "beta"
            rows.append(
                (i, base + dt.timedelta(minutes=w + i % 5),
                 f"{word} common filler{i}")
            )
        spark.createDataFrame(rows, schema).write.parquet(source)
        stream = spark.readStream.schema(schema).parquet(source)
        counts = windowed_token_counts(
            stream, window="10 minutes", watermark="1 hour"
        )
        q = (
            counts.writeStream.format("memory")
            .queryName("tt_sink")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            final = spark.sql("SELECT * FROM tt_sink")
            top = topk_tokens_per_window(final, k=2).collect()
        finally:
            q.stop()
        by_win = {}
        for r in top:
            by_win.setdefault(r["window"]["start"], []).append(
                (r["rank"], r["token"], r["n"])
            )
        wins = sorted(by_win)
        assert len(wins) == 2
        assert by_win[wins[0]][0] == (1, "alpha", 10)
        assert by_win[wins[1]][0] == (1, "beta", 10)
        # 'common' is runner-up in both windows
        assert by_win[wins[0]][1][1] == "common"

    def test_batch_frame_same_plan(self, spark):
        import datetime as dt

        from inception_eventstore_spark.streaming.ingest import (
            windowed_token_counts,
        )

        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), "x y x")],
            "doc_id long, ts timestamp, text string",
        )
        got = {
            r["token"]: r["n"]
            for r in windowed_token_counts(df).collect()
        }
        assert got == {"x": 2, "y": 1}


class TestWindowedDistinctUsers:
    def test_stream_exact_distinct_and_batch_twin(self, spark, tmp_path):
        import datetime as dt

        from inception_eventstore_spark.streaming.ingest import (
            windowed_distinct_users,
        )

        source = str(tmp_path / "du_in")
        base = dt.datetime(2024, 3, 1)
        schema = "event_id long, ts timestamp, user_id long"
        rows = []
        # day 1: users 1,2,3 (user 1 appears 5×); day 2: users 1,9
        for i in range(5):
            rows.append((i, base + dt.timedelta(hours=i), 1))
        rows += [(10, base + dt.timedelta(hours=6), 2),
                 (11, base + dt.timedelta(hours=7), 3),
                 (20, base + dt.timedelta(days=1, hours=1), 1),
                 (21, base + dt.timedelta(days=1, hours=2), 9)]
        spark.createDataFrame(rows, schema).write.parquet(source)
        stream = spark.readStream.schema(schema).parquet(source)
        counts = windowed_distinct_users(
            stream, window="1 day", watermark="1 day"
        )
        q = (
            counts.writeStream.format("memory")
            .queryName("du_sink")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r["window_start"].day: r["active_users"]
                for r in spark.sql("SELECT * FROM du_sink").collect()
            }
        finally:
            q.stop()
        assert got == {1: 3, 2: 2}
        # same function on the batch frame gives the identical answer
        batch = spark.createDataFrame(rows, schema)
        got_b = {
            r["window_start"].day: r["active_users"]
            for r in windowed_distinct_users(batch).collect()
        }
        assert got_b == got


class TestStreamIntervalJoin:
    def test_stream_stream_attribution(self, spark, tmp_path):
        import datetime as dt

        from inception_eventstore_spark.streaming.ingest import (
            stream_interval_join,
        )

        t0 = dt.datetime(2024, 5, 1)
        schema = "event_id long, ts timestamp, user_id long"
        views = [(1, t0, 1), (2, t0 + dt.timedelta(minutes=90), 1),
                 (3, t0, 2)]
        buys = [(10, t0 + dt.timedelta(minutes=30), 1),   # matches view 1
                (11, t0 + dt.timedelta(minutes=200), 1),  # matches nothing
                (12, t0 - dt.timedelta(minutes=5), 2)]    # before the view
        vdir, bdir = str(tmp_path / "v"), str(tmp_path / "b")
        spark.createDataFrame(views, schema).write.parquet(vdir)
        spark.createDataFrame(buys, schema).write.parquet(bdir)
        vs = spark.readStream.schema(schema).parquet(vdir)
        bs = spark.readStream.schema(schema).parquet(bdir)
        joined = stream_interval_join(
            vs, bs, key_col="user_id", within="1 hour",
            watermark="10 minutes",
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("sij_sink")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {(r["event_id"], r["event_id_r"])
                   for r in spark.sql("SELECT * FROM sij_sink").collect()}
        finally:
            q.stop()
        assert got == {(1, 10)}
        # batch frames through the same function give the same answer
        bv = spark.createDataFrame(views, schema)
        bb = spark.createDataFrame(buys, schema)
        batch = stream_interval_join(
            bv, bb, key_col="user_id", within="1 hour"
        )
        assert {(r["event_id"], r["event_id_r"])
                for r in batch.collect()} == got


class TestStreamingRedelivery:
    """The at-least-once + PK-dedup contract (SURVEY §4): a retried
    foreachBatch epoch re-delivers rows, and the C1 counter / X1 index
    views must still equal the batch fold applied ONCE — including
    after a crash landing between the events commit and the index
    append."""

    def _store(self, spark, root):
        lay = L.for_tenant(str(root), "redeliver", "es")
        return lay, EventStore(spark, lay, event_type_expr=_et_expr)

    def _batch(self, spark, rows):
        return spark.createDataFrame(rows, schema=schemas.EVENTS_SCHEMA)

    def test_exact_redelivery_is_idempotent(self, spark, tmp_path):
        from inception_eventstore_spark.operators.counters import (
            MessageCounter,
        )

        lay, store = self._store(spark, tmp_path / "wh1")
        rows = [
            (AID1, 1, 0, T0, _payload("a")),
            (AID1, 2, 0, T0 + HOUR, _payload("b")),
            (AID2, 1, 0, T0 + 2 * HOUR, _payload("c", "type-t")),
        ]
        b = self._batch(spark, rows)
        store._append_rows(b, maintain_index=True, anti_join_existing=True)
        # the retry: same epoch, same rows, delivered again
        store._append_rows(b, maintain_index=True, anti_join_existing=True)
        assert store.events_df().count() == 3
        idx = IndexByEventTypeStore(spark, lay)
        assert idx.count("type-s") == 2 and idx.count("type-t") == 1
        assert MessageCounter(spark, lay).get_count("type-s") == 2

    def test_partial_overlap_redelivery(self, spark, tmp_path):
        """A retried epoch that also carries NEW rows (source picked up
        more files): old rows dedup away, new rows land exactly once —
        views equal a fresh store where the union was applied once."""
        from inception_eventstore_spark.operators.counters import (
            MessageCounter,
        )

        lay, store = self._store(spark, tmp_path / "wh2")
        first = [
            (AID1, 1, 0, T0, _payload("a")),
            (AID2, 1, 0, T0 + HOUR, _payload("c", "type-t")),
        ]
        second = first + [
            (AID1, 2, 0, T0 + 2 * HOUR, _payload("b")),
            (AID2, 2, 0, T0 + 3 * HOUR, _payload("d", "type-t")),
        ]
        store._append_rows(
            self._batch(spark, first), maintain_index=True,
            anti_join_existing=True,
        )
        store._append_rows(
            self._batch(spark, second), maintain_index=True,
            anti_join_existing=True,
        )
        lay2, store2 = self._store(spark, tmp_path / "wh2_ref")
        store2._append_rows(
            self._batch(spark, second), maintain_index=True,
            anti_join_existing=True,
        )
        for s, l in ((store, lay), (store2, lay2)):
            assert s.events_df().count() == 4
            idx = IndexByEventTypeStore(spark, l)
            assert idx.count("type-s") == 2 and idx.count("type-t") == 2
            c = MessageCounter(spark, l)
            assert c.get_count("type-s") == 2
            assert c.get_count("type-t") == 2

    def test_crash_between_events_commit_and_index_append(
        self, spark, tmp_path
    ):
        """Worst-case retry: the prior attempt wrote EVENTS but died
        before the index append. The redelivered batch anti-joins to
        zero new events, yet the index/counter maintenance must still
        see the full batch — deriving the index from the events
        survivors would lose these rows permanently (the in-source
        invariant at eventstore._append_rows)."""
        from inception_eventstore_spark.operators.counters import (
            MessageCounter,
        )

        lay, store = self._store(spark, tmp_path / "wh3")
        rows = [
            (AID1, 1, 0, T0, _payload("a")),
            (AID2, 1, 0, T0 + HOUR, _payload("c", "type-t")),
        ]
        b = self._batch(spark, rows)
        # simulate the partial commit: events land, index never does
        store.layout.write_events(b.dropDuplicates(["id", "rev", "pos"]))
        assert store.events_df().count() == 2
        assert IndexByEventTypeStore(spark, lay).count("type-s") == 0
        # the retry delivers the same batch through the normal path
        store._append_rows(b, maintain_index=True, anti_join_existing=True)
        assert store.events_df().count() == 2
        idx = IndexByEventTypeStore(spark, lay)
        assert idx.count("type-s") == 1 and idx.count("type-t") == 1
        assert MessageCounter(spark, lay).get_count("type-t") == 1
