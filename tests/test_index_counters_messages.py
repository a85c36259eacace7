"""Tests for the index store (X1-X6), counters (C1-C4) and message
store (M1-M2), mirroring the reference's integration fixtures
(IndexByEventTypeStoreTests.cs, MessageCounterTests.cs; FIXTURES.md §2).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from inception_eventstore_spark import schemas
from inception_eventstore_spark.functions.filetime import (
    datetime_to_filetime,
    filetime_to_datetime,
)
from inception_eventstore_spark.functions.partitions import pid_from_filetime
from inception_eventstore_spark.operators.counters import MessageCounter
from inception_eventstore_spark.operators.index import IndexByEventTypeStore
from inception_eventstore_spark.operators.message_store import (
    MessageStore,
    midnight_filetime,
)
from inception_eventstore_spark.sources import layout as L

T0 = datetime_to_filetime(dt.datetime(2024, 3, 14, 12, 0, 0, tzinfo=dt.timezone.utc))
SEC = 10_000_000
DAY = 864_000_000_000


@pytest.fixture()
def lay(spark, warehouse):
    return L.for_tenant(warehouse, "ixtests", "es")


def _records(spark, rows):
    return spark.createDataFrame(
        [(et, aid, rev, pos, ts) for (et, aid, rev, pos, ts) in rows],
        "et string, aid binary, rev int, pos int, ts long",
    )


class TestIndexStore:
    def test_append_read_single_day(self, spark, lay):
        """Mirrors IndexByEventTypeStoreTests.cs:23-52."""
        idx = IndexByEventTypeStore(spark, lay)
        idx.append(
            _records(
                spark,
                [
                    ("type-a", b"agg1", 1, 0, T0),
                    ("type-a", b"agg2", 1, 0, T0 + SEC),
                    ("type-b", b"agg1", 2, 0, T0),
                ],
            )
        )
        pid = pid_from_filetime(T0)
        rows = idx.get("type-a", pid).collect()
        assert [(bytes(r["aid"]), r["ts"]) for r in rows] == [
            (b"agg1", T0),
            (b"agg2", T0 + SEC),
        ]
        assert idx.get("type-b", pid).count() == 1
        assert idx.get("type-a", pid + 1).count() == 0

    def test_append_is_idempotent(self, spark, lay):
        idx = IndexByEventTypeStore(spark, lay)
        recs = _records(spark, [("type-a", b"agg1", 1, 0, T0),
                                ("type-a", b"agg1", 1, 0, T0)])
        idx.append(recs)
        assert idx.count("type-a") == 1

    def test_time_range_scan_across_days(self, spark, lay):
        """Mirrors the 3-pid replay fixture (FIXTURES index_replay)."""
        idx = IndexByEventTypeStore(spark, lay)
        idx.append(
            _records(
                spark,
                [("type-a", b"agg1", 1, 0, T0 + i * DAY) for i in range(3)]
                + [("type-b", b"agg9", 1, 0, T0 + DAY)],
            )
        )
        got = idx.records("type-a", after=T0 + DAY, before=T0 + 2 * DAY).collect()
        assert [r["ts"] for r in got] == [T0 + DAY, T0 + 2 * DAY]
        # default bounds: after ← MIN(ts) (X5), before ← now+1d
        assert idx.records("type-a").count() == 3

    def test_paged_read_with_keyset_token(self, spark, lay):
        idx = IndexByEventTypeStore(spark, lay)
        idx.append(
            _records(
                spark,
                [("type-a", b"agg1", 1, i, T0 + i * SEC) for i in range(5)],
            )
        )
        pid = pid_from_filetime(T0)
        seen, token = [], None
        for _ in range(4):
            rows, token = idx.get_paged("type-a", pid, 2, token)
            seen.extend(r["ts"] for r in rows)
            if not token.has_more:
                break
        assert seen == [T0 + i * SEC for i in range(5)]

    def test_delete_full_key(self, spark, lay):
        """Mirrors IndexByEventTypeStoreTests.cs:73-114."""
        idx = IndexByEventTypeStore(spark, lay)
        idx.append(
            _records(spark, [("type-a", b"agg1", 1, 0, T0),
                             ("type-a", b"agg2", 1, 0, T0 + SEC)])
        )
        pid = pid_from_filetime(T0)
        assert idx.delete("type-a", pid, T0, b"agg1", 1, 0) is True
        rows = idx.get("type-a", pid).collect()
        assert [bytes(r["aid"]) for r in rows] == [b"agg2"]

    @pytest.mark.parametrize("et", ["ns:Created", "orders/Shipped"])
    def test_delete_escaped_event_type(self, spark, lay, et):
        """Spark's writer escapes ':' and '/' in the et directory name
        (``et=ns%3ACreated``); X4 must rewrite that directory."""
        idx = IndexByEventTypeStore(spark, lay)
        idx.append(
            _records(spark, [(et, b"agg1", 1, 0, T0),
                             (et, b"agg2", 1, 0, T0 + SEC)])
        )
        pid = pid_from_filetime(T0)
        assert idx.delete(et, pid, T0, b"agg1", 1, 0) is True
        rows = idx.get(et, pid).collect()
        assert [bytes(r["aid"]) for r in rows] == [b"agg2"]
        assert idx.count(et) == 1

    def test_partition_escaping_matches_spark(self, spark):
        jvm = spark.sparkContext._jvm
        escape = (
            jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName
        )
        values = [chr(c) for c in range(128)] + ["ns:Created/v2", "é=ü"]
        for value in values:
            assert L.escape_path_name(value) == escape(value), repr(value)

    def test_min_ts_and_count(self, spark, lay):
        idx = IndexByEventTypeStore(spark, lay)
        assert idx.min_ts() is None  # empty index
        idx.append(_records(spark, [("type-a", b"agg1", 1, 0, T0 + DAY),
                                    ("type-b", b"agg2", 1, 0, T0)]))
        assert idx.min_ts() == T0  # X5
        assert idx.count("type-a") == 1  # X6 (enabled, unlike the reference)
        assert idx.count("nope") == 0


class TestCounters:
    def test_counter_ops_fixture(self, spark, lay):
        """Mirrors MessageCounterTests.cs:20-101 exactly:
        inc(1)→1; inc(5),dec(1)→4; inc(5),get→5; inc(5),reset→0."""
        c = MessageCounter(spark, lay)
        c.increment("m1")
        assert c.get_count("m1") == 1

        c.increment("m2", 5)
        c.decrement("m2", 1)
        assert c.get_count("m2") == 4

        c.increment("m3", 5)
        assert c.get_count("m3") == 5

        c.increment("m4", 5)
        c.reset("m4")
        assert c.get_count("m4") == 0
        # row present with cv=0 (the reference's observable post-reset state)
        rows = {r["msgid"]: r["cv"] for r in c.counters_df().collect()}
        assert rows["m4"] == 0

    def test_absent_counter_is_zero(self, spark, lay):
        c = MessageCounter(spark, lay)
        assert c.get_count("never-seen") == 0

    def test_compact_preserves_values(self, spark, lay):
        c = MessageCounter(spark, lay)
        for _ in range(5):
            c.increment("m1", 2)
        c.decrement("m1", 3)
        c.compact()
        assert c.get_count("m1") == 7
        # compacted to one row per msgid
        import os

        files = [
            f
            for f in os.listdir(lay.counter_path)
            if f.endswith(".parquet")
        ]
        assert len(files) == 1


class TestMessageStore:
    def test_append_and_scan(self, spark, lay):
        """Mirrors CassandraMessageStore append/scan (M1/M2)."""
        ms = MessageStore(spark, lay)
        ms.append(b"msg-one", publish_ts=T0)
        ms.append(b"msg-two", publish_ts=T0 + DAY)
        rows = ms.messages_df().orderBy("ts").collect()
        assert [bytes(r["data"]) for r in rows] == [b"msg-one", b"msg-two"]
        # date = midnight UTC of the publish day
        for r in rows:
            day = filetime_to_datetime(r["date"])
            assert day.hour == 0 and day.minute == 0
            assert filetime_to_datetime(r["ts"]).date() == day.date()

    def test_append_defaults_ts_to_now(self, spark, lay):
        ms = MessageStore(spark, lay)
        before = datetime_to_filetime(dt.datetime.now(dt.timezone.utc))
        ms.append(b"live")
        row = ms.messages_df().first()
        assert row["ts"] >= before
        assert row["date"] == midnight_filetime(row["ts"])

    def test_bulk_append_partitions_by_day(self, spark, lay):
        ms = MessageStore(spark, lay)
        msgs = spark.createDataFrame(
            [(T0 + i * DAY, f"m{i}".encode()) for i in range(3)],
            "ts long, data binary",
        )
        ms.append_df(msgs)
        import os

        dates = [
            d for d in os.listdir(lay.message_store_path) if d.startswith("date=")
        ]
        assert len(dates) == 3
        decoded = ms.load_messages(decode=lambda b: bytes(b).decode())
        assert {r["decoded"] for r in decoded.collect()} == {"m0", "m1", "m2"}


class TestCounterAutoCompact:
    def test_hot_counter_file_count_bounded(self, spark, tmp_path):
        from inception_eventstore_spark.operators.counters import MessageCounter
        from inception_eventstore_spark.sources import fsutil
        from inception_eventstore_spark.sources import layout as L

        lay = L.for_tenant(str(tmp_path / "wh"), "hot", "es")
        counter = MessageCounter(spark, lay, auto_compact_threshold=8)
        for _ in range(20):
            counter.increment("hot-type")
        assert counter.get_count("hot-type") == 20
        assert fsutil.data_file_count(spark, lay.counter_path) < 8
