"""Message-store operators M1-M2 over a date-partitioned append table.

Reference: src/One.Inception.EventStore.Cassandra/MessageStore/
CassandraMessageStore.cs — append with ``date`` = FileTime of midnight
UTC of the append day (:32-53), full scan with page size (:55-69).
"""

from __future__ import annotations

import datetime as _dt
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inception_eventstore_spark import schemas
from inception_eventstore_spark.functions.filetime import datetime_to_filetime
from inception_eventstore_spark.sources.layout import EventStoreLayout


def midnight_filetime(ts_ticks: int | None = None,
                      now: _dt.datetime | None = None) -> int:
    """FileTime of midnight UTC of the given (or current) day."""
    if now is None:
        from inception_eventstore_spark.functions.filetime import filetime_to_datetime

        now = (
            filetime_to_datetime(ts_ticks)
            if ts_ticks is not None
            else _dt.datetime.now(_dt.timezone.utc)
        )
    day = now.replace(hour=0, minute=0, second=0, microsecond=0)
    return datetime_to_filetime(day)


class MessageStore:
    """M1-M2 over one tenant's raw-message archive."""

    def __init__(self, spark: SparkSession, layout: EventStoreLayout):
        self.spark = spark
        self.layout = layout

    def append(self, data: bytes, publish_ts: int | None = None) -> None:
        """M1: archive one message; ``ts`` = publish-timestamp header if
        present else now (reference: CassandraMessageStore.cs:32-53)."""
        ts = publish_ts if publish_ts is not None else datetime_to_filetime(
            _dt.datetime.now(_dt.timezone.utc)
        )
        date = midnight_filetime(ts)
        df = self.spark.createDataFrame(
            [(date, ts, data)], schema=schemas.MESSAGE_STORE_SCHEMA
        )
        self.layout.write_messages(df.coalesce(1))

    def append_df(self, messages: DataFrame) -> None:
        """Bulk M1: messages (ts LONG, data BINARY) → date-partitioned append."""
        rows = messages.withColumn(
            "date",
            (F.col("ts") - F.pmod(F.col("ts"), F.lit(864_000_000_000))).cast("long"),
        )
        self.layout.write_messages(rows.repartition("date"))

    def messages_df(self) -> DataFrame:
        return self.layout.read_messages(self.spark)

    def load_messages(
        self, decode: Callable[[bytes], object] | None = None
    ) -> DataFrame:
        """M2: full scan of archived messages (reference:
        CassandraMessageStore.cs:55-69); the reference's page size is
        Spark's file-split size. ``decode`` runs as a UDF when provided."""
        df = self.messages_df().select("data")
        if decode is not None:
            # Arrow-batched scan-path decode (reference seam:
            # ISerializer, CassandraMessageStore.cs:60) — columnar
            # transfer, not per-row pickle
            from inception_eventstore_spark.functions.serde import (
                apply_scalar,
            )

            df = df.withColumn("decoded", apply_scalar(F.col("data"), decode))
        return df
