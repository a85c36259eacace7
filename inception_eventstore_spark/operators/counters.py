"""Message-counter operators C1-C4 as an append-only delta log + sum view.

Reference: src/One.Inception.EventStore.Cassandra/Counters/MessageCounter.cs.
Cassandra's commutative CRDT counter column becomes an append-only log of
(msgid, delta) rows whose running value is an associative SUM — Catalyst's
partial+final aggregation distributes it exactly like the CRDT merges
(SURVEY §4 "Counter CRDT writes"). ``compact()`` folds the log into one
row per msgid so the view stays O(#types) regardless of increment count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inception_eventstore_spark import schemas
from inception_eventstore_spark.sources import fsutil
from inception_eventstore_spark.sources.layout import EventStoreLayout


class MessageCounter:
    """C1-C4 over one tenant's counter store.

    Each single increment appends one tiny file; past
    ``auto_compact_threshold`` files the delta log is folded into one
    row per msgid (O(#types) data), so a hot counter stays bounded in
    file count without waiting for a manual ``compact()``.
    """

    def __init__(self, spark: SparkSession, layout: EventStoreLayout,
                 auto_compact_threshold: int = 64):
        self.spark = spark
        self.layout = layout
        self.auto_compact_threshold = auto_compact_threshold

    def _append_delta(self, msgid: str, delta: int) -> None:
        df = self.spark.createDataFrame(
            [(msgid, delta)], schema=schemas.COUNTER_SCHEMA
        )
        self.layout.write_counter_deltas(df.coalesce(1))
        if (
            fsutil.data_file_count(self.spark, self.layout.counter_path)
            >= self.auto_compact_threshold
        ):
            self.compact()

    def increment(self, msgid: str, n: int = 1) -> None:
        """C1 (reference: MessageCounter.cs:63-73)."""
        self._append_delta(msgid, n)

    def decrement(self, msgid: str, n: int = 1) -> None:
        """C2 (reference: MessageCounter.cs:75-85)."""
        self._append_delta(msgid, -n)

    def counters_df(self) -> DataFrame:
        """The counter view: SUM over deltas per msgid."""
        return (
            self.layout.read_counter_deltas(self.spark)
            .groupBy("msgid")
            .agg(F.sum("cv").alias("cv"))
        )

    def get_count(self, msgid: str) -> int:
        """C3: current value, 0 if absent (reference: MessageCounter.cs:87-111).

        One msgid's deltas are few: they are summed in one partition, so
        the read is one Spark stage with no exchange."""
        row = (
            self.layout.read_counter_deltas(self.spark)
            .where(F.col("msgid") == msgid)
            .coalesce(1)
            .agg(F.sum("cv").alias("cv"))
            .first()
        )
        return 0 if row["cv"] is None else int(row["cv"])

    def reset(self, msgid: str) -> None:
        """C4: observable result = row present with cv = 0 (reference:
        MessageCounter.cs:113-117; test MessageCounterTests.cs:82-101).
        The reference's read-then-decrement race is not cloned — the
        append of a compensating delta is atomic per file commit."""
        current = self.get_count(msgid)
        if current != 0:
            self._append_delta(msgid, -current)
        else:
            self._append_delta(msgid, 0)

    def compact(self) -> None:
        """Fold the delta log into one row per msgid."""
        if not fsutil.has_data(self.spark, self.layout.counter_path):
            return
        self.layout.write_counter_deltas(
            self.counters_df().coalesce(1), replace=True
        )
