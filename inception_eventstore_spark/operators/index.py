"""Index-by-event-type operators X1-X6 over a (et, pid)-partitioned table.

Reference: src/One.Inception.EventStore.Cassandra/IndexByEventTypeStore.cs.
The Cassandra table is partitioned by (et, pid) with ts-ordered clustering;
here (et, pid) are directory partition columns, so the reference's manual
day-partition loop (GetRecordsAsync, :174-258) collapses into a single
``pid BETWEEN`` predicate that Catalyst prunes statically.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.filetime import datetime_to_filetime
from inception_eventstore_spark.functions.paging import PagingToken
from inception_eventstore_spark.functions.partitions import (
    pid_col_from_filetime,
    pid_from_filetime,
)
from inception_eventstore_spark.sources.layout import EventStoreLayout


def _require_et(et: str | None) -> None:
    """``et = NULL`` matches no index row: refuse a None type rather
    than answer an empty selection."""
    if et is None:
        raise ValueError("an event type is required, got None")


class IndexByEventTypeStore:
    """X1-X6 over one tenant's index table."""

    def __init__(self, spark: SparkSession, layout: EventStoreLayout):
        self.spark = spark
        self.layout = layout

    def index_df(self) -> DataFrame:
        return self.layout.read_index(self.spark)

    # ------------------------------------------------------------------
    def append(self, records: DataFrame) -> None:
        """X1: idempotent index append (reference:
        IndexByEventTypeStore.cs:44-61). ``records`` must carry
        (et, aid, rev, pos, ts); pid is derived here (:85-98)."""
        rows = records.withColumn("pid", pid_col_from_filetime("ts"))
        self.layout.write_index(
            rows.select("et", "pid", "aid", "rev", "pos", "ts")
            .dropDuplicates(["et", "pid", "aid", "rev", "pos"])
        )

    def get(self, et: str, pid: int) -> DataFrame:
        """X2: one (event type, day) partition, ts-ordered (reference:
        IndexByEventTypeStore.cs:125-136)."""
        return (
            self.index_df()
            .where((F.col("et") == et) & (F.col("pid") == pid))
            .orderBy("ts", "aid", "rev", "pos")
        )

    def get_paged(self, et: str, pid: int, page_size: int,
                  token: PagingToken | None = None) -> tuple[list, PagingToken]:
        """X2 paged form with a deterministic keyset token
        (pid, ts, aid, rev, pos) — replaces the reference's opaque
        driver paging state (:138-170)."""
        df = self.get(et, pid)
        keys = (token.keys if token else {}) or {}
        if "ts" in keys:
            df = df.where(
                (F.col("ts") > keys["ts"])
                | (
                    (F.col("ts") == keys["ts"])
                    & (
                        F.struct("aid", "rev", "pos")
                        > F.struct(
                            F.lit(keys["aid"]).alias("aid"),
                            F.lit(keys["rev"]).alias("rev"),
                            F.lit(keys["pos"]).alias("pos"),
                        )
                    )
                )
            )
        rows = df.limit(page_size + 1).collect()
        has_more = len(rows) > page_size
        rows = rows[:page_size]
        if rows:
            last = rows[-1]
            next_token = PagingToken(
                keys={
                    "pid": pid,
                    "ts": last["ts"],
                    "aid": bytes(last["aid"]),
                    "rev": last["rev"],
                    "pos": last["pos"],
                },
                has_more=has_more,
            )
        else:
            next_token = PagingToken(keys=keys, has_more=False)
        return rows, next_token

    def records(self, et: str, after: int | None = None,
                before: int | None = None) -> DataFrame:
        """X3: time-range scan across day partitions (reference:
        GetRecordsAsync, IndexByEventTypeStore.cs:174-258).

        Bound defaults mirror the reference (:239-257): after ← MIN(ts)
        of the index (X5), before ← now + 1 day. The reference's
        calendar-aware partition loop becomes ``pid BETWEEN`` — pruned
        to the day range by Catalyst. ``et`` is required (ValueError
        when None)."""
        _require_et(et)
        df = self.index_df().where(F.col("et") == et)
        if after is None:
            after = self.min_ts()
            if after is None:
                return df.where(F.lit(False))
        if before is None:
            before = datetime_to_filetime(
                _dt.datetime.now(_dt.timezone.utc) + _dt.timedelta(days=1)
            )
        after_pid = pid_from_filetime(after)
        before_pid = pid_from_filetime(before)
        return df.where(
            F.col("pid").between(after_pid, before_pid)
            & F.col("ts").between(after, before)
        ).orderBy("pid", "ts")

    def delete(self, et: str, pid: int, ts: int, aid: bytes,
               rev: int, pos: int) -> bool:
        """X4: full-key delete (reference: IndexByEventTypeStore.cs:63-83).
        Rewrites only the single (et, pid) day directory — bounded I/O."""
        return self.layout.rewrite_index_partition(
            self.spark, et, pid,
            ~(
                (F.col("ts") == ts)
                & (F.col("aid") == F.lit(aid))
                & (F.col("rev") == rev)
                & (F.col("pos") == pos)
            ),
        )

    def min_ts(self) -> int | None:
        """X5: MIN(ts) over the whole index — the reference's only
        server-side aggregate (IndexByEventTypeStore.cs template :298)."""
        row = self.index_df().agg(F.min("ts").alias("ts")).first()
        return None if row is None or row["ts"] is None else int(row["ts"])

    def count(self, et: str) -> int:
        """X6: COUNT by event type. Disabled in the reference because
        Cassandra cannot do it cheaply (IndexByEventTypeStore.cs:100-123
        returns 0 unconditionally); Spark implements the intent. ``et``
        is required (ValueError when None)."""
        _require_et(et)
        return self.index_df().where(F.col("et") == et).count()
