"""Event-log operators R1-R12 over a partitioned Parquet event table.

Spark-first re-expression of the reference's CassandraEventStore
(reference: src/One.Inception.EventStore.Cassandra/CassandraEventStore.cs):
appends are bulk DataFrame writes; loads are Catalyst-pruned scans;
replay is a single filtered/grouped job; the index-driven replay is a
broadcast-hash join instead of a client-side index-nested-loop.

The on-disk format of every store (paths, schemas, bucket and (et, pid)
directories, sort orders, the tombstone log) belongs to
``sources/layout.EventStoreLayout``; this module decides what to read
and write through it, and every load and replay is one
tombstone-filtered scan (``EventStore._scan``).

Physical design for 100 TB:
- events live in one directory per ``hash(id) % n_buckets`` bucket with
  files sorted by (id, rev, pos); a single-aggregate load touches one
  directory and prunes files via parquet min/max on ``id``.
- a one-aggregate read is one partition, so its grouping and ordering
  run in the scan's single Spark stage, with no exchange.
- deletes are merge-on-read tombstones (Delta is not on the classpath);
  ``compact()`` folds them in. Scans anti-join the (tiny, broadcast)
  tombstone set.
- appends dedupe within the batch on (id, rev, pos); streaming ingest
  additionally anti-joins against keys already on disk (bucket- and
  ts-pruned) so at-least-once redelivery never stores duplicates —
  matching the reference's idempotent PK upsert (SURVEY §4).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_eventstore_spark import schemas
from inception_eventstore_spark.functions.commits import explode_commits, group_commits
from inception_eventstore_spark.functions.paging import PagingToken
from inception_eventstore_spark.functions.partitions import pid_col_from_filetime
from inception_eventstore_spark.sources import fsutil
from inception_eventstore_spark.sources.layout import (
    TOMBSTONE_SCHEMA,
    EventStoreLayout,
)

if TYPE_CHECKING:
    from inception_eventstore_spark.operators.index import IndexByEventTypeStore

#: A bucket holding more data files than this is fragmented:
#: ``optimize_buckets`` rewrites it by default and ``stats`` counts it.
MAX_FILES_PER_BUCKET = 8


@dataclass
class AggregateCommit:
    """The unit of atomic append (reference: AggregateCommit shape at
    CassandraEventStore.cs:61): private + public payloads, one timestamp."""

    aggregate_root_id: bytes
    revision: int
    timestamp: int  # FileTime ticks
    events: list[bytes] = field(default_factory=list)
    public_events: list[bytes] = field(default_factory=list)


@dataclass
class PlayerOptions:
    """Replay options (reference: PlayerOptions used at
    CassandraEventStore.cs:416-460): inclusive FileTime bounds and an
    optional event-type filter."""

    after: int | None = None  # inclusive lower ts bound (FileTime)
    before: int | None = None  # inclusive upper ts bound (FileTime)
    event_type_id: str | None = None


def _in_window(df: DataFrame, options: PlayerOptions) -> DataFrame:
    """Rows whose ts lies inside the options' inclusive bounds."""
    if options.after is not None:
        df = df.where(F.col("ts") >= options.after)
    if options.before is not None:
        df = df.where(F.col("ts") <= options.before)
    return df


def _require_event_type(options: PlayerOptions) -> None:
    """The index-driven replays select by one event type; without one
    the index selection is empty, so refuse rather than return nothing."""
    if options.event_type_id is None:
        raise ValueError(
            "index-driven replay needs options.event_type_id; use "
            "replay() or replay_grouped() to replay every event type"
        )


_COMMIT_INPUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.BinaryType(), False),
        T.StructField("rev", T.IntegerType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("events", T.ArrayType(T.BinaryType()), True),
        T.StructField("public_events", T.ArrayType(T.BinaryType()), True),
    ]
)


class EventStore:
    """R1-R12 over one tenant's event table (see module docstring)."""

    def __init__(self, spark: SparkSession, layout: EventStoreLayout,
                 event_type_of: Callable[[bytes], str] | None = None,
                 event_type_expr: Callable[..., "F.Column"] | None = None):
        self.spark = spark
        self.layout = layout
        #: Pluggable payload → event-type-id resolver (the ISerializer
        #: seam, reference csproj:32); used to maintain the index/counter
        #: views during ingest. Prefer ``event_type_expr`` (a function
        #: data-Column → event-type Column, stays JVM-side/codegen);
        #: ``event_type_of`` (bytes → str) runs as a Python UDF.
        #: Both None disables derived-view maintenance.
        self.event_type_of = event_type_of
        self.event_type_expr = event_type_expr
        #: name → (PropertyIndex, value_expr fn) maintained at ingest —
        #: the reference's dual-write, generalized past event type
        #: (register_property_index)
        self._prop_indexes: dict = {}

    def register_property_index(
        self,
        name: str,
        value_expr: Callable[..., "F.Column"],
        n_buckets: int = 256,
    ):
        """Register a secondary index on a payload property, maintained
        by every subsequent append in the SAME ingest job (the
        reference's index dual-write, `IndexByEventTypeStore.cs:44-61`,
        generalized to any extractable expression — value_expr maps the
        ``data`` column to the indexed value, staying JVM-side).

        The index lives under ``<keyspace>/prop_index_<name>`` keyed by
        the envelope PK (id, rev, pos); query it via the returned
        :class:`~...prop_index.PropertyIndex` (``lookup`` / ``probe``).
        Registration always CATCHES UP: events appended while the index
        was unregistered (a prior session, a migration writing into
        this store) are found by anti-joining the events table against
        the already-indexed PKs and indexed now — so re-registering is
        cheap when nothing is missing (the anti-join finds zero rows)
        and heals silent holes when something is.
        """
        from inception_eventstore_spark.operators.prop_index import (
            PropertyIndex,
        )

        path = self.layout.prop_index_path(name)
        idx = PropertyIndex(
            self.spark, path, ["id", "rev", "pos"], n_buckets
        )
        existing = self.events_df()
        if fsutil.has_data(self.spark, path):
            indexed = self.spark.read.parquet(path).select(
                "id", "rev", "pos"
            )
            missing = existing.join(
                indexed, ["id", "rev", "pos"], "left_anti"
            )
        else:
            missing = existing
        if missing.take(1):
            idx.append(missing, value_expr(F.col("data")))
        self._prop_indexes[name] = (idx, value_expr)
        return idx

    # ------------------------------------------------------------------
    # Write path
    # ------------------------------------------------------------------
    def append_commits_df(self, commits: DataFrame,
                          maintain_index: bool = True) -> None:
        """R1 bulk form: commits DataFrame (id, rev, ts, events[],
        public_events[]) → envelope rows appended in one job.

        The same job maintains the X1 index when an ``event_type_of``
        resolver is configured — replacing the reference's dual-write
        handlers with a single write (SURVEY §3.1)."""
        rows = explode_commits(commits)
        self._append_rows(rows, maintain_index=maintain_index)

    def append_commits(self, commits: Iterable[AggregateCommit],
                       maintain_index: bool = True) -> None:
        """R1 convenience: python commits → DataFrame → bulk append."""
        data = [
            (c.aggregate_root_id, c.revision, c.timestamp, c.events, c.public_events)
            for c in commits
        ]
        df = self.spark.createDataFrame(data, schema=_COMMIT_INPUT_SCHEMA)
        self.append_commits_df(df, maintain_index=maintain_index)

    def append_raw(self, aid: bytes, rev: int, pos: int, ts: int,
                   data: bytes, maintain_index: bool = True) -> None:
        """R2: append one raw envelope row (reference:
        CassandraEventStore.cs:96-110)."""
        df = self.spark.createDataFrame(
            [(aid, rev, pos, ts, data)], schema=schemas.EVENTS_SCHEMA
        )
        self._append_rows(df, maintain_index=maintain_index)

    def _append_rows(self, rows: DataFrame, maintain_index: bool,
                     anti_join_existing: bool = False) -> None:
        rows = rows.dropDuplicates(["id", "rev", "pos"])
        maintain = maintain_index and (
            self.event_type_of is not None or self.event_type_expr is not None
        )
        if not anti_join_existing:
            self.layout.write_events(rows)
            if maintain:
                self._append_index(rows)
            self._append_prop_indexes(rows)
            return
        # Streaming retry path. The batch (post-dedup) feeds the stats
        # job, the anti-join, the events write AND the index derivation —
        # persist it or the plan (including the pruned existing-keys
        # scan) executes up to 4×. Index/counter maintenance anti-joins
        # against the INDEX store, not the events result: if a prior
        # attempt crashed after the events commit but before the index
        # append, the retried rows are already in events (anti-joined to
        # nothing there) yet still missing from the index — deriving the
        # index from the events survivors would lose them permanently.
        rows = rows.persist()
        try:
            self.layout.write_events(self._drop_already_stored(rows))
            if maintain:
                self._append_index(rows, anti_join_existing=True)
            # index the FULL redelivered batch, not the anti-join
            # survivors — if a prior attempt crashed between the events
            # write and this append, the retried rows are already in
            # events (survivors = none) yet still missing from the
            # index (same invariant as _append_index above). The PK
            # keying + probe()'s dedup make re-indexing harmless.
            self._append_prop_indexes(rows)
        finally:
            rows.unpersist()

    def _append_prop_indexes(self, rows: DataFrame) -> None:
        for idx, value_expr in self._prop_indexes.values():
            idx.append(rows, value_expr(F.col("data")))

    def _drop_already_indexed(self, index_rows: DataFrame) -> DataFrame:
        """Anti-join derived index rows against the index store, pruned
        to the batch's (et, pid) partition set (static directory
        pruning — the batch touches a handful of day partitions)."""
        keys = index_rows.select("et", "pid").distinct().collect()
        if not keys:
            return index_rows
        existing = (
            self.layout.read_index(self.spark)
            .where(F.col("et").isin([k["et"] for k in keys]))
            .where(F.col("pid").isin([k["pid"] for k in keys]))
            .select("aid", "rev", "pos")
        )
        return index_rows.join(existing, ["aid", "rev", "pos"], "left_anti")

    def _drop_already_stored(self, rows: DataFrame) -> DataFrame:
        """Cross-batch idempotence for at-least-once delivery: anti-join
        the batch against keys already on disk, so a foreachBatch retry
        after a partially-committed epoch doesn't append duplicates
        (the reference's PK upsert is idempotent the same way,
        CassandraEventStore.cs:96-110).

        Scale: the existing side is pruned to the batch's buckets and
        the batch's [min(ts), max(ts)] window — a duplicate always
        carries the original ts, so parquet min/max stats confine the
        key scan to the files the batch could collide with, not 100 TB.
        """
        if not fsutil.has_data(self.spark, self.layout.events_path):
            return rows
        stats = rows.select(
            F.min("ts").alias("lo"),
            F.max("ts").alias("hi"),
            F.collect_set(self.layout.bucket_col()).alias("buckets"),
        ).first()
        if stats["lo"] is None:
            return rows
        existing = (
            self.layout.read_events(self.spark)
            .where(F.col("bucket").isin(list(stats["buckets"])))
            .where(F.col("ts").between(stats["lo"], stats["hi"]))
            .select("id", "rev", "pos")
        )
        return rows.join(existing, ["id", "rev", "pos"], "left_anti")

    def _append_index(self, rows: DataFrame,
                      anti_join_existing: bool = False) -> None:
        """X1 + C1 maintained inside ingest: the same derived projection
        feeds the (et, pid) index append and the per-type counter deltas
        — one job replaces the reference's separate dual-write handlers
        (SURVEY §3.1).

        ``anti_join_existing`` (streaming retry path) drops rows whose
        (aid, rev, pos) already sit in the index — pruned to the batch's
        (et, pid) partitions — so a re-delivered epoch appends neither
        duplicate index rows nor double counter deltas. Counters are
        derived from the index survivors, which shrinks the
        partial-failure window to the gap between the index write and
        the counter write (exactly-once across three independent parquet
        commits needs a transaction log the storage layer doesn't have;
        a crash landing in that residual window under-counts counters
        until the next ``MessageCounter.compact``-style reconciliation).
        """
        if self.event_type_expr is not None:
            et_col = self.event_type_expr(F.col("data"))
        else:
            # Arrow-batched, never row-at-a-time F.udf: this runs on
            # the ingest hot path for every appended event (reference
            # seam: ISerializer, CassandraEventStore.cs:211)
            from inception_eventstore_spark.functions.serde import (
                apply_scalar,
            )

            et_col = apply_scalar(F.col("data"), self.event_type_of)
        index_rows = rows.select(
            et_col.alias("et"),
            pid_col_from_filetime("ts").alias("pid"),
            F.col("id").alias("aid"),
            "rev",
            "pos",
            "ts",
        )
        if anti_join_existing:
            # localCheckpoint (eager), not persist: the anti-join plan
            # READS the index path the first write below APPENDS to, and
            # Spark invalidates caches over a just-written path — a
            # lazily-recomputed plan would then see its own output and
            # anti-join the counter deltas away. Severing the lineage
            # pins the survivor set computed BEFORE the write.
            index_rows = self._drop_already_indexed(index_rows)
            index_rows = index_rows.localCheckpoint(eager=True)
        index_rows = index_rows.persist()
        try:
            self.layout.write_index(index_rows)
            self.layout.write_counter_deltas(
                index_rows.groupBy(F.col("et").alias("msgid")).agg(
                    F.count("*").alias("cv")
                )
            )
        finally:
            index_rows.unpersist()

    # ------------------------------------------------------------------
    # The one read path
    # ------------------------------------------------------------------
    def _scan(self, aids: list[bytes] | None = None,
              buckets: list[int] | None = None,
              version: int | None = None) -> DataFrame:
        """Live envelope rows; every load and replay reads through here.

        ``aids`` prunes to those aggregates' bucket directories (each
        computed driver-side, no Spark job) and, by parquet min/max on
        ``id``, to their files; ``buckets`` prunes to whole bucket
        directories; ``version`` reads a snapshot's files and tombstones
        instead of the current ones. Deleted rows are folded out by a
        broadcast anti-join with the (tiny) tombstone set.

        A scan of exactly one aggregate returns one partition: its rows
        are a few row groups of one bucket directory (``optimize_buckets``
        keeps a bucket to a few files), and one task reading them lets a
        grouping or an ordering on top skip the exchange (and a sort's
        range-sampling job)."""
        if aids is not None:
            aids = [bytes(a) for a in aids]
            buckets = sorted({self.layout.bucket_of(a) for a in aids})
        df = self.layout.read_events(self.spark, version)
        if buckets is not None:
            df = df.where(F.col("bucket").isin(buckets))
        df = df.drop("bucket")
        if aids is not None:
            df = df.where(F.col("id").isin(aids))
            if len(set(aids)) == 1:
                df = df.coalesce(1)
        tombs = self.layout.read_tombstones(self.spark, version)
        if tombs is not None:
            df = df.join(F.broadcast(tombs), ["id", "rev", "pos"], "left_anti")
        return df

    def events_df(self) -> DataFrame:
        """Live envelope rows (tombstones folded out via broadcast anti-join)."""
        return self._scan()

    # ------------------------------------------------------------------
    # Snapshots (time travel)
    # ------------------------------------------------------------------
    def create_snapshot(self) -> int:
        """Freeze the store's CURRENT logical content as a version:
        the events-table data files plus the tombstone files at this
        moment (deletes are merge-on-read, so the tombstone set is part
        of a version's logical state). Replay (R9-R12) against
        ``events_snapshot(v)`` then scans a consistent, immutable file
        set while ingest keeps appending. NB: ``compact`` physically
        rewrites files, retiring what older manifests point at — prune
        snapshots you no longer need before compacting."""
        return self.layout.create_snapshot(self.spark)

    def snapshot_versions(self) -> list[int]:
        return self.layout.snapshots(self.spark).versions()

    def events_snapshot(self, version: int) -> DataFrame:
        """``events_df`` as of ``version`` — the manifest's event files
        anti-joined with the manifest's (not the current) tombstones."""
        return self._scan(version=version)

    # ------------------------------------------------------------------
    # Read path
    # ------------------------------------------------------------------
    def load_aggregate(self, aid: bytes) -> DataFrame:
        """R3: one aggregate's commits in (rev ASC) order with the
        private/public split (reference: CassandraEventStore.cs:112-117,
        AggregateCommitBlock.cs:33-76). Returns the commit DataFrame,
        already ordered by rev; it runs as one Spark stage."""
        return group_commits(self._scan([aid])).orderBy("rev")

    def load_aggregates(self, aids: list[bytes]) -> DataFrame:
        """Bulk R3: commit streams of MANY aggregates in one job — the
        reference can only loop LoadAsync per aggregate; Spark-first the
        id set becomes one pruned scan + one grouping shuffle."""
        return group_commits(self._scan(aids)).orderBy("id", "rev")

    def load_with_paging(
        self,
        aid: bytes,
        take: int,
        token: PagingToken | None = None,
        descending: bool = False,
    ) -> tuple[list, PagingToken]:
        """R4/R5: keyset-paged raw events for one aggregate.

        Deterministic value-based token = last (rev, pos) (SURVEY §4
        replaces Cassandra's opaque PagingState, PagingInfo.cs:54-92).
        Returns (rows, next_token)."""
        df = self._scan([aid]).select("rev", "pos", "ts", "data")
        keys = (token.keys if token else {}) or {}
        last_rev, last_pos = keys.get("rev"), keys.get("pos")
        if last_rev is not None:
            boundary = (F.col("rev") < last_rev) if descending else (
                F.col("rev") > last_rev
            )
            tie = (F.col("rev") == last_rev) & (
                (F.col("pos") < last_pos) if descending else (F.col("pos") > last_pos)
            )
            df = df.where(boundary | tie)
        order = (
            [F.col("rev").desc(), F.col("pos").desc()]
            if descending
            else [F.col("rev").asc(), F.col("pos").asc()]
        )
        rows = df.orderBy(*order).limit(take + 1).collect()
        has_more = len(rows) > take
        rows = rows[:take]
        if rows:
            next_token = PagingToken(
                keys={"rev": rows[-1]["rev"], "pos": rows[-1]["pos"]},
                has_more=has_more,
            )
        else:
            next_token = PagingToken(keys=keys, has_more=False)
        return rows, next_token

    def load_event_raw(self, aid: bytes, rev: int, pos: int):
        """R6: point lookup (reference: CassandraEventStore.cs:177-193).
        Returns a Row or None."""
        rows = (
            self._scan([aid])
            .where((F.col("rev") == rev) & (F.col("pos") == pos))
            .select("data", "ts")
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    def load_event(self, aid: bytes, rev: int, pos: int,
                   deserialize: Callable[[bytes], object]):
        """R7: point lookup + payload decode (reference:
        CassandraEventStore.cs:163-175)."""
        row = self.load_event_raw(aid, rev, pos)
        return deserialize(bytes(row["data"])) if row is not None else None

    # ------------------------------------------------------------------
    # Delete
    # ------------------------------------------------------------------
    #: Fold the tombstone log once it holds this many files — each
    #: single delete appends one tiny file; folding keeps the broadcast
    #: anti-join side a handful of files regardless of delete count.
    tombstone_fold_threshold: int = 64

    def delete(self, aid: bytes, rev: int, pos: int) -> bool:
        """R8: tombstone one event (reference: CassandraEventStore.cs:126-146).
        Merge-on-read; ``compact()`` rewrites files to drop tombstoned rows."""
        self.layout.write_tombstones(
            self.spark.createDataFrame([(aid, rev, pos)], schema=TOMBSTONE_SCHEMA)
        )
        self._maybe_fold_tombstones()
        return True

    def delete_df(self, keys: DataFrame) -> None:
        """R8 bulk form: tombstone many (id, rev, pos) keys in one append."""
        self.layout.write_tombstones(
            keys.select("id", "rev", "pos").dropDuplicates()
        )
        self._maybe_fold_tombstones()

    def _maybe_fold_tombstones(self) -> None:
        """Rewrite the (tiny) tombstone log into one file when the
        file count passes the threshold — O(#tombstones), never touches
        the base table."""
        if (
            fsutil.data_file_count(self.spark, self.layout.tombstones_path)
            < self.tombstone_fold_threshold
        ):
            return
        folded = self.layout.read_tombstones(self.spark).dropDuplicates(
            ["id", "rev", "pos"]
        )
        self.layout.write_tombstones(folded, replace=True)

    def optimize(self) -> None:
        """Small-file compaction: rewrite every bucket into freshly
        sorted files (and fold in any tombstones). Each append job adds
        a file per bucket; replay throughput degrades once buckets hold
        hundreds of small files — periodic optimize restores one sorted
        run per bucket, which also restores tight (id, rev, pos) min/max
        stats for point-lookup pruning. At 100 TB prefer
        ``optimize_buckets`` — a full-table rewrite is rarely
        affordable, and appends only fragment the buckets they touch."""
        self._rewrite(self.events_df())

    def optimize_buckets(
        self,
        max_files_per_bucket: int = MAX_FILES_PER_BUCKET,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> list[int]:
        """Selective small-file compaction: rewrite ONLY buckets whose
        data-file count exceeds ``max_files_per_bucket``, each into
        ceil(bytes / target_file_bytes) sorted files. Hot buckets (the
        ones appends fragment) are found from a driver-side metadata
        listing — cold buckets are never read or written, so the cost
        scales with the fragmented fraction, not the table. Rows are
        rewritten verbatim (tombstones keep filtering at read time;
        ``compact()`` folds them), so the pass is purely a layout
        change. Returns the bucket ids rewritten."""
        compacted: list[int] = []
        for b in range(self.layout.n_buckets):
            bpath = self.layout.bucket_path(b)
            if fsutil.data_file_count(self.spark, bpath) <= max_files_per_bucket:
                continue
            n_out = max(
                1,
                -(-fsutil.dir_data_bytes(self.spark, bpath)
                  // target_file_bytes),
            )
            self.layout.rewrite_bucket(self.spark, b, int(n_out))
            compacted.append(b)
        return compacted

    def compact(self) -> None:
        """Fold tombstones into the base files (one rewrite job)."""
        if not fsutil.has_data(self.spark, self.layout.tombstones_path):
            return
        self._rewrite(self.events_df())

    def _rewrite(self, live: DataFrame) -> None:
        """Swap the events table for ``live`` and drop the tombstone
        log it has folded in."""
        self.layout.write_events(live, replace=True)
        fsutil.delete_path(self.spark, self.layout.tombstones_path)

    def stats(self) -> dict:
        """Layout observability: per-store file counts and bytes plus
        the live tombstone count — the numbers an operator watches to
        decide when to run ``optimize_buckets``/``compact``. Pure
        driver-side metadata listing (no table scan)."""
        lay = self.layout
        return {
            "events_files": fsutil.data_file_count(self.spark, lay.events_path),
            "events_bytes": fsutil.dir_data_bytes(self.spark, lay.events_path),
            "tombstone_files": fsutil.data_file_count(
                self.spark, lay.tombstones_path
            ),
            "index_files": fsutil.data_file_count(self.spark, lay.index_path),
            "counter_files": fsutil.data_file_count(
                self.spark, lay.counter_path
            ),
            "fragmented_buckets": sum(
                1
                for b in range(lay.n_buckets)
                if fsutil.data_file_count(self.spark, lay.bucket_path(b))
                > MAX_FILES_PER_BUCKET
            ),
        }

    # ------------------------------------------------------------------
    # Replay surface
    # ------------------------------------------------------------------
    def replay(self, options: PlayerOptions | None = None) -> DataFrame:
        """R9: full event-store scan with the inclusive time window
        pushed down to parquet row groups — the reference applies this
        filter client-side after a full scan (CassandraEventStore.cs:440);
        Catalyst does strictly better (SURVEY §4)."""
        return _in_window(self.events_df(), options or PlayerOptions())

    def replay_grouped(self, options: PlayerOptions | None = None) -> DataFrame:
        """R10: replay grouped into per-aggregate commit streams
        (reference: EnumerateEventStoreGG, CassandraEventStore.cs:336-391
        — which depends on Cassandra partition contiguity; here the
        grouping is an explicit shuffle on id, correct by construction)."""
        return group_commits(self.replay(options)).orderBy("id", "rev")

    def replay_by_event_type(self, index: IndexByEventTypeStore,
                             options: PlayerOptions) -> DataFrame:
        """R11: index-driven replay = index selection joined back to the
        event log (reference does a client-side index-nested-loop with
        bounded parallelism, CassandraEventStore.cs:278-334; here the
        day-pruned index selection joins on (id, rev, pos) and AQE picks
        broadcast when the selection is small).

        ``options.event_type_id`` is required (ValueError when None):
        the untyped replays are ``replay()`` and ``replay_grouped()``."""
        _require_event_type(options)
        sel = index.records(options.event_type_id, options.after, options.before)
        sel = sel.select(
            F.col("aid").alias("id"), "rev", "pos"
        ).dropDuplicates(["id", "rev", "pos"])
        return self.events_df().join(sel, ["id", "rev", "pos"], "inner")

    def replay_aggregates_by_event_type(self, index: IndexByEventTypeStore,
                                        options: PlayerOptions) -> DataFrame:
        """R11 variant (OnAggregateStreamLoadedAsync): full commit streams
        of every aggregate that has at least one matching event — a
        semi-join then R10 grouping (SURVEY §2 R11).

        ``options.event_type_id`` is required (ValueError when None):
        the untyped replays are ``replay()`` and ``replay_grouped()``."""
        _require_event_type(options)
        sel = index.records(options.event_type_id, options.after, options.before)
        hit_ids = sel.select(F.col("aid").alias("id")).distinct()
        # no broadcast hint: a broad type+time selection can hit most
        # aggregates — AQE broadcasts the id set only when it is small
        rows = self.events_df().join(hit_ids, ["id"], "left_semi")
        return group_commits(rows).orderBy("id", "rev")

    def for_each_aggregate(self, options: PlayerOptions,
                           fn: Callable[[object], None],
                           on_progress: Callable[[str], None] | None = None) -> None:
        """R10 callback form: stream per-aggregate commit groups through
        ``fn`` on the executors (the reference's OnLoadAsync fan-out with
        MaxDegreeOfParallelism becomes Spark task parallelism).

        ``on_progress`` (R12, reference NotifyProgressAsync at
        CassandraEventStore.cs:462-472) receives one encoded token per
        partition — (partition id, groups processed, last aggregate
        high-water mark). Callback exceptions are swallowed like the
        reference's (HandlePaginationStateChangesAsync catch-all)."""
        grouped = self.replay_grouped(options)
        if on_progress is None:
            grouped.foreachPartition(
                lambda rows: [fn(r) for r in rows] and None
            )
            return

        # Per-partition summaries travel back on an accumulator (merged
        # into task-completion updates) rather than a job-wide collect of
        # task results, so the R12 path stays O(#partitions) driver memory
        # and never materializes rows driver-side at any scale.
        from pyspark.accumulators import AccumulatorParam

        class _SummaryAccum(AccumulatorParam):
            def zero(self, value):
                return []

            def addInPlace(self, a, b):
                a.extend(b)
                return a

        acc = self.spark.sparkContext.accumulator([], _SummaryAccum())

        def run(pid: int, it):
            n = 0
            last_id, last_rev = None, None
            for r in it:
                fn(r)
                n += 1
                last_id, last_rev = r["id"], r["rev"]
            acc.add([(pid, n, last_id, last_rev)])
            return iter(())

        grouped.rdd.mapPartitionsWithIndex(run).count()
        # Accumulator updates inside a TRANSFORMATION are at-least-once
        # (a retried/speculated task re-adds its summary); dedupe by
        # partition id — a partition's summary is deterministic, so the
        # first occurrence is authoritative.
        unique: dict[int, tuple] = {}
        for summary in acc.value:
            unique.setdefault(summary[0], summary)
        for pid, n, last_id, last_rev in (
            unique[p] for p in sorted(unique)
        ):
            token = PagingToken(
                keys={
                    "partition": pid,
                    "groups": n,
                    "id": bytes(last_id) if last_id is not None else b"",
                    "rev": last_rev if last_rev is not None else -1,
                },
                has_more=False,
            )
            try:
                on_progress(token.encode())
            except Exception:
                pass  # reference swallows callback failures (logs only)

    def replay_chunked(
        self,
        options: PlayerOptions | None = None,
        on_progress: Callable[[str], None] | None = None,
        resume_token: str | None = None,
        chunk_rows: int = 10_000,
    ):
        """R9+R12 enumeration form: yield replay rows bucket-by-bucket
        with a resumable progress token after each chunk.

        The reference enumerates Cassandra partitions page-wise and
        surfaces the paging state through ``onPagingInfoChanged``
        (CassandraEventStore.cs:416-472); the Spark analog of a "page"
        is a bucket directory — each chunk is a partition-pruned scan,
        and the token (last completed bucket) makes the whole replay
        resumable after a crash: pass it back as ``resume_token`` and
        completed buckets are never re-read. Callback exceptions are
        swallowed, mirroring HandlePaginationStateChangesAsync.

        Driver memory is bounded by ``chunk_rows`` (plus one in-flight
        executor partition): each bucket streams through
        ``toLocalIterator(prefetchPartitions=False)`` — never a
        full-bucket ``collect`` — matching the reference's page-wise
        ``IAsyncEnumerable`` contract (CassandraEventStore.cs:416-460)
        where a page, not a partition, is the unit held in memory."""
        from inception_eventstore_spark.functions.paging import decode_token

        options = options or PlayerOptions()
        start_after = -1
        if resume_token is not None:
            start_after = decode_token(resume_token).keys.get("bucket", -1)
        for bucket in range(start_after + 1, self.layout.n_buckets):
            df = _in_window(self._scan(buckets=[bucket]), options)
            n_rows = 0
            chunk: list = []
            for r in df.toLocalIterator(prefetchPartitions=False):
                chunk.append(r)
                if len(chunk) >= chunk_rows:
                    n_rows += len(chunk)
                    yield chunk
                    chunk = []
            if chunk:
                n_rows += len(chunk)
                yield chunk
            if on_progress is not None:
                token = PagingToken(
                    keys={"bucket": bucket, "rows": n_rows},
                    has_more=bucket < self.layout.n_buckets - 1,
                )
                try:
                    on_progress(token.encode())
                except Exception:
                    pass  # reference swallows callback failures


def latest_property_state(
    events: DataFrame,
    key_col: str = "user_id",
    props_col: str = "props",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(key, prop_key, latest_value, n_set, last_set_ts) — the
    event-sourcing PROJECTION rebuild as a declarative table: for every
    aggregate, the last-written value of each payload property (the
    state an event-sourced handler folds to, computed set-wise instead
    of per-aggregate replay — the reference rebuilds this imperatively
    via LoadEventWithRebuildProjectionAsync + handler dispatch,
    CassandraEventStore.cs:163-175).

    Payloads parse as a JSON string→string map; one explode + ONE
    partial-aggregated groupBy with ``max_by`` over the (ts, tiebreak)
    struct — no window, no per-aggregate sort, so the shuffle carries
    one row per (aggregate, property) candidate. Latest-wins ties
    resolve by the tiebreak column, the same contract as
    `merge.merge_changelog` (which covers full-row upserts; this is
    the per-PROPERTY fold)."""
    m = F.from_json(F.col(props_col), "map<string,string>")
    ex = events.where(F.col(props_col).isNotNull()).select(
        F.col(key_col),
        F.col(ts_col),
        F.col(tiebreak_col),
        F.explode(m).alias("prop_key", "_v"),
    )
    return ex.groupBy(key_col, "prop_key").agg(
        F.max_by(
            "_v", F.struct(F.col(ts_col), F.col(tiebreak_col))
        ).alias("latest_value"),
        F.count("*").alias("n_set"),
        F.max(ts_col).alias("last_set_ts"),
    )


def property_scd2(
    events: DataFrame,
    key_col: str = "user_id",
    props_col: str = "props",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(key, prop_key, value, valid_from, valid_to, version,
    is_current) — the SCD Type-2 history table of every payload
    property: one row per VALUE INTERVAL, consecutive re-writes of the
    same value collapsed, ``valid_to`` = the next change's timestamp
    (NULL while current), ``version`` = 1-based change ordinal. The
    warehouse-standard "slowly changing dimension" build, derived
    set-wise from the event log instead of per-aggregate replay —
    `latest_property_state` is exactly this table filtered to
    ``is_current = 1``.

    Scale: one JSON explode, then lag/lead windows partitioned by
    (aggregate, property) — millions of small partitions, no
    skew-prone key (a single aggregate's write count is bounded by
    its own history, the same per-partition contract Cassandra's
    clustering imposes in the reference, CassandraEventStore.cs:163).
    Writes at the same (ts, tiebreak) order deterministically by the
    tiebreak, so versions are reproducible on any engine."""
    m = F.from_json(F.col(props_col), "map<string,string>")
    ex = events.where(F.col(props_col).isNotNull()).select(
        F.col(key_col),
        F.col(ts_col),
        F.col(tiebreak_col),
        F.explode(m).alias("prop_key", "_v"),
    )
    w = Window.partitionBy(key_col, "prop_key").orderBy(
        F.col(ts_col), F.col(tiebreak_col)
    )
    # collapse consecutive same-value writes: keep only CHANGE rows
    changed = ex.withColumn("_prev", F.lag("_v").over(w)).where(
        F.col("_prev").isNull() | (F.col("_prev") != F.col("_v"))
    )
    wc = Window.partitionBy(key_col, "prop_key").orderBy(
        F.col(ts_col), F.col(tiebreak_col)
    )
    return changed.select(
        F.col(key_col),
        F.col("prop_key"),
        F.col("_v").alias("value"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(wc).alias("valid_to"),
        F.row_number().over(wc).cast("bigint").alias("version"),
        F.when(F.lead(ts_col).over(wc).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_current"),
    )


def latest_property_state_incremental(
    events: DataFrame,
    snapshot_ts,
    key_col: str = "user_id",
    props_col: str = "props",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """`latest_property_state`, computed INCREMENTALLY: fold events
    strictly before ``snapshot_ts`` into a snapshot table, fold the
    delta separately, and MERGE — the event-sourcing snapshot
    optimization that turns projection maintenance from a full-log
    replay into (cheap snapshot scan) + (delta fold). The result is
    row-identical to the batch fold over the whole log, which the
    declared query certifies against the full-replay oracle.

    Merge correctness rests on the split being strict on the
    timestamp: every delta write is strictly newer than every
    snapshot write of the same (aggregate, property), so
    latest-wins = delta-if-present; counts add; last-write
    timestamps max. One full-outer join on the (aggregate, property)
    key — both sides are already one row per key."""
    old = events.where(F.col(ts_col) < F.lit(snapshot_ts))
    new = events.where(F.col(ts_col) >= F.lit(snapshot_ts))
    snap = latest_property_state(
        old, key_col, props_col, ts_col, tiebreak_col
    )
    delta = latest_property_state(
        new, key_col, props_col, ts_col, tiebreak_col
    )
    s = snap.select(
        key_col, "prop_key",
        F.col("latest_value").alias("_sv"),
        F.col("n_set").alias("_sn"),
        F.col("last_set_ts").alias("_st"),
    )
    d = delta.select(
        key_col, "prop_key",
        F.col("latest_value").alias("_dv"),
        F.col("n_set").alias("_dn"),
        F.col("last_set_ts").alias("_dt"),
    )
    return s.join(d, [key_col, "prop_key"], "full_outer").select(
        F.col(key_col),
        "prop_key",
        F.coalesce(F.col("_dv"), F.col("_sv")).alias("latest_value"),
        (
            F.coalesce(F.col("_sn"), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias("n_set"),
        F.greatest(F.col("_dt"), F.col("_st")).alias("last_set_ts"),
    )
