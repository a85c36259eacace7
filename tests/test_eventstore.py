"""End-to-end tests of the event-store engine over local Parquet,
mirroring the reference's integration suite (SURVEY §5; fixture
scenarios FIXTURES.md §2, reference tests CassandraEventStoreTests.cs).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.filetime import datetime_to_filetime
from inception_eventstore_spark.functions.paging import PagingToken
from inception_eventstore_spark.operators.eventstore import (
    AggregateCommit,
    EventStore,
    PlayerOptions,
)
from inception_eventstore_spark.operators.index import IndexByEventTypeStore
from inception_eventstore_spark.sources import layout as L

import datetime as dt

T0 = datetime_to_filetime(dt.datetime(2024, 3, 14, 12, 0, 0, tzinfo=dt.timezone.utc))
SEC = 10_000_000  # FileTime ticks per second
DAY = 864_000_000_000

AID1 = b"aggregate-one-" + bytes(range(50))
AID2 = b"aggregate-two-" + bytes(range(50, 100))
AID3 = b"aggregate-three-" + bytes(range(100, 150))


def _payload(name: str, et: str = "type-a") -> bytes:
    return json.dumps({"name": name, "et": et}).encode()


def _et_expr(data_col):
    """JVM-side event-type extraction from the JSON payload."""
    return F.get_json_object(data_col.cast("string"), "$.et")


@pytest.fixture()
def store(spark, warehouse):
    lay = L.for_tenant(warehouse, "tests", "eventstore")
    return EventStore(spark, lay, event_type_expr=_et_expr)


class TestAppendLoad:
    def test_single_commit_round_trip(self, store):
        """Mirrors CassandraEventStoreTests.cs:100-135: 1 private (pos 0)
        + 1 public (pos 5)."""
        commit = AggregateCommit(
            AID1, 1, T0, [_payload("p0")], [_payload("pub0")]
        )
        store.append_commits([commit])
        rows = (
            store.events_df().orderBy("rev", "pos").collect()
        )
        assert [(r["rev"], r["pos"]) for r in rows] == [(1, 0), (1, 5)]

        commits = store.load_aggregate(AID1).collect()
        assert len(commits) == 1
        c = commits[0]
        assert c["rev"] == 1 and c["ts"] == T0
        assert [bytes(e) for e in c["events"]] == [_payload("p0")]
        assert [bytes(e) for e in c["public_events"]] == [_payload("pub0")]

    def test_multi_revision_order_and_split(self, store):
        """Mirrors :161-197: rev 1 (private+public), rev 2 (private only)."""
        store.append_commits(
            [
                AggregateCommit(AID1, 1, T0, [_payload("a"), _payload("b")],
                                [_payload("pub")]),
                AggregateCommit(AID1, 2, T0 + SEC, [_payload("c")], []),
            ]
        )
        commits = store.load_aggregate(AID1).collect()
        assert [c["rev"] for c in commits] == [1, 2]
        first, second = commits
        assert [bytes(e) for e in first["events"]] == [_payload("a"), _payload("b")]
        assert [bytes(e) for e in first["public_events"]] == [_payload("pub")]
        # public of 2-private commit sits at pos (2-1)+5 = 6
        raw = store.events_df().where(F.col("rev") == 1).orderBy("pos").collect()
        assert [r["pos"] for r in raw] == [0, 1, 6]
        assert [bytes(e) for e in second["events"]] == [_payload("c")]
        assert second["public_events"] == []

    def test_raw_append(self, store):
        """Mirrors :137-159."""
        store.append_raw(AID1, 2, 0, T0, _payload("raw"))
        rows = store.events_df().collect()
        assert len(rows) == 1
        assert rows[0]["rev"] == 2 and rows[0]["pos"] == 0

    def test_append_is_idempotent_within_batch(self, store):
        commit = AggregateCommit(AID1, 1, T0, [_payload("x")], [])
        store.append_commits([commit, commit])
        assert store.events_df().count() == 1


class TestPointLookupAndPaging:
    def test_point_lookup_hit_and_miss(self, store):
        """Mirrors :199-239."""
        store.append_commits(
            [AggregateCommit(AID1, 1, T0, [_payload("p")], [_payload("q")])]
        )
        hit = store.load_event_raw(AID1, 1, 5)
        assert hit is not None and bytes(hit["data"]) == _payload("q")
        assert hit["ts"] == T0
        assert store.load_event_raw(AID1, 9, 0) is None
        decoded = store.load_event(AID1, 1, 0, lambda b: json.loads(b.decode()))
        assert decoded["name"] == "p"

    def test_paged_load_asc_desc(self, store):
        """Mirrors :241-260 with take=2 over 6 rows; keyset tokens."""
        commits = [
            AggregateCommit(AID1, rev, T0 + rev * SEC, [_payload(f"e{rev}a"),
                                                        _payload(f"e{rev}b")], [])
            for rev in (1, 2, 3)
        ]
        store.append_commits(commits)
        seen = []
        token: PagingToken | None = None
        for _ in range(4):
            rows, token = store.load_with_paging(AID1, 2, token)
            seen.extend((r["rev"], r["pos"]) for r in rows)
            if not token.has_more:
                break
        assert seen == [(1, 0), (1, 1), (2, 0), (2, 1), (3, 0), (3, 1)]

        rows, token = store.load_with_paging(AID1, 4, None, descending=True)
        assert [(r["rev"], r["pos"]) for r in rows] == [
            (3, 1), (3, 0), (2, 1), (2, 0)
        ]
        rows, token = store.load_with_paging(AID1, 4, token, descending=True)
        assert [(r["rev"], r["pos"]) for r in rows] == [(1, 1), (1, 0)]
        assert token.has_more is False


class TestDelete:
    def test_delete_then_load_empty(self, store):
        """Mirrors :329-350."""
        store.append_commits([AggregateCommit(AID1, 1, T0, [_payload("x")], [])])
        assert store.delete(AID1, 1, 0) is True
        assert store.events_df().count() == 0
        assert store.load_aggregate(AID1).count() == 0

    def test_optimize_compacts_files(self, store):
        """Repeated appends leave many files per bucket; optimize
        rewrites to one sorted run per bucket, preserving every row."""
        import glob

        for rev in range(1, 6):
            store.append_commits(
                [AggregateCommit(AID1, rev, T0 + rev, [_payload(f"e{rev}")], [])]
            )
        before = len(glob.glob(store.layout.events_path + "/**/*.parquet",
                               recursive=True))
        rows_before = {(r["rev"], r["pos"]) for r in store.events_df().collect()}
        store.optimize()
        after = len(glob.glob(store.layout.events_path + "/**/*.parquet",
                              recursive=True))
        assert after < before
        assert {(r["rev"], r["pos"]) for r in store.events_df().collect()} == (
            rows_before
        )

    def test_compact_folds_tombstones(self, store):
        store.append_commits(
            [AggregateCommit(AID1, 1, T0, [_payload("x"), _payload("y")], [])]
        )
        store.delete(AID1, 1, 0)
        store.compact()
        assert store.layout.read_tombstones(store.spark) is None
        rows = store.events_df().collect()
        assert [(r["rev"], r["pos"]) for r in rows] == [(1, 1)]


class TestReplay:
    def _seed(self, store):
        store.append_commits(
            [
                AggregateCommit(AID1, 1, T0, [_payload("a1", "type-a")], []),
                AggregateCommit(AID2, 1, T0 + DAY, [_payload("b1", "type-b")], []),
                AggregateCommit(AID3, 1, T0 + 2 * DAY,
                                [_payload("c1", "type-a")], []),
                AggregateCommit(AID1, 2, T0 + 3 * DAY,
                                [_payload("a2", "type-b")], []),
            ]
        )

    def test_full_replay_time_window_inclusive(self, store):
        """Mirrors the client-side filter at CassandraEventStore.cs:440 —
        bounds are inclusive on both ends."""
        self._seed(store)
        df = store.replay(PlayerOptions(after=T0 + DAY, before=T0 + 2 * DAY))
        got = {bytes(r["data"]) for r in df.collect()}
        assert got == {_payload("b1", "type-b"), _payload("c1", "type-a")}

    def test_replay_grouped_per_aggregate(self, store):
        """Mirrors EnumerateEventStoreGG grouping (:336-391)."""
        self._seed(store)
        grouped = store.replay_grouped().collect()
        by_id = {}
        for row in grouped:
            by_id.setdefault(bytes(row["id"]), []).append(row["rev"])
        assert by_id == {AID1: [1, 2], AID2: [1], AID3: [1]}

    def test_bulk_load_aggregates(self, store):
        """Bulk R3: several aggregates' commit streams in one job."""
        self._seed(store)
        commits = store.load_aggregates([AID1, AID3]).collect()
        by_id = {}
        for r in commits:
            by_id.setdefault(bytes(r["id"]), []).append(r["rev"])
        assert by_id == {AID1: [1, 2], AID3: [1]}

    def test_index_driven_replay(self, store):
        """Mirrors index replay (:262-327): one type over a window."""
        self._seed(store)
        idx = IndexByEventTypeStore(store.spark, store.layout)
        opts = PlayerOptions(event_type_id="type-a", after=T0,
                             before=T0 + 4 * DAY)
        rows = store.replay_by_event_type(idx, opts).collect()
        assert {bytes(r["data"]) for r in rows} == {
            _payload("a1", "type-a"),
            _payload("c1", "type-a"),
        }

    def test_index_driven_aggregate_streams(self, store):
        self._seed(store)
        idx = IndexByEventTypeStore(store.spark, store.layout)
        opts = PlayerOptions(event_type_id="type-b", after=T0,
                             before=T0 + 4 * DAY)
        commits = store.replay_aggregates_by_event_type(idx, opts).collect()
        ids = {bytes(r["id"]) for r in commits}
        # type-b hits AID2(rev1) and AID1(rev2) → full streams of both
        assert ids == {AID1, AID2}
        revs_a1 = [r["rev"] for r in commits if bytes(r["id"]) == AID1]
        assert revs_a1 == [1, 2]

    @pytest.mark.parametrize(
        "replay", ["replay_by_event_type", "replay_aggregates_by_event_type"]
    )
    def test_index_driven_replay_needs_event_type(self, store, replay):
        """Without an event type the index selection would match nothing:
        the replay refuses and points at the untyped replays."""
        self._seed(store)
        idx = IndexByEventTypeStore(store.spark, store.layout)
        with pytest.raises(ValueError, match=r"replay\(\).*replay_grouped"):
            getattr(store, replay)(idx, PlayerOptions(after=T0))
        with pytest.raises(ValueError):
            idx.count(None)


def _jobs_of(spark, action) -> int:
    """Spark jobs ``action`` launches, read from its own job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestSingleKeyReadsOneStage:
    """A read of one aggregate or one counter is one Spark job: the scan
    is one partition, so grouping and ordering it need no exchange."""

    @pytest.fixture()
    def bucketed(self, spark, tmp_path):
        lay = L.EventStoreLayout(
            warehouse=str(tmp_path / "wh"), keyspace="one_stage", n_buckets=4
        )
        lay.ensure_storage()
        store = EventStore(spark, lay, event_type_expr=_et_expr)
        aids = [f"agg-{i}".encode() for i in range(8)]
        for rev in (1, 2):  # two appends: two files per bucket
            store.append_commits(
                [
                    AggregateCommit(a, rev, T0 + rev, [_payload(f"{a}{rev}")],
                                    [_payload(f"pub-{a}{rev}")])
                    for a in aids
                ]
            )
        return store, aids

    @pytest.mark.parametrize(
        "read",
        ["load_aggregate", "load_event_raw", "load_with_paging", "get_count"],
    )
    def test_one_job(self, spark, bucketed, read):
        from inception_eventstore_spark.operators.counters import MessageCounter

        store, aids = bucketed
        counter = MessageCounter(spark, store.layout)
        action = {
            "load_aggregate": lambda: store.load_aggregate(aids[0]).collect(),
            "load_event_raw": lambda: store.load_event_raw(aids[0], 1, 0),
            "load_with_paging": lambda: store.load_with_paging(aids[0], 1),
            "get_count": lambda: counter.get_count("type-a"),
        }[read]
        assert _jobs_of(spark, action) == 1

    def test_load_aggregate_plan_has_no_exchange(self, bucketed):
        store, aids = bucketed
        df = store.load_aggregate(aids[0])
        assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
        commits = df.collect()
        assert [c["rev"] for c in commits] == [1, 2]
        assert [len(c["events"]) for c in commits] == [1, 1]
        assert [len(c["public_events"]) for c in commits] == [1, 1]

    def test_group_commits_sorts_once(self, bucketed):
        """The private and public arrays share one sorted cell array:
        collapsing projections must not copy ``array_sort`` into both."""
        from inception_eventstore_spark.functions.commits import group_commits

        store, _ = bucketed
        plan = group_commits(store.events_df())._jdf.queryExecution()
        assert plan.optimizedPlan().toString().count("array_sort(") == 1

    def test_load_aggregates_across_buckets(self, bucketed):
        store, aids = bucketed
        by_bucket = {store.layout.bucket_of(a): a for a in aids}
        assert len(by_bucket) >= 2
        pair = sorted(by_bucket.values())[:2]
        got = {}
        for c in store.load_aggregates(pair).collect():
            got.setdefault(bytes(c["id"]), []).append(
                (c["rev"], [bytes(e) for e in c["events"]],
                 [bytes(e) for e in c["public_events"]])
            )
        assert got == {
            a: [
                (rev, [_payload(f"{a}{rev}")], [_payload(f"pub-{a}{rev}")])
                for rev in (1, 2)
            ]
            for a in pair
        }

    def test_batch_appended_twice_keeps_split(self, store):
        """Bulk appends do not dedupe across batches, so one 3 + 1 commit
        appended twice stores every key twice; the split of the 8 rows
        stays 2 private + 6 public."""
        commit = AggregateCommit(
            AID1, 1, T0, [_payload(f"p{i}") for i in range(3)],
            [_payload("pub")],
        )
        store.append_commits([commit])
        store.append_commits([commit])
        (c,) = store.load_aggregate(AID1).collect()
        assert [bytes(e) for e in c["events"]] == [_payload("p0"),
                                                   _payload("pub")]
        assert len(c["public_events"]) == 6


class TestIngestMaintainsDerivedViews:
    def test_counter_view_tracks_ingest(self, store):
        """The single ingest job maintains C1 deltas alongside the X1
        index (SURVEY §3.1 — replaces the reference's dual writes)."""
        from inception_eventstore_spark.operators.counters import MessageCounter

        store.append_commits(
            [
                AggregateCommit(AID1, 1, T0, [_payload("a", "type-a")],
                                [_payload("p", "type-b")]),
                AggregateCommit(AID2, 1, T0, [_payload("b", "type-a")], []),
            ]
        )
        counter = MessageCounter(store.spark, store.layout)
        assert counter.get_count("type-a") == 2
        assert counter.get_count("type-b") == 1
        assert counter.get_count("missing") == 0
        # manual decrement composes with ingest-maintained deltas (C2)
        counter.decrement("type-a", 1)
        assert counter.get_count("type-a") == 1

    def test_single_aggregate_scan_prunes_buckets(self, store):
        """The single-partition load (R3) must scan only the aggregate's
        bucket directory — PartitionFilters on the bucket column."""
        store.append_commits(
            [AggregateCommit(AID1, 1, T0, [_payload("x")], [])]
        )
        df = store._scan([AID1])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(bucket" in plan or (
            "bucket#" in plan and "PartitionFilters" in plan
        )
        # and the id point filter reaches the parquet pushdown layer
        assert "PushedFilters" in plan


class TestEventTypesStayStrings:
    """Event types that look like numbers or dates are strings on every
    index read — the index schema is pinned, not inferred from the
    ``et=`` directory names."""

    @pytest.mark.parametrize(
        "types,lookalike",
        [(("7", "42"), "007"), (("2024-03-14", "2024-03-15"), "2024-3-14")],
    )
    def test_index_reads_keep_string_types(self, store, types, lookalike):
        from inception_eventstore_spark import schemas
        from inception_eventstore_spark.functions.partitions import (
            pid_from_filetime,
        )

        mine, other = types
        store.append_commits(
            [
                AggregateCommit(AID1, 1, T0, [_payload("a", mine)], []),
                AggregateCommit(AID2, 1, T0, [_payload("b", other)], []),
            ]
        )
        idx = IndexByEventTypeStore(store.spark, store.layout)
        assert idx.index_df().dtypes == [
            (f.name, f.dataType.simpleString())
            for f in schemas.INDEX_SCHEMA.fields
        ]
        assert idx.count(lookalike) == 0
        assert idx.count(mine) == 1
        rows, _ = idx.get_paged(mine, pid_from_filetime(T0), 10)
        assert [r["et"] for r in rows] == [mine]
        opts = PlayerOptions(event_type_id=mine, after=T0, before=T0)
        got = store.replay_by_event_type(idx, opts).collect()
        assert [bytes(r["data"]) for r in got] == [_payload("a", mine)]


KEPT, GONE, OTHER = _payload("kept"), _payload("gone"), _payload("other")


def _datas(rows) -> set:
    return {bytes(r["data"]) for r in rows}


def _commit_datas(commits) -> set:
    return {
        bytes(e)
        for c in commits
        for e in list(c["events"] or []) + list(c["public_events"] or [])
    }


#: Every read path of the event log → the payloads it returns.
_READS = {
    "events_df": lambda s, ix: _datas(s.events_df().collect()),
    "load_aggregate": lambda s, ix: _commit_datas(
        s.load_aggregate(AID1).collect()
    ),
    "load_aggregates": lambda s, ix: _commit_datas(
        s.load_aggregates([AID1, AID2]).collect()
    ),
    "load_with_paging": lambda s, ix: _datas(s.load_with_paging(AID1, 10)[0]),
    "load_event_raw": lambda s, ix: _datas(
        r for r in (s.load_event_raw(AID1, 1, p) for p in (0, 1)) if r
    ),
    "replay": lambda s, ix: _datas(s.replay().collect()),
    "replay_grouped": lambda s, ix: _commit_datas(
        s.replay_grouped().collect()
    ),
    "replay_by_event_type": lambda s, ix: _datas(
        s.replay_by_event_type(
            ix, PlayerOptions(event_type_id="type-a", after=T0, before=T0)
        ).collect()
    ),
    "replay_chunked": lambda s, ix: _datas(
        r for chunk in s.replay_chunked() for r in chunk
    ),
    "events_snapshot": lambda s, ix: _datas(
        s.events_snapshot(s.create_snapshot()).collect()
    ),
}


class TestDeletedEventInvisible:
    @pytest.mark.parametrize("read", sorted(_READS))
    def test_deleted_event_absent(self, spark, tmp_path, read):
        """A tombstoned event is gone from every read path, while its
        aggregate's other event stays."""
        lay = L.EventStoreLayout(
            warehouse=str(tmp_path / "wh"), keyspace="del_es", n_buckets=4
        )
        lay.ensure_storage()
        store = EventStore(spark, lay, event_type_expr=_et_expr)
        store.append_commits(
            [
                AggregateCommit(AID1, 1, T0, [KEPT, GONE], []),
                AggregateCommit(AID2, 1, T0, [OTHER], []),
            ]
        )
        assert store.delete(AID1, 1, 1) is True
        seen = _READS[read](store, IndexByEventTypeStore(spark, lay))
        assert GONE not in seen
        assert KEPT in seen


class TestTenantLayout:
    def test_keyspace_naming(self, warehouse):
        """Mirrors CassandraProviderTests.cs:68-91 + 48-char guard."""
        assert L.keyspace_per_tenant("tests", "test_containers") == (
            "tests_test_containers"
        )
        with pytest.raises(ValueError):
            L.keyspace_per_tenant("t" * 40, "e" * 20)

    def test_table_naming(self):
        assert L.table_per_bounded_context("Shop") == "shopevents"
        assert L.table_per_bounded_context(None) == "events"

    def test_wipe_guard(self, spark, warehouse):
        """Mirrors EventStoreDataWiper.cs:31-57 tenant guard."""
        lay = L.for_tenant(warehouse, "tenant1", "es")
        with pytest.raises(PermissionError):
            lay.wipe("other")
        lay.wipe("tenant1")
        assert not lay.exists()


class TestTombstoneFolding:
    def test_delete_log_file_count_stays_bounded(self, spark, tmp_path):
        import datetime as dt

        from inception_eventstore_spark.functions.filetime import (
            datetime_to_filetime,
        )
        from inception_eventstore_spark.sources import fsutil
        from inception_eventstore_spark.sources import layout as L

        lay = L.for_tenant(str(tmp_path / "wh"), "fold", "es")
        store = EventStore(spark, lay)
        store.tombstone_fold_threshold = 8
        t0 = datetime_to_filetime(
            dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        )
        store.append_commits(
            [
                AggregateCommit(b"fold-agg", r, t0 + r, events=[b"e"])
                for r in range(1, 21)
            ],
            maintain_index=False,
        )
        import os

        tomb_path = os.path.join(lay.root, "tombstones")
        for r in range(1, 13):
            store.delete(b"fold-agg", r, 0)
            assert (
                fsutil.data_file_count(spark, tomb_path)
                < store.tombstone_fold_threshold
            )
        # all 12 tombstones still effective after folding
        assert store.events_df().count() == 8


class TestOptimizeBuckets:
    def test_selective_compaction(self, spark, tmp_path):
        import datetime as dt

        from inception_eventstore_spark.functions.filetime import (
            datetime_to_filetime,
        )
        from inception_eventstore_spark.sources import fsutil
        from inception_eventstore_spark.sources import layout as L

        lay = L.EventStoreLayout(
            warehouse=str(tmp_path / "wh"), keyspace="opt_es", n_buckets=2
        )
        lay.ensure_storage()
        store = EventStore(spark, lay)
        t0 = datetime_to_filetime(
            dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        )
        # 12 separate appends → 12 files in whichever buckets they hit
        for r in range(1, 13):
            store.append_commits(
                [AggregateCommit(b"frag", r, t0 + r, events=[b"e"])],
                maintain_index=False,
            )
        before = {
            r["id"]: (r["rev"], r["pos"])
            for r in store.events_df().collect()
        }
        import os

        bpath = None
        for b in range(lay.n_buckets):
            p = os.path.join(lay.events_path, f"bucket={b}")
            if fsutil.data_file_count(spark, p) > 4:
                bpath = p
        assert bpath is not None
        done = store.optimize_buckets(max_files_per_bucket=4)
        assert done  # the fragmented bucket was rewritten
        assert fsutil.data_file_count(spark, bpath) == 1
        after = {
            r["id"]: (r["rev"], r["pos"])
            for r in store.events_df().collect()
        }
        assert store.events_df().count() == 12
        assert before.keys() == after.keys()
        # idempotent: nothing left above the threshold
        assert store.optimize_buckets(max_files_per_bucket=4) == []

    def test_stats_reflect_layout(self, spark, tmp_path):
        import datetime as dt

        from inception_eventstore_spark.functions.filetime import (
            datetime_to_filetime,
        )
        from inception_eventstore_spark.sources import layout as L

        lay = L.EventStoreLayout(
            warehouse=str(tmp_path / "wh"), keyspace="stats_es", n_buckets=2
        )
        lay.ensure_storage()
        store = EventStore(spark, lay)
        t0 = datetime_to_filetime(
            dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        )
        store.append_commits(
            [AggregateCommit(b"s", 1, t0, events=[b"e"])],
            maintain_index=False,
        )
        store.delete(b"s", 1, 0)
        s = store.stats()
        assert s["events_files"] >= 1 and s["events_bytes"] > 0
        assert s["tombstone_files"] == 1
        assert s["fragmented_buckets"] == 0

    def test_tombstones_still_filter_after_compaction(self, spark, tmp_path):
        import datetime as dt

        from inception_eventstore_spark.functions.filetime import (
            datetime_to_filetime,
        )
        from inception_eventstore_spark.sources import layout as L

        lay = L.EventStoreLayout(
            warehouse=str(tmp_path / "wh"), keyspace="opt2_es", n_buckets=2
        )
        lay.ensure_storage()
        store = EventStore(spark, lay)
        t0 = datetime_to_filetime(
            dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        )
        for r in range(1, 9):
            store.append_commits(
                [AggregateCommit(b"frag", r, t0 + r, events=[b"e"])],
                maintain_index=False,
            )
        store.delete(b"frag", 3, 0)
        store.optimize_buckets(max_files_per_bucket=1)
        revs = sorted(r["rev"] for r in store.events_df().collect())
        assert revs == [1, 2, 4, 5, 6, 7, 8]


class TestProgressNotifications:
    """R12 progress hooks (reference: NotifyProgressAsync per page,
    CassandraEventStore.cs:462-472; count asserted like
    CassandraEventStoreTests.cs:63,309)."""

    def _store(self, spark, tmp_path, n_buckets=4):
        import datetime as dt

        from inception_eventstore_spark.functions.filetime import (
            datetime_to_filetime,
        )
        from inception_eventstore_spark.sources import layout as L

        lay = L.EventStoreLayout(
            warehouse=str(tmp_path / "wh"), keyspace="prog_es",
            n_buckets=n_buckets,
        )
        lay.ensure_storage()
        store = EventStore(spark, lay)
        t0 = datetime_to_filetime(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc))
        store.append_commits(
            [
                AggregateCommit(f"prog-{i}".encode(), r, t0 + i * 100 + r,
                                events=[b"e1", b"e2"])
                for i in range(6)
                for r in range(1, 4)
            ],
            maintain_index=False,
        )
        return store, t0

    def test_for_each_aggregate_notifies_per_partition(self, spark, tmp_path):
        from inception_eventstore_spark.functions.paging import decode_token
        from inception_eventstore_spark.operators.eventstore import PlayerOptions

        store, _ = self._store(spark, tmp_path)
        tokens = []
        store.for_each_aggregate(
            PlayerOptions(), lambda r: None, on_progress=tokens.append
        )
        assert len(tokens) >= 1
        decoded = [decode_token(t) for t in tokens]
        # every commit group processed exactly once (6 aggregates × 3 revs)
        assert sum(d.keys["groups"] for d in decoded) == 18
        assert all("partition" in d.keys for d in decoded)

    def test_replay_chunked_tokens_and_resume(self, spark, tmp_path):
        from inception_eventstore_spark.functions.paging import decode_token
        from inception_eventstore_spark.operators.eventstore import PlayerOptions

        store, _ = self._store(spark, tmp_path)
        tokens = []
        rows = [
            r
            for chunk in store.replay_chunked(PlayerOptions(),
                                              on_progress=tokens.append)
            for r in chunk
        ]
        assert len(rows) == 6 * 3 * 2
        assert len(tokens) == store.layout.n_buckets  # one per chunk
        assert decode_token(tokens[-1]).has_more is False
        # resume after the second bucket re-reads only the remainder
        resume_from = tokens[1]
        resumed = [
            r
            for chunk in store.replay_chunked(PlayerOptions(),
                                              resume_token=resume_from)
            for r in chunk
        ]
        first_two = sum(
            decode_token(t).keys["rows"] for t in tokens[:2]
        )
        assert len(resumed) == len(rows) - first_two

    def test_replay_chunked_bounds_driver_chunks(self, spark, tmp_path):
        """Chunks never exceed chunk_rows even when a bucket holds many
        partitions/rows (VERDICT r2 #1: no full-bucket collect), and the
        streamed row set is identical to the plain replay."""
        from inception_eventstore_spark.operators.eventstore import PlayerOptions

        store, _ = self._store(spark, tmp_path, n_buckets=2)
        chunks = list(store.replay_chunked(PlayerOptions(), chunk_rows=5))
        assert all(len(c) <= 5 for c in chunks)
        assert len(chunks) > store.layout.n_buckets  # buckets split up
        streamed = sorted(
            (bytes(r["id"]), r["rev"], r["pos"]) for c in chunks for r in c
        )
        direct = sorted(
            (bytes(r["id"]), r["rev"], r["pos"])
            for r in store.replay(PlayerOptions()).collect()
        )
        assert streamed == direct

    def test_progress_callback_errors_are_swallowed(self, spark, tmp_path):
        from inception_eventstore_spark.operators.eventstore import PlayerOptions

        store, _ = self._store(spark, tmp_path)

        def boom(_tok):
            raise RuntimeError("callback failed")

        rows = [
            r
            for chunk in store.replay_chunked(PlayerOptions(), on_progress=boom)
            for r in chunk
        ]
        assert len(rows) == 6 * 3 * 2  # replay unaffected, like the reference


class TestReplicationRecording:
    """S1: the declared replication strategy is recorded as a keyspace
    property (reference: CassandraReplicationStrategyFactory.cs:17-37)."""

    def test_simple_strategy_recorded(self, warehouse):
        from inception_eventstore_spark.sources.replication import (
            SimpleReplicationStrategy,
        )

        lay = L.for_tenant(
            warehouse, "repl1", "es",
            replication=SimpleReplicationStrategy(replication_factor=3),
        )
        props = lay.properties()
        assert props["replication"] == {
            "class": "SimpleStrategy",
            "replication_factor": 3,
        }
        assert props["keyspace"] == lay.keyspace

    def test_network_topology_strategy_recorded(self, warehouse):
        from inception_eventstore_spark.sources.replication import (
            replication_strategy_factory,
        )

        strat = replication_strategy_factory(
            "network_topology", replication_factor=2,
            datacenters=["dc-west", "dc-east"],
        )
        lay = L.for_tenant(warehouse, "repl2", "es", replication=strat)
        assert lay.properties()["replication"] == {
            "class": "NetworkTopologyStrategy",
            "dc-west": 2,
            "dc-east": 2,
        }

    def test_strategy_guards(self):
        import pytest as _pytest

        from inception_eventstore_spark.sources.replication import (
            NetworkTopologyReplicationStrategy,
            SimpleReplicationStrategy,
            replication_strategy_factory,
        )

        with _pytest.raises(ValueError):
            SimpleReplicationStrategy(replication_factor=0)
        with _pytest.raises(ValueError):
            NetworkTopologyReplicationStrategy(datacenters=())
        with _pytest.raises(ValueError):
            replication_strategy_factory("exotic")


class TestLayoutHadoopFs:
    def test_ensure_storage_and_properties_via_file_uri(self, spark, tmp_path):
        """ensure_storage/properties route through the Hadoop FS when a
        session is supplied — same code path an hdfs:/ or s3a:/
        warehouse would take (exercised here with a file:/ URI)."""
        from inception_eventstore_spark.sources.replication import (
            SimpleReplicationStrategy,
        )

        lay = L.EventStoreLayout(
            warehouse="file:" + str(tmp_path / "fs_wh"),
            keyspace="fsuri_es",
            replication=SimpleReplicationStrategy(replication_factor=2),
        )
        lay.ensure_storage(spark=spark)
        props = lay.properties(spark=spark)
        assert props["replication"]["replication_factor"] == 2
        assert props["keyspace"] == "fsuri_es"


class TestLatestPropertyState:
    def test_latest_wins_per_property(self, spark):
        import datetime as dt

        from inception_eventstore_spark.operators.eventstore import (
            latest_property_state,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0, 1, '{"color": "red", "size": "M"}'),
            (2, t0 + dt.timedelta(minutes=1), 1, '{"color": "blue"}'),
            (3, t0 + dt.timedelta(minutes=2), 2, '{"size": "XL"}'),
            (4, t0 + dt.timedelta(minutes=3), 1, None),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, props string"
        )
        got = {
            (r["user_id"], r["prop_key"]): (r["latest_value"], r["n_set"])
            for r in latest_property_state(df).collect()
        }
        assert got == {
            (1, "color"): ("blue", 2),  # later write wins
            (1, "size"): ("M", 1),      # untouched property kept
            (2, "size"): ("XL", 1),
        }

    def test_same_instant_ties_break_by_event_id(self, spark):
        import datetime as dt

        from inception_eventstore_spark.operators.eventstore import (
            latest_property_state,
        )

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(1, t0, 1, '{"x": "a"}'), (2, t0, 1, '{"x": "b"}')],
            "event_id long, ts timestamp, user_id long, props string",
        )
        got = latest_property_state(df).collect()[0]
        assert got["latest_value"] == "b"  # higher event_id wins the tie


class TestPropertyScd2:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, props string"
        )

    def test_intervals_collapse_and_chain(self, spark):
        import datetime as dt

        from inception_eventstore_spark.operators.eventstore import (
            property_scd2,
        )

        t = [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i) for i in range(5)]
        rows = [
            (1, t[0], 1, '{"color": "red"}'),
            (2, t[1], 1, '{"color": "red"}'),   # same value — collapsed
            (3, t[2], 1, '{"color": "blue"}'),  # change -> version 2
            (4, t[3], 1, '{"color": "red"}'),   # back again -> version 3
            (5, t[4], 2, '{"color": "green"}'),
        ]
        out = sorted(
            property_scd2(self._df(spark, rows)).collect(),
            key=lambda r: (r["user_id"], r["version"]),
        )
        u1 = [r for r in out if r["user_id"] == 1]
        assert [(r["value"], r["version"], r["is_current"]) for r in u1] == [
            ("red", 1, 0), ("blue", 2, 0), ("red", 3, 1)
        ]
        # intervals chain exactly: valid_to of v = valid_from of v+1
        assert u1[0]["valid_from"] == t[0] and u1[0]["valid_to"] == t[2]
        assert u1[1]["valid_to"] == t[3] and u1[2]["valid_to"] is None
        u2 = [r for r in out if r["user_id"] == 2]
        assert len(u2) == 1 and u2[0]["is_current"] == 1

    def test_current_rows_equal_latest_property_state(self, spark):
        import datetime as dt

        from inception_eventstore_spark.operators.eventstore import (
            latest_property_state,
            property_scd2,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (i, t0 + dt.timedelta(seconds=i), i % 3,
             '{"k": "%d", "m": "%d"}' % (i % 4, i % 2))
            for i in range(40)
        ]
        df = self._df(spark, rows)
        cur = {
            (r["user_id"], r["prop_key"]): r["value"]
            for r in property_scd2(df).where("is_current = 1").collect()
        }
        latest = {
            (r["user_id"], r["prop_key"]): r["latest_value"]
            for r in latest_property_state(df).collect()
        }
        assert cur == latest


class TestIncrementalProjection:
    def test_snapshot_plus_delta_equals_full_fold(self, spark):
        import datetime as dt
        import random

        from inception_eventstore_spark.operators.eventstore import (
            latest_property_state,
            latest_property_state_incremental,
        )

        rng = random.Random(13)
        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (i, t0 + dt.timedelta(seconds=rng.randint(0, 5000)),
             rng.randint(0, 9),
             '{"k": "%d", "m": "%d"}' % (rng.randint(0, 5), i % 3))
            for i in range(300)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, props string"
        )
        mid = t0 + dt.timedelta(seconds=2500)
        inc = {
            (r["user_id"], r["prop_key"]):
            (r["latest_value"], r["n_set"], r["last_set_ts"])
            for r in latest_property_state_incremental(df, mid).collect()
        }
        full = {
            (r["user_id"], r["prop_key"]):
            (r["latest_value"], r["n_set"], r["last_set_ts"])
            for r in latest_property_state(df).collect()
        }
        assert inc == full

    def test_empty_delta_and_empty_snapshot(self, spark):
        import datetime as dt

        from inception_eventstore_spark.operators.eventstore import (
            latest_property_state,
            latest_property_state_incremental,
        )

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(1, t0, 1, '{"x": "a"}'), (2, t0, 1, '{"x": "b"}')],
            "event_id long, ts timestamp, user_id long, props string",
        )
        full = {(r["user_id"], r["prop_key"]): r["latest_value"]
                for r in latest_property_state(df).collect()}
        for cut in (t0 - dt.timedelta(days=1), t0 + dt.timedelta(days=1)):
            inc = {
                (r["user_id"], r["prop_key"]): r["latest_value"]
                for r in latest_property_state_incremental(df, cut).collect()
            }
            assert inc == full
