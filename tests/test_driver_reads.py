"""The driver-local reader and the Spark path return the same answers.

Every read the layout's Arrow reader serves (``load_event_raw``,
``load_with_paging``, ``get_paged``, ``get_count``, ``replay_chunked``)
runs once at the default ``DRIVER_READ_MAX_BYTES`` (the driver path,
which must launch no Spark job) and once at 0 (the Spark path); the
results must be equal value for value, field order and Python types
included.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pytest
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.filetime import datetime_to_filetime
from inception_eventstore_spark.functions.paging import decode_token
from inception_eventstore_spark.functions.partitions import pid_from_filetime
from inception_eventstore_spark.operators.counters import MessageCounter
from inception_eventstore_spark.operators.eventstore import (
    AggregateCommit,
    EventStore,
    PlayerOptions,
)
from inception_eventstore_spark.operators.index import IndexByEventTypeStore
from inception_eventstore_spark.sources import layout as L

T0 = datetime_to_filetime(dt.datetime(2024, 3, 14, 23, 59, 0,
                                      tzinfo=dt.timezone.utc))
SEC = 10_000_000
TYPES = ("ns:Created", "007", "7")
N_BUCKETS = 4
AIDS = [b"agg-%02d-" % i + bytes([0x80 + i, i]) for i in range(12)]


def _payload(aid: bytes, rev: int, slot: str, et: str) -> bytes:
    return f"{et}|{aid.hex()}|{rev}|{slot}".encode()


def _et_expr(data):
    return F.substring_index(data.cast("string"), "|", 1)


def _typed(value):
    """``value`` with every Row spelled out as (fields, typed values),
    so an equality also compares field order and Python types."""
    if hasattr(value, "__fields__"):
        return ("Row", tuple(value.__fields__),
                tuple(_typed(v) for v in value))
    if isinstance(value, (list, tuple)):
        return type(value).__name__, [_typed(v) for v in value]
    if hasattr(value, "keys") and hasattr(value, "has_more"):
        return "token", _typed(sorted(value.keys.items())), value.has_more
    return type(value).__name__, value


def _jobs_of(spark, action):
    """(result, Spark jobs ``action`` launched)."""
    sc = spark.sparkContext
    group = f"driver-reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _both_paths(spark, monkeypatch, action):
    """``action`` on the driver path (asserting it ran no Spark job) and
    on the Spark path; asserts the two agree and returns the result."""
    on_driver, jobs = _jobs_of(spark, action)
    assert jobs == 0
    with monkeypatch.context() as m:
        m.setattr(L, "DRIVER_READ_MAX_BYTES", 0)
        on_spark = action()
    assert _typed(on_driver) == _typed(on_spark)
    return on_driver


@pytest.fixture(scope="module")
def es(spark, tmp_path_factory):
    """Three commits per aggregate over two days, every event type,
    deleted rows, and a bucket holding stray non-data files."""
    lay = L.EventStoreLayout(
        warehouse=str(tmp_path_factory.mktemp("driver_reads")),
        keyspace="driver_reads", n_buckets=N_BUCKETS,
    )
    lay.ensure_storage(spark)
    store = EventStore(spark, lay, event_type_expr=_et_expr)
    for rev in (1, 2, 3):
        store.append_commits([
            AggregateCommit(
                aid, rev, T0 + (i * 7 + rev * 40) * SEC,
                [_payload(aid, rev, f"p{k}", TYPES[(i + k + rev) % 3])
                 for k in range(3)],
                [_payload(aid, rev, "q", TYPES[(i + rev) % 3])],
            )
            for i, aid in enumerate(AIDS)
        ])
    store.delete(AIDS[0], 2, 1)
    store.delete(AIDS[0], 3, 7)
    store.delete(AIDS[5], 1, 0)
    stray = lay.bucket_path(lay.bucket_of(AIDS[0]))
    os.makedirs(os.path.join(stray, "_temporary", "0"))
    for name in ("_temporary/0/part-00000.parquet", ".part-stray.parquet.crc",
                 "_SUCCESS"):
        with open(os.path.join(stray, name), "wb") as fh:
            fh.write(b"not parquet")
    return store, IndexByEventTypeStore(spark, lay)


def test_stray_files_sit_in_a_read_bucket(es):
    store, _ = es
    names = os.listdir(store.layout.bucket_path(store.layout.bucket_of(AIDS[0])))
    assert {"_temporary", ".part-stray.parquet.crc", "_SUCCESS"} <= set(names)


@pytest.mark.parametrize("aid,rev,pos", [
    (AIDS[0], 1, 0),
    (AIDS[0], 2, 1),  # deleted
    (AIDS[0], 3, 7),  # deleted public event
    (AIDS[5], 1, 0),  # deleted
    (AIDS[5], 3, 7),
    (AIDS[3], 4, 0),  # no such revision
    (b"never-written", 1, 0),
])
def test_load_event_raw(spark, monkeypatch, es, aid, rev, pos):
    store, _ = es
    _both_paths(spark, monkeypatch, lambda: store.load_event_raw(aid, rev, pos))


@pytest.mark.parametrize("descending", [False, True])
@pytest.mark.parametrize("aid", [AIDS[0], AIDS[5], AIDS[7]])
def test_load_with_paging_walk(spark, monkeypatch, es, aid, descending):
    store, _ = es
    token, pages = None, []
    for _ in range(6):
        rows, token = _both_paths(
            spark, monkeypatch,
            lambda: store.load_with_paging(aid, 3, token, descending),
        )
        pages.append(rows)
        if not token.has_more:
            break
    keys = [(r["rev"], r["pos"]) for page in pages for r in page]
    assert keys == sorted(keys, reverse=descending)
    assert len(keys) == 12 - 2 * (aid == AIDS[0]) - (aid == AIDS[5])


def test_load_with_paging_descending_resumed_from_token(spark, monkeypatch, es):
    store, _ = es
    _, token = store.load_with_paging(AIDS[2], 5, descending=True)
    resumed = decode_token(token.encode())
    rows, _ = _both_paths(
        spark, monkeypatch,
        lambda: store.load_with_paging(AIDS[2], 4, resumed, descending=True),
    )
    assert [(r["rev"], r["pos"]) for r in rows] == [(2, 2), (2, 1), (2, 0), (1, 7)]


@pytest.mark.parametrize("et", TYPES)
def test_get_paged_three_pages(spark, monkeypatch, es, et):
    _, index = es
    pid = pid_from_filetime(T0)
    n = index.get(et, pid).count()
    page = -(-n // 3)
    token, seen = None, []
    for _ in range(3):
        rows, token = _both_paths(
            spark, monkeypatch, lambda: index.get_paged(et, pid, page, token)
        )
        token = decode_token(token.encode())
        seen += rows
    assert not token.has_more
    assert len(seen) == n
    assert all(r["et"] == et and r["pid"] == pid for r in seen)
    keys = [(r["ts"], bytes(r["aid"]), r["rev"], r["pos"]) for r in seen]
    assert keys == sorted(keys)


@pytest.mark.parametrize("et,pid", [("never-seen", pid_from_filetime(T0)),
                                    ("007", 1999001)])
def test_get_paged_missing_partition(spark, monkeypatch, es, et, pid):
    _, index = es
    rows, token = _both_paths(
        spark, monkeypatch, lambda: index.get_paged(et, pid, 10)
    )
    assert rows == [] and token.has_more is False


@pytest.mark.parametrize("et", TYPES + ("never-seen",))
def test_get_count(spark, monkeypatch, es, et):
    store, _ = es
    counter = MessageCounter(spark, store.layout)
    n = _both_paths(spark, monkeypatch, lambda: counter.get_count(et))
    assert n == (48 if et in TYPES else 0)


@pytest.mark.parametrize("dial", ["driver", "spark"])
def test_counter_empty_reset_and_compact(spark, monkeypatch, tmp_path, dial):
    if dial == "spark":
        monkeypatch.setattr(L, "DRIVER_READ_MAX_BYTES", 0)
    lay = L.EventStoreLayout(warehouse=str(tmp_path), keyspace="counters")
    lay.ensure_storage(spark)
    counter = MessageCounter(spark, lay)
    assert counter.get_count("007") == 0
    counter.increment("007", 5)
    counter.increment("7", 2)
    counter.reset("007")
    assert (counter.get_count("007"), counter.get_count("7")) == (0, 2)
    counter.decrement("7")
    counter.compact()
    assert (counter.get_count("007"), counter.get_count("7")) == (0, 1)


@pytest.mark.parametrize("dial", ["driver", "spark"])
def test_counter_with_no_store_directory(spark, monkeypatch, tmp_path, dial):
    if dial == "spark":
        monkeypatch.setattr(L, "DRIVER_READ_MAX_BYTES", 0)
    lay = L.EventStoreLayout(warehouse=str(tmp_path), keyspace="missing")
    assert MessageCounter(spark, lay).get_count("x") == 0


def _replay(store, options, resume_token=None):
    """(rows, chunk sizes, progress tokens) of one replay. The order of
    rows inside a bucket is not part of the contract (Spark's follows
    its file splits), so rows come back sorted."""
    tokens: list[str] = []
    chunks = list(store.replay_chunked(options, tokens.append, resume_token,
                                       chunk_rows=4))
    return sorted(r for c in chunks for r in c), [len(c) for c in chunks], tokens


def test_replay_chunked_resumed_with_window(spark, monkeypatch, es):
    store, _ = es
    options = PlayerOptions(after=T0 + 150 * SEC, before=T0 + 260 * SEC)
    first = _replay(store, options)
    resume = first[2][1]
    assert decode_token(resume).keys["bucket"] == 1
    rows, sizes, tokens = _both_paths(
        spark, monkeypatch, lambda: _replay(store, options, resume)
    )
    assert [decode_token(t).keys["bucket"] for t in tokens] == [2, 3]
    assert all(n <= 4 for n in sizes)
    assert all(options.after <= r["ts"] <= options.before for r in rows)
    live = {(bytes(r["id"]), r["rev"], r["pos"])
            for r in store.replay(options).collect()
            if store.layout.bucket_of(bytes(r["id"])) >= 2}
    assert {(bytes(r["id"]), r["rev"], r["pos"]) for r in rows} == live
    assert len(rows) == len(live)


def test_replay_chunked_whole_store(spark, monkeypatch, es):
    store, _ = es
    rows, _, tokens = _both_paths(
        spark, monkeypatch, lambda: _replay(store, PlayerOptions())
    )
    assert len(rows) == 12 * 12 - 3
    assert len(tokens) == N_BUCKETS


def test_binary_follows_the_session_setting(spark, monkeypatch, es):
    store, _ = es
    key = "spark.sql.execution.pyspark.binaryAsBytes"
    spark.conf.set(key, "false")
    try:
        rows, _ = _both_paths(
            spark, monkeypatch, lambda: store.load_with_paging(AIDS[1], 2)
        )
    finally:
        spark.conf.unset(key)
    assert [type(r["data"]) for r in rows] == [bytearray, bytearray]
    row = store.load_event_raw(AIDS[1], 1, 0)
    assert type(row["data"]) is bytes


@pytest.mark.parametrize("path,default_fs,local", [
    ("file:/x/events", "file:///", "/x/events"),
    ("file:///x/events", "hdfs://nn:8020", "/x/events"),
    ("file://localhost/x", "file:///", "/x"),
    ("/x/events", "file:///", "/x/events"),
    ("/x/et=ns%3ACreated", "file:///", "/x/et=ns%3ACreated"),
    ("hdfs://nn/x", "file:///", None),
    ("s3a://b/x", "file:///", None),
    ("/x", "hdfs://nn:8020", None),
    ("file://otherhost/x", "file:///", None),
    ("relative/x", "file:///", None),
])
def test_local_path(path, default_fs, local):
    assert L.local_path(path, default_fs) == local


def test_a_read_above_the_dial_runs_on_spark(spark, monkeypatch, es):
    store, _ = es
    monkeypatch.setattr(L, "DRIVER_READ_MAX_BYTES", 1)
    _, jobs = _jobs_of(spark, lambda: store.load_event_raw(AIDS[3], 1, 0))
    assert jobs >= 1


def test_replay_chunked_streams_a_bucket_larger_than_the_dial(
        spark, monkeypatch, es):
    """The streamed replay holds only the dead keys whole, so only the
    tombstones count against the dial, not the bucket's size."""
    store, _ = es
    lay = store.layout
    _, n_tombs = L._pruned(lay.tombstones_path, L._TOMBSTONE_ARROW, None)
    _, n_bucket = L._pruned(lay.bucket_path(0), L._EVENTS_ARROW, None)
    assert 0 < n_tombs < n_bucket
    monkeypatch.setattr(L, "DRIVER_READ_MAX_BYTES", n_tombs)
    rows, _, tokens = _both_paths(
        spark, monkeypatch, lambda: _replay(store, PlayerOptions())
    )
    assert len(rows) == 12 * 12 - 3 and len(tokens) == N_BUCKETS
    monkeypatch.setattr(L, "DRIVER_READ_MAX_BYTES", n_tombs - 1)
    _, jobs = _jobs_of(spark, lambda: _replay(store, PlayerOptions()))
    assert jobs >= N_BUCKETS  # every bucket back on Spark
