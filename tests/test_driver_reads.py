"""The layout answers each served read the same on either reader.

Every read that returns Python values (``load_event_raw``,
``load_with_paging``, ``get_paged``, ``get_count``, ``replay_chunked``)
is one call to the layout, which picks its reader by one rule. Each runs
once on the driver (the store is local, so the layout reads it through
Arrow, which must launch no Spark job) and once on Spark, reached
through the same rule: under an ``hdfs:`` default file system a
scheme-less store path is not local, while the JVM still reads the local
files. That run must launch a Spark job wherever it reads a file, so a
wrong rule cannot send both runs to Arrow. The results must be equal
value for value, field order and Python types included, and a bad
argument must fail the same way on both readers.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
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
PID = pid_from_filetime(T0)
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


def _on_spark(monkeypatch):
    """Make the layout see a non-local default file system, so every
    scheme-less store path reads through Spark."""
    monkeypatch.setattr(L, "_default_fs", lambda spark: "hdfs://nn:8020")


def _both_paths(spark, monkeypatch, action, reads_files=True):
    """``action`` on the driver path (asserting it ran no Spark job) and
    on the Spark path (asserting it ran one or more, unless
    ``reads_files`` is False: a read of a missing directory may be
    answered without a job); asserts the two agree and returns the
    result."""
    on_driver, jobs = _jobs_of(spark, action)
    assert jobs == 0
    with monkeypatch.context() as m:
        _on_spark(m)
        on_spark, jobs = _jobs_of(spark, action)
    assert jobs >= 1 or not reads_files
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
        spark, monkeypatch, lambda: index.get_paged(et, pid, 10),
        reads_files=False,
    )
    assert rows == [] and token.has_more is False


@pytest.mark.parametrize("path", ["driver", "spark"])
@pytest.mark.parametrize("et,pid,error", [
    (None, PID, ValueError),
    (7, PID, TypeError),
    (b"007", PID, TypeError),
    ("007", "20240314", TypeError),
    ("007", 1.0, TypeError),
    ("007", None, TypeError),
])
def test_get_paged_refuses_a_bad_partition(spark, monkeypatch, es, path,
                                           et, pid, error):
    """A None type, a type that is not a ``str`` and a pid that is not
    an integer are refused up front, the same on both readers."""
    _, index = es
    if path == "spark":
        _on_spark(monkeypatch)
    with pytest.raises(error):
        index.get_paged(et, pid, 10)


def test_get_paged_takes_a_numpy_pid(spark, monkeypatch, es):
    """A numpy integer pid is an integer: the page and its token hold
    the same Python ``int`` as with a plain pid."""
    np = pytest.importorskip("numpy")
    _, index = es
    page = _both_paths(
        spark, monkeypatch, lambda: index.get_paged("007", np.int64(PID), 4)
    )
    assert _typed(page) == _typed(index.get_paged("007", PID, 4))


@pytest.mark.parametrize("et", TYPES + ("never-seen", None))
def test_get_count(spark, monkeypatch, es, et):
    """None counts nothing: no delta's key equals it."""
    store, _ = es
    counter = MessageCounter(spark, store.layout)
    n = _both_paths(spark, monkeypatch, lambda: counter.get_count(et))
    assert n == (48 if et in TYPES else 0)


@pytest.mark.parametrize("path", ["driver", "spark"])
@pytest.mark.parametrize("msgid", [7, b"007"])
def test_get_count_refuses_a_msgid_that_is_not_a_str(spark, monkeypatch, es,
                                                     path, msgid):
    store, _ = es
    if path == "spark":
        _on_spark(monkeypatch)
    with pytest.raises(TypeError):
        MessageCounter(spark, store.layout).get_count(msgid)


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_counter_empty_reset_and_compact(spark, monkeypatch, tmp_path, path):
    if path == "spark":
        _on_spark(monkeypatch)
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


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_counter_with_no_store_directory(spark, monkeypatch, tmp_path, path):
    if path == "spark":
        _on_spark(monkeypatch)
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


_FIRST_SCHEMA = pa.schema([("k", pa.int32()), ("v", pa.int32())])


def _tables(*batches):
    return [pa.table({"k": [k for k, _ in b], "v": [v for _, v in b]},
                     schema=_FIRST_SCHEMA) for b in batches]


@pytest.mark.parametrize("batches,order,limit", [
    # the k smallest rows arrive in the last batch
    ([[(9, 0), (8, 1)], [(7, 2), (6, 3)], [(1, 4), (0, 5)]],
     (("k", "ascending"),), 2),
    # ties on k span batches; v breaks them
    ([[(1, 3), (2, 0)], [(1, 1), (1, 2)], [(1, 0)]],
     (("k", "ascending"), ("v", "ascending")), 3),
    ([[(1, 3), (2, 0)], [(1, 1), (1, 2)], [(1, 0)]],
     (("k", "descending"), ("v", "descending")), 3),
    ([[(3, 0)], [], [(5, 1), (4, 2)], [(6, 3)]], (("k", "descending"),), 2),
    ([[(3, 0)], [], [(5, 1), (4, 2)], [(6, 3)]], (("k", "ascending"),), None),
    ([[(3, 0)], [(5, 1)]], (("k", "ascending"),), 5),
    ([], (("k", "ascending"),), 2),
])
def test_first_streams_a_top_k(batches, order, limit):
    """``_first`` over a stream of tables gives what a sort of all the
    rows, cut to ``limit``, gives."""
    rows = [r for b in batches for r in b]
    expected = sorted(rows, key=lambda r: tuple(
        -r["kv".index(c)] if d == "descending" else r["kv".index(c)]
        for c, d in order))[:limit]
    got = L._first(iter(_tables(*batches)), _FIRST_SCHEMA, order, limit)
    assert list(zip(*got.to_pydict().values())) == expected


def test_first_without_order_stops_at_limit():
    """With no order the first ``limit`` rows found are the answer, and
    no table past them is drawn from the stream."""
    drawn = []

    def stream():
        for t in _tables([(1, 0), (2, 1)], [(3, 2)], [(4, 3)]):
            drawn.append(t)
            yield t

    got = L._first(stream(), _FIRST_SCHEMA, (), 3)
    assert got.to_pydict() == {"k": [1, 2, 3], "v": [0, 1, 2]}
    assert len(drawn) == 2
