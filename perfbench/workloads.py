"""The benchmark's workloads, driven through the package's public API.

Each workload is a function ``(ctx) -> Outcome``. All inputs come from
``ctx.seed``; every timed operation's result is checked against values
computed here in Python, and a mismatch or an exception counts as a
failed operation. One client thread, closed loop: each call starts only
after the previous one returned.
"""

from __future__ import annotations

import datetime as dt
import gc
import hashlib
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from inception_eventstore_spark.functions.filetime import datetime_to_filetime
from inception_eventstore_spark.functions.hashing import xxhash64
from inception_eventstore_spark.functions.partitions import pid_from_filetime
from inception_eventstore_spark.operators.counters import MessageCounter
from inception_eventstore_spark.operators.eventstore import (
    EventStore,
    PlayerOptions,
)
from inception_eventstore_spark.operators.index import IndexByEventTypeStore
from inception_eventstore_spark.sources.layout import EventStoreLayout


@dataclass
class Checks:
    """Attempted and failed operations; the first failures go to stderr."""

    attempted: int = 0
    failed: int = 0

    def expect(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 5:
                print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        if self.failed <= 5:
            print(f"perfbench: {what} raised:\n{traceback.format_exc()}",
                  file=sys.stderr)


@dataclass
class Outcome:
    """What a workload measured; ``run.py`` turns it into metrics."""

    setup_s: float
    #: per timed operation, (wall ms, host-speed probe ms) per call
    latency_ms: dict[str, list[tuple[float, float]]]
    batch_events: int
    batch_ms: list[tuple[float, float]]  # warm bulk append batches, same
    timed_ops: tuple[str, ...]
    sizes: dict
    layers: dict = field(default_factory=dict)


def _gc(ctx) -> None:
    """Collect garbage on both sides, outside every timer."""
    ctx.spark.sparkContext._jvm.System.gc()
    gc.collect()


def _timed(ctx, name: str, request: int, fn, sink: dict | None = None):
    """Run ``fn(span)`` under a span; a timed call is followed by a
    host-speed probe, and (wall ms, probe ms) goes to ``sink[name]``.
    Returns (ok, result); an exception counts as a failed operation."""
    try:
        with ctx.tracer.span(name, request) as sp:
            result = fn(sp)
    except Exception:  # noqa: BLE001 - one failed op must not end the run
        ctx.checks.error(name)
        return False, None
    if sink is not None:
        sink.setdefault(name, []).append((sp.wall_ms, ctx.host.probe()))
    return True, result


# ======================================================================
# The store both workloads build
# ======================================================================
ES_AGGREGATES = 1000
ES_PRIVATE = 3  # private events per commit (pos 0..2)
ES_PUBLIC = 1  # public events per commit (pos 7)
ES_BUCKETS = 8
ES_TYPES = 8
ES_TS0 = datetime_to_filetime(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc))
ES_TS_STEP = 20 * 10_000_000  # 20 s in FileTime ticks
ES_MAX_REVS = 8  # ts spacing; a store's commits span ~1.9 days
ES_POSITIONS = tuple(range(ES_PRIVATE)) + tuple(
    ES_PRIVATE - 1 + 5 + j for j in range(ES_PUBLIC)
)
ES_BATCH_EVENTS = ES_AGGREGATES * len(ES_POSITIONS)


def _aid(i: int) -> bytes:
    return b"agg-%07d" % i


def _es_ts(i: int, rev: int) -> int:
    return ES_TS0 + (i * ES_MAX_REVS + rev) * ES_TS_STEP


def _slot(pos: int) -> str:
    return f"p{pos}" if pos < ES_PRIVATE else f"q{pos - ES_PRIVATE - 4}"


def _payload(seed: int, aid: bytes, rev: int, slot: str) -> bytes:
    head = f"{slot}|{seed}|{aid.decode()}|{rev}|".encode()
    return head + hashlib.sha256(head).digest()


def _payload_col(seed: int, slot: str):
    head = F.format_string(f"{slot}|{seed}|%s|%d|", F.col("id").cast("string"),
                           F.col("rev"))
    return F.concat(head.cast("binary"), F.unhex(F.sha2(head, 256)))


def _event_type(data: bytes) -> str:
    return f"et-{xxhash64(data) % ES_TYPES}"


def event_type_expr(data):
    """The payload → event-type resolver the store maintains its index
    and counters with (JVM-side, like the ingest smoke's)."""
    return F.concat(
        F.lit("et-"), F.pmod(F.xxhash64(data), F.lit(ES_TYPES)).cast("string")
    )


def _commits_df(spark, seed: int, rev: int):
    """One commit (revision ``rev``) for every aggregate, generated in
    the JVM from the seed."""
    base = spark.range(ES_AGGREGATES).select(
        F.format_string("agg-%07d", "id").cast("binary").alias("id"),
        F.lit(rev).cast("int").alias("rev"),
        (F.lit(ES_TS0) + (F.col("id") * ES_MAX_REVS + rev) * ES_TS_STEP)
        .cast("long").alias("ts"),
    )
    return base.select(
        "id", "rev", "ts",
        F.array(*[_payload_col(seed, f"p{e}") for e in range(ES_PRIVATE)])
        .alias("events"),
        F.array(*[_payload_col(seed, f"q{e}") for e in range(ES_PUBLIC)])
        .alias("public_events"),
    )


class _EsExpected:
    """Python-side truth for a seed's store after revisions 1..revs."""

    def __init__(self, seed: int, revs: int):
        self.seed = seed
        self.revs = revs
        self.type_counts: dict[str, int] = {}
        self.type_rev_sums: dict[str, int] = {}
        self.part_counts: dict[tuple[str, int], int] = {}
        for i in range(ES_AGGREGATES):
            aid = _aid(i)
            for rev in range(1, revs + 1):
                pid = pid_from_filetime(_es_ts(i, rev))
                for pos in ES_POSITIONS:
                    et = _event_type(_payload(seed, aid, rev, _slot(pos)))
                    self.type_counts[et] = self.type_counts.get(et, 0) + 1
                    self.type_rev_sums[et] = self.type_rev_sums.get(et, 0) + rev
                    key = (et, pid)
                    self.part_counts[key] = self.part_counts.get(key, 0) + 1
        self.events = ES_BATCH_EVENTS * revs
        self.partitions = sorted(self.part_counts)
        self.types = sorted(self.type_counts)

    def payload(self, aid: bytes, rev: int, pos: int) -> bytes:
        return _payload(self.seed, aid, rev, _slot(pos))


class _Store:
    """One tenant's event store, index and counters under the run dir."""

    def __init__(self, ctx, keyspace: str):
        self.ctx = ctx
        self.layout = EventStoreLayout(
            warehouse=str(ctx.run_dir / "warehouse"), keyspace=keyspace,
            n_buckets=ES_BUCKETS,
        )
        self.layout.ensure_storage(ctx.spark)
        self.events = EventStore(ctx.spark, self.layout,
                                 event_type_expr=event_type_expr)
        self.index = IndexByEventTypeStore(ctx.spark, self.layout)
        self.counter = MessageCounter(ctx.spark, self.layout)

    def append(self, rev: int, sink: list | None) -> None:
        """One bulk batch: revision ``rev`` of every aggregate; a timed
        batch is preceded by three host-speed probes, and (wall ms, their
        median) goes to ``sink``. Not caught: a failed append leaves no
        store to measure."""
        commits = _commits_df(self.ctx.spark, self.ctx.seed, rev)
        probe_ms = self.ctx.host.probe(3) if sink is not None else 0.0
        with self.ctx.tracer.span("eventstore.append_commits_df", rev) as sp:
            self.events.append_commits_df(commits)
        if sink is not None:
            sink.append((sp.wall_ms, probe_ms))

    def replay_type(self, et: str, request: int, sink: dict | None):
        """R11 replay of one event type over the whole store's time range
        → (events, Σ rev)."""
        options = PlayerOptions(after=ES_TS0, before=_es_ts(ES_AGGREGATES, 0),
                                event_type_id=et)

        def call(sp):
            df = self.events.replay_by_event_type(self.index, options)
            sp.mark_built()
            row = df.agg(F.count(F.lit(1)), F.sum("rev")).collect()[0]
            return row[0], row[1]

        return _timed(self.ctx, "eventstore.replay_by_event_type", request,
                      call, sink)

    def check(self, exp: _EsExpected) -> None:
        """The ingest equalities: events = index rows = Σ counter cv, and
        per type the index rows and counter values equal the events whose
        payload derives that type."""
        checks = self.ctx.checks
        try:
            n_events = self.events.events_df().groupBy().count().collect()[0][0]
            idx_types = {
                r["et"]: r["count"]
                for r in self.index.index_df().groupBy("et").count().collect()
            }
            cv = {r["msgid"]: r["cv"]
                  for r in self.counter.counters_df().collect()}
        except Exception:  # noqa: BLE001
            checks.error("store consistency queries")
            return
        checks.expect(n_events == exp.events,
                      f"events {n_events} != {exp.events}")
        checks.expect(idx_types == exp.type_counts, "index rows per type")
        checks.expect(cv == exp.type_counts, "counter cv per type")

    def layers(self, exp: _EsExpected) -> dict:
        """Layout figures of the final store (the benchmark's own listing,
        so they add no calls to the file-system layer's counts)."""
        events_path = self.layout.events_path
        buckets = [d for d in Path(events_path).iterdir()
                   if d.name.startswith("bucket=")]
        files = sum(1 for _ in _data_files(events_path))
        stored = sum(
            f.stat().st_size
            for p in (events_path, self.layout.index_path,
                      self.layout.counter_path)
            for f in _data_files(p)
        )
        payload = sum(
            len(exp.payload(_aid(i), rev, pos))
            for i in range(ES_AGGREGATES) for rev in range(1, exp.revs + 1)
            for pos in ES_POSITIONS
        )
        return {
            "sources.events_files_per_bucket": files / max(len(buckets), 1),
            "sources.stored_bytes_per_payload_byte": stored / payload,
        }


def _data_files(path: str):
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames
                       if not d.startswith((".", "_")) or "=" in d]
        for name in files:
            if not name.startswith((".", "_")):
                yield Path(dirpath) / name


def _sizes(exp: _EsExpected) -> dict:
    return {"aggregates": ES_AGGREGATES, "events_per_batch": ES_BATCH_EVENTS,
            "revisions": exp.revs, "events": exp.events,
            "buckets": ES_BUCKETS, "event_types": ES_TYPES,
            "index_partitions": len(exp.partitions)}


# ======================================================================
# es_point_reads
# ======================================================================
POINT_REVS = 3  # set-up batches → 3 files per bucket
POINT_HOT = 50  # Zipf-like hot set size
POINT_PAGE = 5  # load_with_paging take
POINT_INDEX_PAGE = 20  # get_paged page size
#: Untimed warm-up: rounds, capped in seconds. The JIT keeps compiling
#: Spark's per-query paths for the first ~150 point reads (the mix's
#: median latency fell ~30% over them, then held); the warm-up takes the
#: steepest part of that within its time cap.
POINT_WARMUP_ROUNDS = 25
POINT_WARMUP_MAX_S = 15.0
POINT_OPS = (
    "eventstore.load_aggregate", "eventstore.load_event_raw",
    "eventstore.load_with_paging", "index.get_paged", "counters.get_count",
)


def _check_commits(exp: _EsExpected, i: int, rows) -> bool:
    aid = _aid(i)
    if [r["rev"] for r in rows] != list(range(1, exp.revs + 1)):
        return False
    for r in rows:
        rev = r["rev"]
        if r["ts"] != _es_ts(i, rev):
            return False
        priv = [bytes(b) for b in r["events"]]
        pub = [bytes(b) for b in r["public_events"]]
        if priv != [exp.payload(aid, rev, p) for p in range(ES_PRIVATE)]:
            return False
        if pub != [exp.payload(aid, rev, p) for p in ES_POSITIONS[ES_PRIVATE:]]:
            return False
    return True


def _check_index_page(exp: _EsExpected, et: str, pid: int, rows) -> bool:
    if len(rows) != min(POINT_INDEX_PAGE, exp.part_counts[(et, pid)]):
        return False
    keys = [(r["ts"], bytes(r["aid"]), r["rev"], r["pos"]) for r in rows]
    if keys != sorted(keys):
        return False
    return all(
        r["et"] == et and r["pid"] == pid
        and _event_type(exp.payload(bytes(r["aid"]), r["rev"], r["pos"])) == et
        for r in rows
    )


def es_point_reads(ctx) -> Outcome:
    """Set-up builds the store in bulk batches; the timed phase is a
    closed loop of point reads in balanced rounds (each op once per
    round, seeded order), half the keys uniform and half from a
    Zipf-like hot set."""
    seed, checks = ctx.seed, ctx.checks
    ctx.enter("expected")
    exp = _EsExpected(seed, POINT_REVS)
    rng = random.Random(seed)

    ctx.enter("setup")
    batch_ms: list[tuple[float, float]] = []
    t0 = time.perf_counter()
    st = _Store(ctx, "point_reads")
    for rev in range(1, POINT_REVS + 1):
        st.append(rev, batch_ms)
    setup_s = ctx.session_start_s + (time.perf_counter() - t0)

    hot = rng.sample(range(ES_AGGREGATES), POINT_HOT)
    hot_weights = [1.0 / (r + 1) for r in range(POINT_HOT)]

    def key() -> int:
        if rng.random() < 0.5:
            return rng.randrange(ES_AGGREGATES)
        return rng.choices(hot, hot_weights)[0]

    def request(op: str):
        """(call(span) -> result, check(result) -> bool) for one request."""
        i = key()
        aid = _aid(i)
        if op == "eventstore.load_aggregate":
            def call(sp):
                df = st.events.load_aggregate(aid)
                sp.mark_built()
                return df.collect()
            return call, lambda rows: _check_commits(exp, i, rows)
        if op == "eventstore.load_event_raw":
            rev = rng.randint(1, POINT_REVS)
            pos = rng.choice(ES_POSITIONS)
            return (
                lambda sp: st.events.load_event_raw(aid, rev, pos),
                lambda row: row is not None
                and bytes(row["data"]) == exp.payload(aid, rev, pos)
                and row["ts"] == _es_ts(i, rev),
            )
        if op == "eventstore.load_with_paging":
            want = [(rev, pos) for rev in range(1, POINT_REVS + 1)
                    for pos in ES_POSITIONS][:POINT_PAGE]
            return (
                lambda sp: st.events.load_with_paging(aid, POINT_PAGE),
                lambda res: [(r["rev"], r["pos"]) for r in res[0]] == want
                and all(bytes(r["data"]) == exp.payload(aid, r["rev"], r["pos"])
                        for r in res[0])
                and res[1].has_more,
            )
        if op == "index.get_paged":
            et, pid = rng.choice(exp.partitions)
            return (
                lambda sp: st.index.get_paged(et, pid, POINT_INDEX_PAGE)[0],
                lambda rows: _check_index_page(exp, et, pid, rows),
            )
        et = rng.choice(exp.types)
        return (
            lambda sp: st.counter.get_count(et),
            lambda n: n == exp.type_counts[et],
        )

    def run_round(request_no: int, sink: list | None) -> int:
        ops = list(POINT_OPS)
        rng.shuffle(ops)
        for op in ops:
            call, check = request(op)
            ok, result = _timed(ctx, op, request_no, call, sink)
            if ok:
                checks.expect(bool(check(result)), f"{op} #{request_no}")
            request_no += 1
        return request_no

    ctx.enter("warmup")
    req = 0
    t_end = time.perf_counter() + POINT_WARMUP_MAX_S
    for _ in range(POINT_WARMUP_ROUNDS):
        req = run_round(req, None)
        if time.perf_counter() > t_end:
            break
    _gc(ctx)

    ctx.enter("timed")
    lat: dict[str, list[tuple[float, float]]] = {}
    ctx.host.begin()
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:
        req = run_round(req, lat)
    ctx.host.end()
    _gc(ctx)

    ctx.enter("checks")
    st.check(exp)
    return Outcome(
        setup_s=setup_s, latency_ms=lat, batch_events=ES_BATCH_EVENTS,
        batch_ms=batch_ms[1:],  # the JVM's first append is 2-3x slower
        timed_ops=POINT_OPS,
        sizes=_sizes(exp),
        layers=st.layers(exp) if ctx.tracer.enabled else {},
    )


# ======================================================================
# es_ingest_replay
# ======================================================================
INGEST_SEED_REVS = 1  # set-up: one batch
INGEST_TIMED_APPENDS = 3  # revisions 2..4
INGEST_MIN_REPLAYS = 4
#: Untimed warm-up replays, capped in seconds: an R11 replay's executor
#: time halved over the first ~12 calls, then held.
INGEST_WARMUP_REPLAYS = 12
INGEST_WARMUP_MAX_S = 6.0
INGEST_REVS = INGEST_SEED_REVS + INGEST_TIMED_APPENDS
INGEST_OPS = ("eventstore.append_commits_df", "eventstore.replay_by_event_type")


def es_ingest_replay(ctx) -> Outcome:
    """Set-up seeds a store with one batch. A fixed run of equal bulk
    batches is timed one by one; after an untimed warm-up, event types
    are replayed through the index (R11) over the store those appends
    fragmented, until the run's seconds are up."""
    seed, checks = ctx.seed, ctx.checks
    ctx.enter("expected")
    exp = _EsExpected(seed, INGEST_REVS)
    rng = random.Random(seed)

    ctx.enter("setup")
    t0 = time.perf_counter()
    st = _Store(ctx, "ingest_replay")
    for rev in range(1, INGEST_SEED_REVS + 1):
        st.append(rev, None)
    setup_s = ctx.session_start_s + (time.perf_counter() - t0)

    ctx.enter("ingest")  # set-up already ran the append path once
    batch_ms: list[tuple[float, float]] = []
    ctx.host.begin()
    for rev in range(INGEST_SEED_REVS + 1, INGEST_REVS + 1):
        _gc(ctx)
        st.append(rev, batch_ms)
    _gc(ctx)

    ctx.enter("warmup")
    t_end = time.perf_counter() + INGEST_WARMUP_MAX_S
    for _ in range(INGEST_WARMUP_REPLAYS):
        st.replay_type(exp.types[rng.randrange(len(exp.types))], -1, None)
        if time.perf_counter() > t_end:
            break
    _gc(ctx)

    ctx.enter("timed")
    lat: dict[str, list[tuple[float, float]]] = {}
    types = list(exp.types)
    t_end = time.perf_counter() + ctx.seconds
    request = 0
    while time.perf_counter() < t_end or request < INGEST_MIN_REPLAYS:
        if request % len(types) == 0:
            rng.shuffle(types)
        et = types[request % len(types)]
        ok, got = st.replay_type(et, request, lat)
        if ok:
            checks.expect(
                got == (exp.type_counts[et], exp.type_rev_sums[et]),
                f"R11 {et}: {got}",
            )
        request += 1
    ctx.host.end()
    _gc(ctx)

    ctx.enter("checks")
    st.check(exp)
    _check_replay_grouped(ctx, st, exp, rng)
    return Outcome(
        setup_s=setup_s, latency_ms=lat,
        batch_events=ES_BATCH_EVENTS, batch_ms=batch_ms, timed_ops=INGEST_OPS,
        sizes=_sizes(exp),
        layers=st.layers(exp) if ctx.tracer.enabled else {},
    )


def _check_replay_grouped(ctx, st: _Store, exp: _EsExpected, rng) -> None:
    """R10 over a seeded time window returns exactly the commits in it."""
    lo_i, hi_i = sorted(rng.sample(range(ES_AGGREGATES), 2))
    lo, hi = _es_ts(lo_i, 1), _es_ts(hi_i, exp.revs)
    want = sum(
        1 for i in range(ES_AGGREGATES) for rev in range(1, exp.revs + 1)
        if lo <= _es_ts(i, rev) <= hi
    )

    def call(sp):
        df = st.events.replay_grouped(PlayerOptions(after=lo, before=hi))
        sp.mark_built()
        return df.groupBy().count().collect()[0][0]

    ok, n = _timed(ctx, "eventstore.replay_grouped", -1, call)
    if ok:
        ctx.checks.expect(n == want, f"R10 window: {n} != {want}")


WORKLOADS = {
    "es_point_reads": es_point_reads,
    "es_ingest_replay": es_ingest_replay,
}
