"""Property-based tests (hypothesis) for the pure core transforms.

The invariants the engine's correctness hangs on:
- explode_commits ∘ group_commits == identity on commit batches
- paging tokens round-trip losslessly
- pid successor/ranges agree with python's calendar
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

from inception_eventstore_spark.functions.filetime import (
    datetime_to_filetime,
    filetime_to_datetime,
)
from inception_eventstore_spark.functions.paging import (
    PagingToken,
    decode_token,
    encode_token,
)
from inception_eventstore_spark.functions.partitions import (
    next_pid,
    pid_from_datetime,
    pid_range,
)

# ---------------------------------------------------------------------
# Pure-python properties (no Spark session needed)
# ---------------------------------------------------------------------

aware_dt = st.datetimes(
    min_value=dt.datetime(1700, 1, 1),
    max_value=dt.datetime(2300, 1, 1),
).map(lambda d: d.replace(tzinfo=dt.timezone.utc))


@given(aware_dt)
@settings(max_examples=200, deadline=None)
def test_filetime_round_trip(d):
    assert filetime_to_datetime(datetime_to_filetime(d)) == d


@given(aware_dt)
@settings(max_examples=200, deadline=None)
def test_pid_matches_calendar(d):
    pid = pid_from_datetime(d)
    assert pid // 1000 == d.year
    assert pid % 1000 == d.timetuple().tm_yday


@given(aware_dt)
@settings(max_examples=200, deadline=None)
def test_next_pid_is_next_day(d):
    nxt = next_pid(pid_from_datetime(d))
    assert nxt == pid_from_datetime(d + dt.timedelta(days=1))


@given(aware_dt, st.integers(min_value=0, max_value=400))
@settings(max_examples=50, deadline=None)
def test_pid_range_length(d, span):
    lo = pid_from_datetime(d)
    hi = pid_from_datetime(d + dt.timedelta(days=span))
    assert len(pid_range(lo, hi)) == span + 1


token_keys = st.dictionaries(
    st.sampled_from(["rev", "pos", "pid", "ts"]),
    st.integers(min_value=-(2**62), max_value=2**62),
    max_size=4,
) | st.fixed_dictionaries(
    {"aid": st.binary(min_size=0, max_size=64), "rev": st.integers(0, 10)}
)


@given(token_keys, st.booleans())
@settings(max_examples=200, deadline=None)
def test_paging_token_round_trip(keys, has_more):
    t = PagingToken(keys=keys, has_more=has_more)
    assert decode_token(encode_token(t)) == t


# ---------------------------------------------------------------------
# Spark property: commit explode/group round trip
# ---------------------------------------------------------------------

commit_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # aggregate selector
        st.integers(min_value=1, max_value=4),  # n private events
        st.integers(min_value=0, max_value=3),  # n public events
    ),
    min_size=1,
    max_size=8,
)


@given(commit_strategy)
@settings(max_examples=12, deadline=None)
def test_commit_round_trip(spark_session_holder, batches):
    """explode_commits → group_commits reconstructs every commit byte-
    for-byte, including the offset-5 public split. Revisions are made
    unique per aggregate (the storage key contract)."""
    spark = spark_session_holder
    from pyspark.sql import types as T

    from inception_eventstore_spark.functions.commits import (
        explode_commits,
        group_commits,
    )

    rows = []
    rev_counter: dict[int, int] = {}
    for agg_sel, n_priv, n_pub in batches:
        aid = f"agg-{agg_sel}".encode()
        rev = rev_counter.get(agg_sel, 0) + 1
        rev_counter[agg_sel] = rev
        ts = 133_000_000_000_000_000 + rev
        priv = [f"{agg_sel}/{rev}/p{i}".encode() for i in range(n_priv)]
        pub = [f"{agg_sel}/{rev}/P{i}".encode() for i in range(n_pub)]
        rows.append((aid, rev, ts, priv, pub))

    schema = T.StructType(
        [
            T.StructField("id", T.BinaryType()),
            T.StructField("rev", T.IntegerType()),
            T.StructField("ts", T.LongType()),
            T.StructField("events", T.ArrayType(T.BinaryType())),
            T.StructField("public_events", T.ArrayType(T.BinaryType())),
        ]
    )
    commits = spark.createDataFrame(rows, schema=schema)
    back = group_commits(explode_commits(commits)).collect()

    expect = {
        (bytes(aid), rev): (ts, [bytes(e) for e in priv], [bytes(e) for e in pub])
        for (aid, rev, ts, priv, pub) in rows
    }
    got = {
        (bytes(r["id"]), r["rev"]): (
            r["ts"],
            [bytes(e) for e in r["events"]],
            [bytes(e) for e in r["public_events"]],
        )
        for r in back
    }
    assert got == expect


import pytest  # noqa: E402


@pytest.fixture(scope="module")
def spark_session_holder(spark):
    return spark


def _split_oracle(rows):
    """Pure-python grouping: per (id, rev), cells sorted by (pos, data);
    a cell is private iff its pos equals its rank; ts is the lowest
    pos's."""
    cells: dict = {}
    for aid, rev, pos, ts, data in rows:
        cells.setdefault((aid, rev), []).append((pos, data, ts))
    out = {}
    for key, cs in cells.items():
        cs.sort(key=lambda c: (c[0], c[1]))
        out[key] = (
            cs[0][2],
            [d for i, (p, d, _) in enumerate(cs) if p == i],
            [d for i, (p, d, _) in enumerate(cs) if p != i],
        )
    return out


def _commit_rows(aid, rev, positions):
    return [
        (aid, rev, pos, 133_000_000_000_000_000 + 10 * rev + pos,
         f"{aid.decode()}/{rev}/{pos}".encode())
        for pos in positions
    ]


#: Commits whose positions are not what explode_commits writes.
IRREGULAR_COMMITS = {
    # 3 does not follow 1, so the privates stop at 1
    "non_contiguous_private": _commit_rows(b"a", 1, [3, 0, 1, 8]),
    "no_private": _commit_rows(b"a", 1, [5, 4, 6]),
    "only_private": _commit_rows(b"a", 1, [2, 0, 1]),
    # a 3 + 1 commit bulk-appended twice: every (id, rev, pos) twice
    "duplicated_key": _commit_rows(b"a", 1, [0, 1, 2, 7]) * 2
    + _commit_rows(b"b", 2, [0, 5]),
}


@pytest.mark.parametrize("case", sorted(IRREGULAR_COMMITS))
def test_group_commits_irregular_positions(spark_session_holder, case):
    """group_commits splits by "private iff pos == rank by pos" on rows
    explode_commits never writes."""
    from inception_eventstore_spark import schemas
    from inception_eventstore_spark.functions.commits import group_commits

    rows = IRREGULAR_COMMITS[case]
    df = spark_session_holder.createDataFrame(
        rows, schema=schemas.EVENTS_SCHEMA
    ).repartition(3)
    got = {
        (bytes(r["id"]), r["rev"]): (
            r["ts"],
            [bytes(e) for e in r["events"]],
            [bytes(e) for e in r["public_events"]],
        )
        for r in group_commits(df).collect()
    }
    assert got == _split_oracle(rows)


@given(st.permutations(list(range(1, 30))))
@settings(max_examples=200, deadline=None)
def test_commit_watermark_dense_prefix(perm):
    """The streaming watermark state update maintains: high_water ==
    length of the dense revision prefix received so far, for ANY arrival
    order — the invariant commit_watermarks' gap detection hangs on."""
    from inception_eventstore_spark.streaming.state import _advance

    hw, pending, seen = 0, set(), set()
    for r in perm:
        seen.add(r)
        if r == hw + 1:
            hw = _advance(r, pending)
        elif r > hw:
            pending.add(r)
        expect = 0
        while expect + 1 in seen:
            expect += 1
        assert hw == expect
    assert hw == 29 and not pending
