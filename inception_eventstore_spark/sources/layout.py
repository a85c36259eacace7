"""Tenant/bounded-context naming and the on-disk format of every store (S1-S4).

Reference naming strategies:
- keyspace per tenant ``{tenant}_{base}``, ≤48 chars, lower-cased
  (reference: KeyspacePerTenantKeyspace.cs:16-21, CassandraProvider.cs:156-159)
- table per bounded context ``{boundedContext}events`` or fixed
  ``events`` (reference: TablePerBoundedContext.cs:16,
  NoTableNamingStrategy.cs:7; DDL lower-cases, CassandraEventStoreSchema.cs:92)

Spark mapping (SURVEY §1.4): keyspace → a root directory per tenant
database holding partitioned parquet tables. Replication is a
storage-layer concern (HDFS/S3) — the declared strategy is recorded in
the keyspace's ``properties.json`` (see sources/replication.py).

:class:`EventStoreLayout` is the only code that knows each store's
physical format — path, schema, directory partitioning, sort order and
bucket rule — as the reference's DDL defines each table in one place
(CassandraEventStoreSchema.cs:15-16). The event-store operators
(EventStore, IndexByEventTypeStore, MessageCounter, MessageStore) read
and write their stores only through it.
"""

from __future__ import annotations

import itertools
import json
import os
import weakref
from dataclasses import dataclass, field
from typing import Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import _create_row

from inception_eventstore_spark import schemas
from inception_eventstore_spark.functions import hashing
from inception_eventstore_spark.sources import fsutil
from inception_eventstore_spark.sources.replication import (
    SimpleReplicationStrategy,
)
from inception_eventstore_spark.sources.snapshots import SnapshotLog

MAX_KEYSPACE_LENGTH = 48  # reference: KeyspacePerTenantKeyspace.cs:18

#: Events files: the envelope plus its ``bucket`` directory column.
_EVENTS_FILE_SCHEMA = T.StructType(
    list(schemas.EVENTS_SCHEMA.fields)
    + [T.StructField("bucket", T.IntegerType(), True)]
)
#: Row order inside every events file: one aggregate's rows are
#: contiguous and in read order, and ``id`` min/max stats stay tight
#: for point-lookup file pruning.
_EVENTS_SORT = ("id", "rev", "pos")

#: Merge-on-read delete log of the events store: the deleted keys.
TOMBSTONE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.BinaryType(), False),
        T.StructField("rev", T.IntegerType(), False),
        T.StructField("pos", T.IntegerType(), False),
    ]
)

#: Characters Spark's partitioned writer escapes in a directory value
#: (``ExternalCatalogUtils.escapePathName``, non-Windows hosts).
_ESCAPED_CHARS = frozenset(map(chr, range(1, 32))) | frozenset(
    "\"#%'*/:=?[\\]^{\x7f"
)


_ARROW_TYPES = {
    T.BinaryType(): pa.binary(),
    T.IntegerType(): pa.int32(),
    T.LongType(): pa.int64(),
    T.StringType(): pa.string(),
}


def _arrow_schema(schema: T.StructType, *names: str) -> pa.Schema:
    """The Arrow form of ``schema``'s ``names`` fields."""
    return pa.schema(
        [(f.name, _ARROW_TYPES[f.dataType]) for f in schema.fields
         if f.name in names]
    )


_EVENTS_ARROW = _arrow_schema(schemas.EVENTS_SCHEMA, "id", "rev", "pos",
                              "ts", "data")
_TOMBSTONE_ARROW = _arrow_schema(TOMBSTONE_SCHEMA, "id", "rev", "pos")
_INDEX_ARROW = _arrow_schema(schemas.INDEX_SCHEMA, "aid", "rev", "pos", "ts")
_COUNTER_ARROW = _arrow_schema(schemas.COUNTER_SCHEMA, "msgid", "cv")

#: The keyset orders of the paged reads: an aggregate's events (R4/R5)
#: and an (et, pid) index directory's rows (X2).
_EVENT_PAGE_KEY = ("rev", "pos")
INDEX_PAGE_KEY = ("ts", "aid", "rev", "pos")


def _past(col, names: tuple[str, ...], values: tuple,
          descending: bool = False):
    """Filter for the rows whose ``names`` columns come after ``values``
    in the keyset order: lexicographic, ascending or ``descending`` on
    every column; None when ``values`` is. ``col`` is the reader's
    column constructor, ``ds.field`` or ``F.col``; binary compares
    unsigned on both."""
    if values is None:
        return None
    expr = None
    for name, value in reversed(list(zip(names, values))):
        c = col(name)
        past = c < value if descending else c > value
        expr = past if expr is None else past | ((c == value) & expr)
    return expr


def ts_window(col, after: int | None, before: int | None):
    """Filter for ``after`` <= ts <= ``before`` (either bound optional;
    None when both are), built with the reader's column constructor
    ``col``, ``ds.field`` or ``F.col``."""
    window = None
    if after is not None:
        window = col("ts") >= after
    if before is not None:
        upper = col("ts") <= before
        window = upper if window is None else window & upper
    return window


def _split_scheme(path: str) -> tuple[str | None, str]:
    """(scheme, rest) as Hadoop's ``Path`` splits a path string: a colon
    before the first slash ends a scheme."""
    colon, slash = path.find(":"), path.find("/")
    if colon != -1 and (slash == -1 or colon < slash):
        return path[:colon].lower(), path[colon + 1:]
    return None, path


def local_path(path: str, default_fs: str) -> str | None:
    """The local file-system path that ``path`` names, or None when it
    resolves anywhere else: a ``file:`` URI, or an absolute path with no
    scheme under a ``file:`` default file system (``fs.defaultFS``), is
    local; ``hdfs:``, ``s3a:`` and any other scheme are not. Relative
    paths are None too: Hadoop resolves them against the JVM's working
    directory, not this process's."""
    scheme, rest = _split_scheme(path)
    if scheme is None and _split_scheme(default_fs)[0] != "file":
        return None
    if scheme not in (None, "file"):
        return None
    if rest.startswith("//"):
        authority, _, tail = rest[2:].partition("/")
        if authority not in ("", "localhost"):
            return None
        rest = "/" + tail
    return rest if rest.startswith("/") else None


def _local_data_files(root: str) -> list[str]:
    """Data files under the local directory ``root`` by Spark's
    discovery rule (``fsutil._hidden_name``): ``.crc``, ``_SUCCESS`` and
    ``_temporary/`` are skipped. [] when ``root`` does not exist."""
    out = []
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if not fsutil._hidden_name(d))
        out.extend(os.path.join(dirpath, f) for f in sorted(files)
                   if not fsutil._hidden_name(f))
    return out


def _batches(root: str, schema: pa.Schema,
             where: ds.Expression | None) -> Iterator[pa.Table]:
    """The rows of ``root``'s data files that match ``where``, one record
    batch at a time (as a one-batch table). The parquet scan skips the
    row groups whose statistics rule ``where`` out."""
    files = ds.dataset(_local_data_files(root), schema=schema, format="parquet")
    # pyarrow's default readahead decodes a few files at once: against
    # none, point reads were ~10% and large pages ~2x faster, and the
    # peak is bounded by that window, not by the directory (CHANGES.md)
    for batch in files.scanner(filter=where, use_threads=False).to_batches():
        yield pa.Table.from_batches([batch])


def _first(tables: Iterable[pa.Table], schema: pa.Schema, order: tuple,
           limit: int | None) -> pa.Table:
    """The first ``limit`` rows of ``tables`` (all when None) in
    ``order``, ``(column, "ascending" | "descending")`` pairs. Each table
    is folded into a top-k selection as it arrives, so at most ``limit``
    rows plus one table are held; with no order the first ``limit`` rows
    found are the answer and no further table is drawn."""
    kept = schema.empty_table()
    for table in tables:
        kept = pa.concat_tables([kept, table])
        if limit is None or kept.num_rows < limit:
            continue
        if not order:
            return kept.slice(0, limit)
        kept = kept.take(
            pc.select_k_unstable(kept, k=limit, sort_keys=list(order))
        )
    return kept.sort_by(list(order)) if order else kept


def _collect(df: DataFrame, fields: tuple[str, ...], order: tuple,
             limit: int | None) -> list[Row]:
    """The Spark counterpart of ``_first``: the first ``limit`` rows of
    ``df`` (all when None) in ``order``, ``(column, "ascending" |
    "descending")`` pairs, collected as the ``Row``s of ``fields``."""
    df = df.select(*fields)
    if order:
        df = df.orderBy(*(F.col(c).desc() if d == "descending"
                          else F.col(c).asc() for c, d in order))
    return (df if limit is None else df.limit(limit)).collect()


def _where(df: DataFrame, expr: Column | None) -> DataFrame:
    return df if expr is None else df.where(expr)


def _keys(table: pa.Table) -> Iterator[tuple]:
    """The (id, rev, pos) key of each row of ``table``."""
    return zip(*(_column(table.column(c), bytes)
                 for c in TOMBSTONE_SCHEMA.names))


def _dead(root: str, where: ds.Expression | None) -> set:
    """The deleted keys of the tombstone directory ``root`` that match
    ``where``, held whole (as the Spark path broadcasts them)."""
    return {k for t in _batches(root, _TOMBSTONE_ARROW, where)
            for k in _keys(t)}


def _live(table: pa.Table, dead: set) -> pa.Table:
    """``table`` without its rows whose key is in ``dead``."""
    if not dead or table.num_rows == 0:
        return table
    return table.filter(pa.array([k not in dead for k in _keys(table)]))


def _column(col: pa.ChunkedArray, binary: type) -> list:
    """One column's Python values as a collect returns them."""
    # through numpy: an order of magnitude faster than to_pylist, and
    # the same values when nothing is null
    vals = col.to_numpy().tolist() if col.null_count == 0 else col.to_pylist()
    if binary is not bytes and pa.types.is_binary(col.type):
        vals = [None if v is None else binary(v) for v in vals]
    return vals


def _rows(table: pa.Table, fields: tuple[str, ...], binary: type,
          values: dict | None = None) -> list[Row]:
    """``table`` as the ``Row``s a Spark collect of ``fields`` returns,
    built by the function a collect builds them with; binary values as
    ``binary`` (``bytes`` or ``bytearray``), and a field named in
    ``values`` (a directory value) holds that value on every row."""
    values = values or {}
    columns = [
        itertools.repeat(values[name], table.num_rows) if name in values
        else _column(table.column(name), binary)
        for name in fields
    ]
    names = list(fields)
    return [_create_row(names, v) for v in zip(*columns)]


#: Each SparkContext's ``fs.defaultFS``, read once: Spark copies its
#: Hadoop settings into the context when the context starts.
_DEFAULT_FS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _default_fs(spark: SparkSession) -> str:
    sc = spark.sparkContext
    if sc not in _DEFAULT_FS:
        _DEFAULT_FS[sc] = sc._jsc.hadoopConfiguration().get("fs.defaultFS") or ""
    return _DEFAULT_FS[sc]


def _binary_type(spark: SparkSession) -> type:
    """What a collect returns binary values as in this session: ``bytes``,
    or ``bytearray`` when ``spark.sql.execution.pyspark.binaryAsBytes``
    is off."""
    on = spark.conf.get("spark.sql.execution.pyspark.binaryAsBytes")
    return bytes if on.lower() == "true" else bytearray


def escape_path_name(value: str) -> str:
    """``value`` as Spark's writer spells it in a partition directory
    name: ``ns:Created`` → ``ns%3ACreated``."""
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPED_CHARS else c for c in value
    )


def _fs_session(spark: SparkSession | None) -> SparkSession:
    """Resolve the session whose Hadoop configuration scopes all storage
    maintenance I/O. Admin paths (bootstrap, wipe, discovery) must work
    wherever Spark can read — file:/, hdfs:/, s3a:/ — so they all go
    through sources/fsutil, never ``os``/``shutil`` (reference analog:
    EventStoreDataWiper.cs:31-57 drops the keyspace through the same
    driver session it reads with)."""
    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError(
            "no active SparkSession — storage maintenance runs through "
            "the Hadoop FileSystem API; create the session first"
        )
    return s


def keyspace_per_tenant(tenant: str, base_keyspace: str) -> str:
    """``{tenant}_{base}`` lower-cased, ≤48 chars (raises on overflow)."""
    if not tenant:
        raise ValueError("tenant must be non-empty")
    name = f"{tenant}_{base_keyspace}".lower()
    if len(name) > MAX_KEYSPACE_LENGTH:
        raise ValueError(
            f"keyspace name {name!r} exceeds {MAX_KEYSPACE_LENGTH} chars"
        )
    return name


def no_keyspace_naming(keyspace: str) -> str:
    """Passthrough strategy (reference: NoKeyspaceNamingStrategy.cs:9-12)
    — same 48-char limit, lower-cased."""
    name = keyspace.lower()
    if len(name) > MAX_KEYSPACE_LENGTH:
        raise ValueError(
            f"keyspace name {name!r} exceeds {MAX_KEYSPACE_LENGTH} chars"
        )
    return name


def table_per_bounded_context(bounded_context: str | None) -> str:
    """``{boundedContext}events`` lower-cased; plain ``events`` if None
    (reference: TablePerBoundedContext.cs:16, NoTableNamingStrategy.cs:7)."""
    return f"{bounded_context or ''}events".lower()


@dataclass
class EventStoreLayout:
    """Physical layout of one tenant's event store under a warehouse root.

    Four stores per tenant (SURVEY §1.1), plus the events' delete log:
      <table>/             envelope rows under ``bucket=<pmod(xxhash64(id),
                           n_buckets)>`` directories, files sorted by
                           (id, rev, pos), so one aggregate's rows co-locate
      tombstones/          merge-on-read deletes: (id, rev, pos) keys
      index_by_eventtype/  derived index under ``et=<type>/pid=<day>``
                           directories, files sorted by ts
      message_counter/     append-only counter deltas (msgid, cv)
      message_store/       raw message archive under ``date=<midnight>``

    At 100 TB the ``bucket`` column keeps a single aggregate's partition
    scan to one directory (file-level min/max on id prunes further), and
    (et, pid) directories make index day-range scans touch only the
    selected days — the same pruning the reference gets from Cassandra's
    partition keys, supplied here by Catalyst's static partition pruning.

    Every read pins its store's schema: no schema-inference job, and a
    partition value keeps its declared type (event type ``"007"`` stays
    a string). ``read_index(spark, et)`` lists and reads only the
    ``et=`` directory of that type, with the index root as Spark's
    ``basePath`` so ``et`` and ``pid`` stay pinned columns. Index,
    counter and message reads return an empty DataFrame with the
    canonical schema when their directory holds no data file: a missing
    directory is answered without Spark, and an existing one is read as
    is, since a pinned-schema read of a directory holding only
    ``_SUCCESS`` or ``_temporary/`` is already empty; no recursive
    walk looks for a data file first.

    The reads that end in Python values (``event``, ``event_page``,
    ``bucket_rows``, ``index_page``, ``counter_sum``) answer them on
    either reader, and the caller never sees which one ran. Callers pass
    plain key and bound values; each read builds its filters with one
    function per filter (``_past`` for a keyset position, ``ts_window``
    for a time window) given the reader's column constructor. One rule
    picks the reader: a store on the local file system (``local_path``)
    is read on the driver through ``pyarrow.dataset``; any other store
    is read through Spark, from the tombstone-filtered scan
    (``live_events``) or the store's pinned-schema read, and collected
    by ``_collect``. The driver reader reads one bucket directory, one
    (et, pid) directory or the counter deltas through one scan
    (``_batches``) that skips row groups by the filter's parquet
    statistics and yields one record batch at a time; each read folds
    the batches as they come (a top-k for a page, a sum for a count, a
    stream for the replay), dropping the dead keys, so only the
    tombstones are held whole. Hidden files are skipped by Spark's rule
    and the directory values supplied, returning the Rows a Spark
    collect would.
    """

    warehouse: str
    keyspace: str
    table: str = "events"
    n_buckets: int = 64
    #: Declared replication strategy, persisted by ensure_storage()
    #: (reference: CassandraReplicationStrategyFactory.cs:17-37).
    replication: object = field(default_factory=SimpleReplicationStrategy)

    @property
    def root(self) -> str:
        return os.path.join(self.warehouse, self.keyspace)

    @property
    def properties_path(self) -> str:
        return os.path.join(self.root, "properties.json")

    @property
    def events_path(self) -> str:
        return os.path.join(self.root, self.table)

    @property
    def tombstones_path(self) -> str:
        return os.path.join(self.root, "tombstones")

    @property
    def index_path(self) -> str:
        return os.path.join(self.root, "index_by_eventtype")

    @property
    def counter_path(self) -> str:
        return os.path.join(self.root, "message_counter")

    @property
    def message_store_path(self) -> str:
        return os.path.join(self.root, "message_store")

    def bucket_path(self, bucket: int) -> str:
        return os.path.join(self.events_path, f"bucket={bucket}")

    def index_type_path(self, et: str) -> str:
        return os.path.join(self.index_path, f"et={escape_path_name(et)}")

    def index_partition_path(self, et: str, pid: int) -> str:
        return os.path.join(self.index_type_path(et), f"pid={pid}")

    def prop_index_path(self, name: str) -> str:
        return os.path.join(self.root, f"prop_index_{name}")

    # -- bucket rule
    def bucket_col(self) -> Column:
        """Each row's bucket: ``pmod(xxhash64(id), n_buckets)``."""
        return F.pmod(F.xxhash64("id"), F.lit(self.n_buckets)).cast("int")

    def bucket_of(self, aid: bytes) -> int:
        """``bucket_col`` computed driver-side by a pure-python XXH64
        that bit-matches Spark's — no 1-row Spark job per point lookup."""
        return hashing.bucket_of(aid, self.n_buckets)

    # -- S2: create tables (idempotent). Parquet dirs materialize on first
    # write; ensure_storage records intent and validates nothing clashes.
    def ensure_storage(self, spark: SparkSession | None = None) -> None:
        """Idempotent storage bootstrap + properties.json recording.

        All I/O goes through the Hadoop FileSystem API (any scheme —
        file:/, hdfs:/, s3a:/), resolved from ``spark`` or the active
        session."""
        spark = _fs_session(spark)
        payload = json.dumps(
            {
                "keyspace": self.keyspace,
                "replication": self.replication.to_property(),
            },
            indent=2,
            sort_keys=True,
        )
        for path in (
            self.events_path,
            self.index_path,
            self.counter_path,
            self.message_store_path,
        ):
            fsutil.mkdirs(spark, path)
        fsutil.write_text(spark, self.properties_path, payload)

    def properties(self, spark: SparkSession | None = None) -> dict:
        """The recorded keyspace properties ({} before ensure_storage)."""
        text = fsutil.read_text(_fs_session(spark), self.properties_path)
        return json.loads(text) if text else {}

    def exists(self, spark: SparkSession | None = None) -> bool:
        return fsutil.path_exists(_fs_session(spark), self.events_path)

    # -- S3: wipe tenant, guarded like EventStoreDataWiper.cs:31-57.
    def wipe(self, tenant_guard: str,
             spark: SparkSession | None = None) -> None:
        """Drop the whole keyspace iff ``tenant_guard`` matches its tenant."""
        if not self.keyspace.startswith(tenant_guard.lower() + "_") and (
            self.keyspace != tenant_guard.lower()
        ):
            raise PermissionError(
                f"refusing to wipe {self.keyspace!r} for tenant {tenant_guard!r}"
            )
        fsutil.delete_path(_fs_session(spark), self.root)

    # -- reads
    def read_events(self, spark: SparkSession,
                    version: int | None = None) -> DataFrame:
        """Events rows with their ``bucket`` column: the current table,
        or the files snapshot ``version`` froze."""
        if version is None:
            return spark.read.schema(_EVENTS_FILE_SCHEMA).parquet(
                self.events_path
            )
        return self.snapshots(spark).read(version, schema=_EVENTS_FILE_SCHEMA)

    def read_tombstones(self, spark: SparkSession,
                        version: int | None = None) -> DataFrame | None:
        """Deleted (id, rev, pos) keys — current, or those snapshot
        ``version`` froze; None when there is no tombstone directory (or
        the snapshot froze no file). As in ``_read``, a directory holding
        no data file is read as it is: it is already empty."""
        if version is None:
            files = (
                [self.tombstones_path]
                if fsutil.path_exists(spark, self.tombstones_path)
                else []
            )
        else:
            files = self.snapshots(spark).manifest(version).get("tombstones")
        if not files:
            return None
        return spark.read.schema(TOMBSTONE_SCHEMA).parquet(*files)

    def read_index(self, spark: SparkSession,
                   et: str | None = None) -> DataFrame:
        """The index rows; given ``et``, only that type's ``et=``
        directory is listed and read (empty when it has none)."""
        path = self.index_path if et is None else self.index_type_path(et)
        return _read(spark, path, schemas.INDEX_SCHEMA, base=self.index_path)

    def read_counter_deltas(self, spark: SparkSession) -> DataFrame:
        return _read(spark, self.counter_path, schemas.COUNTER_SCHEMA)

    def read_messages(self, spark: SparkSession) -> DataFrame:
        return _read(
            spark, self.message_store_path, schemas.MESSAGE_STORE_SCHEMA
        )

    def live_events(self, spark: SparkSession,
                    aids: list[bytes] | None = None,
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
            buckets = sorted({self.bucket_of(a) for a in aids})
        df = self.read_events(spark, version)
        if buckets is not None:
            df = df.where(F.col("bucket").isin(buckets))
        df = df.drop("bucket")
        if aids is not None:
            df = df.where(F.col("id").isin(aids))
            if len(set(aids)) == 1:
                df = df.coalesce(1)
        tombs = self.read_tombstones(spark, version)
        if tombs is not None:
            df = df.join(F.broadcast(tombs), ["id", "rev", "pos"], "left_anti")
        return df

    # -- served reads: each returns Python values, read on the driver by
    # the Arrow scan when the store is on the local file system and
    # through Spark when it is anywhere else
    def _local_roots(self, spark: SparkSession,
                     *paths: str) -> list[str] | None:
        default_fs = _default_fs(spark)
        roots = [local_path(p, default_fs) for p in paths]
        return None if None in roots else roots

    def _aggregate_rows(self, spark: SparkSession, aid: bytes,
                        fields: tuple[str, ...], where,
                        order: tuple = (), limit: int | None = None
                        ) -> list[Row]:
        """Live rows of aggregate ``aid`` that match the filter
        ``where(col)`` builds with the reader's column constructor (all
        when it builds None), sorted by ``order`` and cut to ``limit``,
        as the ``Row``s of ``fields`` a Spark collect returns."""
        aid = bytes(aid)
        roots = self._local_roots(spark, self.bucket_path(self.bucket_of(aid)),
                                  self.tombstones_path)
        if roots is None:
            df = _where(self.live_events(spark, [aid]), where(F.col))
            return _collect(df, fields, order, limit)
        key = ds.field("id") == pa.scalar(aid, pa.binary())
        match = where(ds.field)
        match = key if match is None else key & match
        dead = _dead(roots[1], key)
        live = (_live(t, dead) for t in _batches(roots[0], _EVENTS_ARROW, match))
        table = _first(live, _EVENTS_ARROW, order, limit)
        return _rows(table, fields, _binary_type(spark))

    def event(self, spark: SparkSession, aid: bytes, rev: int,
              pos: int) -> Row | None:
        """The live (data, ts) ``Row`` of event (``aid``, ``rev``,
        ``pos``), or None when there is none."""
        rows = self._aggregate_rows(
            spark, aid, ("data", "ts"),
            lambda col: (col("rev") == rev) & (col("pos") == pos), limit=1,
        )
        return rows[0] if rows else None

    def event_page(self, spark: SparkSession, aid: bytes,
                   after: tuple[int, int] | None, descending: bool,
                   limit: int) -> list[Row]:
        """Up to ``limit`` live (rev, pos, ts, data) ``Row``s of
        aggregate ``aid`` in (rev, pos) order (``descending`` or not),
        starting past the keyset position ``after`` = (rev, pos) when
        given."""
        direction = "descending" if descending else "ascending"
        return self._aggregate_rows(
            spark, aid, ("rev", "pos", "ts", "data"),
            lambda col: _past(col, _EVENT_PAGE_KEY, after, descending),
            tuple((k, direction) for k in _EVENT_PAGE_KEY), limit,
        )

    def bucket_rows(self, spark: SparkSession, bucket: int,
                    after: int | None, before: int | None) -> Iterator[Row]:
        """Live rows of one bucket whose ts lies in [``after``,
        ``before``] (each bound optional), streamed as (id, rev, pos,
        ts, data) ``Row``s: on the driver one record batch at a time,
        holding only the dead keys whole; on Spark from a
        partition-pruned scan one partition at a time. The bucket itself
        may be of any size."""
        roots = self._local_roots(spark, self.bucket_path(bucket),
                                  self.tombstones_path)
        if roots is None:
            df = _where(self.live_events(spark, buckets=[bucket]),
                        ts_window(F.col, after, before))
            return df.toLocalIterator(prefetchPartitions=False)
        dead, binary = _dead(roots[1], None), _binary_type(spark)
        return (
            row
            for t in _batches(roots[0], _EVENTS_ARROW,
                              ts_window(ds.field, after, before))
            for row in _rows(_live(t, dead), tuple(_EVENTS_ARROW.names), binary)
        )

    def index_page(self, spark: SparkSession, et: str, pid: int,
                   after: tuple | None, limit: int) -> list[Row]:
        """Up to ``limit`` rows of the (``et``, ``pid``) index directory
        as the ``Row``s of a Spark collect of the index, in
        ``INDEX_PAGE_KEY`` order starting past the keyset position
        ``after`` (its values) when given; [] when there is no such
        directory."""
        fields = tuple(schemas.INDEX_SCHEMA.names)
        order = tuple((k, "ascending") for k in INDEX_PAGE_KEY)
        roots = self._local_roots(spark, self.index_partition_path(et, pid))
        if roots is None:
            df = self.read_index(spark, et).where(F.col("pid") == pid)
            df = _where(df, _past(F.col, INDEX_PAGE_KEY, after))
            return _collect(df, fields, order, limit)
        where = _past(ds.field, INDEX_PAGE_KEY, after)
        table = _first(_batches(roots[0], _INDEX_ARROW, where), _INDEX_ARROW,
                       order, limit)
        return _rows(table, fields, _binary_type(spark), {"et": et, "pid": pid})

    def counter_sum(self, spark: SparkSession, msgid: str | None) -> int:
        """Σ cv of ``msgid``'s counter deltas, 0 when it has none (and
        for a None ``msgid``, which no delta's key equals). On Spark one
        msgid's deltas are few: they are summed in one partition, so the
        read is one stage with no exchange."""
        roots = self._local_roots(spark, self.counter_path)
        if roots is None:
            row = (
                self.read_counter_deltas(spark)
                .where(F.col("msgid") == msgid)
                .coalesce(1)
                .agg(F.sum("cv").alias("cv"))
                .first()
            )
            return 0 if row["cv"] is None else int(row["cv"])
        deltas = _batches(roots[0], _COUNTER_ARROW, ds.field("msgid") == msgid)
        return sum(sum(t.column("cv").to_pylist()) for t in deltas)

    # -- snapshots (time travel over the events store)
    def snapshots(self, spark: SparkSession) -> SnapshotLog:
        return SnapshotLog(spark, self.events_path)

    def create_snapshot(self, spark: SparkSession) -> int:
        """Freeze the events files plus the tombstone files of this
        moment as a version (deletes are merge-on-read, so the
        tombstone set is part of a version's logical state)."""
        tombs = sorted(fsutil.list_data_files(spark, self.tombstones_path))
        return self.snapshots(spark).create(extra={"tombstones": tombs})

    # -- writes: append to a store, or with ``replace`` swap its contents
    def write_events(self, rows: DataFrame, replace: bool = False) -> None:
        """Envelope rows → one directory per bucket, files sorted by
        (id, rev, pos)."""
        bucketed = (
            rows.withColumn("bucket", self.bucket_col())
            .repartition("bucket")
            .sortWithinPartitions(*_EVENTS_SORT)
        )
        _put(bucketed, self.events_path, replace, "bucket")

    def rewrite_bucket(self, spark: SparkSession, bucket: int,
                       n_files: int) -> None:
        """Rewrite one bucket directory in place as ``n_files`` files
        sorted by (id, rev, pos); rows are kept verbatim."""
        path = self.bucket_path(bucket)
        rows = spark.read.schema(schemas.EVENTS_SCHEMA).parquet(path)
        _put(rows.coalesce(n_files).sortWithinPartitions(*_EVENTS_SORT),
             path, replace=True)

    def write_tombstones(self, keys: DataFrame,
                         replace: bool = False) -> None:
        """Deleted (id, rev, pos) keys → one file."""
        _put(keys.select(*TOMBSTONE_SCHEMA.fieldNames()).coalesce(1),
             self.tombstones_path, replace)

    def write_index(self, rows: DataFrame) -> None:
        """Index rows → one directory per (et, pid), files sorted by ts."""
        _put(rows.repartition("et", "pid").sortWithinPartitions("ts"),
             self.index_path, False, "et", "pid")

    def rewrite_index_partition(self, spark: SparkSession, et: str,
                                pid: int, keep: Column) -> bool:
        """Keep only the rows of one (et, pid) directory that match
        ``keep``; False if that directory does not exist."""
        path = self.index_partition_path(et, pid)
        if not fsutil.path_exists(spark, path):
            return False
        _put(spark.read.parquet(path).where(keep), path, replace=True)
        return True

    def write_counter_deltas(self, deltas: DataFrame,
                             replace: bool = False) -> None:
        """Counter deltas (msgid, cv) → flat files."""
        _put(deltas.select("msgid", F.col("cv").cast("long").alias("cv")),
             self.counter_path, replace)

    def write_messages(self, rows: DataFrame) -> None:
        """Messages → one directory per ``date``."""
        _put(rows.select(*schemas.MESSAGE_STORE_SCHEMA.fieldNames()),
             self.message_store_path, False, "date")


def _read(spark: SparkSession, path: str, schema: T.StructType,
          base: str | None = None) -> DataFrame:
    """A store read with its schema pinned, columns in canonical order
    (a pinned read returns partition columns last). ``base`` is the
    store's root when ``path`` is one of its partition directories, so
    the directory columns above ``path`` are still read from it.

    A missing ``path`` gives an empty frame without a Spark read. An
    existing one is read as it is: with the schema pinned, a directory
    holding no data file (empty, or only ``_SUCCESS``/``_temporary/``)
    already reads as an empty frame, so nothing walks it first."""
    if not fsutil.path_exists(spark, path):
        return spark.createDataFrame([], schema=schema)
    return (
        spark.read.schema(schema)
        .option("basePath", base or path)
        .parquet(path)
        .select(*schema.fieldNames())
    )


def _put(frame: DataFrame, path: str, replace: bool,
         *partition_cols: str) -> None:
    """Append ``frame`` to ``path``; with ``replace``, write a temp
    sibling and swap it into place through the Hadoop FileSystem API,
    so the same code works on file:/, hdfs:/ and s3a:/ URIs."""
    writer = frame.write
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if not replace:
        writer.mode("append").parquet(path)
        return
    tmp = path + ".tmp"
    writer.mode("overwrite").parquet(tmp)
    fsutil.replace_dir(frame.sparkSession, tmp, path)


def for_tenant(
    warehouse: str,
    tenant: str,
    base_keyspace: str = "eventstore",
    bounded_context: str | None = None,
    replication=None,
    spark: SparkSession | None = None,
) -> EventStoreLayout:
    """S4 bootstrap: resolve naming strategies and ensure storage
    (recording the replication strategy, default Simple/RF=1).

    The bootstrap runs through the Hadoop FileSystem API for every
    scheme (file:/, hdfs:/, s3a:/); ``spark`` defaults to the active
    session."""
    layout = EventStoreLayout(
        warehouse=warehouse,
        keyspace=keyspace_per_tenant(tenant, base_keyspace),
        table=table_per_bounded_context(bounded_context),
        replication=replication or SimpleReplicationStrategy(),
    )
    layout.ensure_storage(spark=spark)
    return layout
