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

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    a string). Index, counter and message reads of a store holding no
    data return an empty DataFrame with the canonical schema.
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

    def index_partition_path(self, et: str, pid: int) -> str:
        return os.path.join(
            self.index_path, f"et={escape_path_name(et)}", f"pid={pid}"
        )

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
        ``version`` froze; None when there are none."""
        if version is None:
            files = (
                [self.tombstones_path]
                if fsutil.has_data(spark, self.tombstones_path)
                else []
            )
        else:
            files = self.snapshots(spark).manifest(version).get("tombstones")
        if not files:
            return None
        return spark.read.schema(TOMBSTONE_SCHEMA).parquet(*files)

    def read_index(self, spark: SparkSession) -> DataFrame:
        return _read(spark, self.index_path, schemas.INDEX_SCHEMA)

    def read_counter_deltas(self, spark: SparkSession) -> DataFrame:
        return _read(spark, self.counter_path, schemas.COUNTER_SCHEMA)

    def read_messages(self, spark: SparkSession) -> DataFrame:
        return _read(
            spark, self.message_store_path, schemas.MESSAGE_STORE_SCHEMA
        )

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


def _read(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """A store read with its schema pinned, columns in canonical order
    (a pinned read returns partition columns last)."""
    if not fsutil.has_data(spark, path):
        return spark.createDataFrame([], schema=schema)
    return spark.read.schema(schema).parquet(path).select(*schema.fieldNames())


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
