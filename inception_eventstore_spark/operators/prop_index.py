"""Secondary index on payload properties — the generalized
index_by_eventtype.

The reference maintains exactly one secondary index: event-type →
(aid, rev, pos), day-partitioned (`IndexByEventTypeStore.cs:44-61`,
pid math `:85-98`). This module generalizes that ingest-maintained
pattern to ANY extractable property of the envelope/payload (a JSON
field of ``props``, a derived column...): the index stores one row per
(value, event key) under a hash-bucketed directory layout, so an
equality probe is a partition-pruned scan of ONE bucket directory —
never a corpus scan — exactly how `_sig`/`_cell` prune the ANN indexes.

Layout: parquet partitioned by ``_vb = pmod(xxhash64(utf8(value)),
n_buckets)``. The bucket of a lookup value is computed DRIVER-SIDE with
the pure-python XXH64 twin (`functions/hashing.py`, equality with the
JVM expression pinned by tests), so a point lookup plans its partition
filter without running a Spark job first.

At 100 TB: the index is O(#events) tiny rows maintained by the same
ingest job that writes the log (the reference's dual-write, done as one
Spark write); probes touch 1/n_buckets of it, then semi-join the log on
its clustered keys.
"""

from __future__ import annotations

import math
import struct
from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_eventstore_spark.functions.hashing import xxhash64

# Java Double.doubleToLongBits collapses every NaN to the canonical
# quiet NaN 0x7ff8000000000000 (signed: positive, < 2^63)
_CANON_NAN_BITS = 0x7FF8000000000000

__all__ = ["PropertyIndex"]


class PropertyIndex:
    """Equality index ``value → key columns`` at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        n_buckets: int = 256,
    ):
        if not key_cols:
            raise ValueError("key_cols must be non-empty")
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.n_buckets = int(n_buckets)

    # -- write side ------------------------------------------------
    @staticmethod
    def _canon_col(dtype) -> Column:
        """The canonical bucket-key string of ``_val``, by OBSERVED
        column type. Strings/ints/decimals/booleans cast-to-string
        (renderings the driver reproduces exactly: utf-8 text, decimal
        digits, plain-scale decimals, 'true'/'false'). Floats do NOT —
        Java Double.toString's shortest-repr differs from Python's —
        so float/double columns key on the IEEE-754 bit pattern
        instead: reflect('java.lang.Double','doubleToLongBits') on the
        JVM, struct-pack on the driver, bit-identical both sides
        (including -0.0 and the canonical-NaN collapse)."""
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            return F.expr(
                "reflect('java.lang.Double','doubleToLongBits',"
                " cast(_val as double))"
            )
        return F.col("_val").cast("string")

    def _rows(self, events: DataFrame, value: Column) -> DataFrame:
        v = value.alias("_val")
        keyed = events.select(v, *self.key_cols).where(
            F.col("_val").isNotNull()
        )
        canon = self._canon_col(keyed.schema["_val"].dataType)
        return keyed.withColumn(
            "_vb",
            F.pmod(
                F.xxhash64(F.encode(canon, "UTF-8")),
                F.lit(self.n_buckets),
            ),
        )

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        events: DataFrame,
        value: Column,
        key_cols: list[str],
        path: str,
        n_buckets: int = 256,
    ) -> "PropertyIndex":
        """Create the index from a full scan (one-time backfill)."""
        idx = cls(spark, path, key_cols, n_buckets)
        idx._rows(events, value).write.partitionBy("_vb").mode(
            "overwrite"
        ).parquet(path)
        return idx

    def append(self, events_delta: DataFrame, value: Column) -> None:
        """Ingest-time maintenance: index the new batch's rows only."""
        self._rows(events_delta, value).write.partitionBy("_vb").mode(
            "append"
        ).parquet(self.path)

    # -- read side -------------------------------------------------
    @staticmethod
    def _render(value) -> str:
        """The lookup value's canonical bucket-key string — must equal
        what ``_canon_col`` computed at build time, so the value's
        python type must match the indexed column's Spark type:

        - str → itself; int → decimal digits (identical both sides);
        - bool → 'true'/'false' (Spark's boolean cast-to-string);
        - float → str(doubleToLongBits) with the canonical-NaN
          collapse — the bit-pattern key, since Java's and Python's
          shortest-repr float strings differ ('1.0E20' vs '1e+20');
        - Decimal → str(value), which matches Spark's plain-scale
          decimal rendering PROVIDED the value carries the column's
          exact scale (Decimal('1.50') for a DECIMAL(_,2) column, not
          Decimal('1.5')) and is in the plain range (no exponent).
        """
        if isinstance(value, bool):
            return "true" if value else "false"
        if isinstance(value, float):
            if math.isnan(value):
                return str(_CANON_NAN_BITS)
            return str(struct.unpack(">q", struct.pack(">d", value))[0])
        if isinstance(value, Decimal):
            s = str(value)
            if "E" in s or "e" in s:
                raise ValueError(
                    f"decimal lookup value renders scientific ({s}) — "
                    "normalize to the column's plain scale first"
                )
            return s
        if isinstance(value, (str, int)):
            return str(value)
        raise TypeError(
            "lookup values must be str, int, bool, float or Decimal, "
            f"got {type(value).__name__}"
        )

    def _bucket_of(self, value) -> int:
        return xxhash64(self._render(value).encode("utf-8")) % self.n_buckets

    def lookup(self, value) -> DataFrame:
        """Key rows whose indexed property equals ``value`` — a scan of
        ONE bucket directory (partition filter planned driver-side),
        then the exact value equality inside it, PK-deduped: the
        eventstore retry path intentionally re-appends a redelivered
        batch (EventStore._append_rows), so the raw index rows can carry
        duplicates — callers joining lookup() output directly must see
        each key once. Raises FileNotFoundError for an index with no
        data at all (never built, or built from rows whose property was
        always null); a merely-missing bucket returns an empty keyed
        result."""
        from inception_eventstore_spark.sources import fsutil

        rendered = self._render(value)
        b = self._bucket_of(value)
        bucket_dir = f"{self.path}/_vb={b}"
        if not fsutil.path_exists(self.spark, bucket_dir):
            if not fsutil.list_data_files(
                self.spark, self.path, recursive=True
            ):
                raise FileNotFoundError(
                    f"property index has no data: {self.path}"
                )
            # no event ever carried a value hashing to this bucket —
            # an empty result with the key schema, no Spark job
            first = self.spark.read.parquet(self.path).select(
                *self.key_cols
            )
            return first.limit(0)
        if isinstance(value, float):
            # exact IEEE equality (the rendered bits string keyed the
            # bucket; the stored _val compares as a double). NaN lookups
            # match nothing — SQL NaN != NaN, same as the reference's
            # absent-key miss.
            pred = F.col("_val").cast("double") == F.lit(float(value))
        else:
            pred = F.col("_val").cast("string") == rendered
        return (
            self.spark.read.option("basePath", self.path)
            .parquet(bucket_dir)
            .where(pred)
            .select(*self.key_cols)
            .dropDuplicates(self.key_cols)
        )

    def probe(self, events: DataFrame, value) -> DataFrame:
        """Events whose indexed property equals ``value``: index lookup
        → semi-join the log on its key columns (the reference's
        index-record → point-lookup loop, as ONE join). lookup() is
        already PK-deduped; left_semi ignores right-side multiplicity
        anyway."""
        return events.join(
            self.lookup(value), self.key_cols, "left_semi"
        )
