"""Native-engine scale smoke: bulk-ingest the synthetic events table
into the envelope event store (bucketed layout + derived index +
counters in one job), then time the R-path operators against OUR
storage, not the analytics parquet.

Usage: python tools/scale_smoke.py [sf_dir] [warehouse_dir] [multiplier]
``multiplier`` replicates the events table N× with disjoint aggregate
ids (1M envelope rows at sf0.1 × 10) to push the layout past the
single-job scale. Prints one JSON line with ingest + operator timings.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.filetime import timestamp_to_filetime_col
from inception_eventstore_spark.operators.eventstore import EventStore, PlayerOptions
from inception_eventstore_spark.operators.index import IndexByEventTypeStore
from inception_eventstore_spark.operators.counters import MessageCounter
from inception_eventstore_spark.session import get_spark
from inception_eventstore_spark.sources import layout as L
from inception_eventstore_spark.sources.tables import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    wh = (sys.argv[2] if len(sys.argv) > 2 and sys.argv[2] else
          tempfile.mkdtemp(prefix="es-smoke-"))
    cleanup = len(sys.argv) <= 2 or not sys.argv[2]

    multiplier = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    events = load_table(spark, sf_dir, "events")
    if multiplier > 1:
        events = events.crossJoin(
            spark.range(multiplier).select(F.col("id").alias("_rep"))
        ).withColumn(
            "user_id", F.col("user_id") + F.col("_rep") * F.lit(1_000_000)
        ).drop("_rep")
    envelope = events.select(
        F.col("user_id").cast("string").cast("binary").alias("id"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rev"),
        F.lit(0).alias("pos"),
        timestamp_to_filetime_col("ts").alias("ts"),
        F.to_json(F.struct("event_type", "value", "props")).alias("data").cast(
            "binary"
        ),
    )

    lay = L.for_tenant(wh, "smoke", "es")
    store = EventStore(
        spark,
        lay,
        event_type_expr=lambda d: F.get_json_object(
            d.cast("string"), "$.event_type"
        ),
    )

    t0 = time.time()
    store._append_rows(envelope, maintain_index=True)
    timings["ingest_events_index_counters"] = round(time.time() - t0, 3)
    n_rows = store.events_df().count()

    # R3: point-load one aggregate
    t0 = time.time()
    commits = store.load_aggregate(b"42").collect()
    timings["r3_load_aggregate"] = round(time.time() - t0, 3)

    # R9: time-window replay over the envelope store
    bounds = store.events_df().agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    mid = (bounds["lo"] + bounds["hi"]) // 2
    t0 = time.time()
    n_window = store.replay(PlayerOptions(after=bounds["lo"], before=mid)).count()
    timings["r9_replay_window"] = round(time.time() - t0, 3)

    # R10: full grouped replay, timed through one aggregate that reads
    # the commit arrays — a bare .count() lets Catalyst prune them (and
    # the private/public split) out of the plan. Every envelope row
    # lands in exactly one of the two arrays.
    t0 = time.time()
    r10 = store.replay_grouped().agg(
        F.count("*").alias("commits"),
        F.sum(F.size("events") + F.size("public_events")).alias("events"),
    ).first()
    timings["r10_replay_grouped"] = round(time.time() - t0, 3)
    n_groups = int(r10["commits"])
    assert int(r10["events"]) == n_rows, (r10["events"], n_rows)

    # R11: index-driven replay of one type over half the time range
    idx = IndexByEventTypeStore(spark, lay)
    t0 = time.time()
    n_type = store.replay_by_event_type(
        idx, PlayerOptions(event_type_id="click", after=bounds["lo"], before=mid)
    ).count()
    timings["r11_index_replay"] = round(time.time() - t0, 3)

    # R9+R12: chunked streaming replay — the whole store enumerated
    # bucket by bucket in chunks of at most 50k rows (local buckets
    # stream through the layout's Arrow reader one record batch at a
    # time, never a whole bucket). Row count must equal the plain replay.
    t0 = time.time()
    n_chunked, max_chunk = 0, 0
    for chunk in store.replay_chunked(PlayerOptions(), chunk_rows=50_000):
        n_chunked += len(chunk)
        max_chunk = max(max_chunk, len(chunk))
    timings["r12_chunked_replay"] = round(time.time() - t0, 3)
    assert n_chunked == n_rows, (n_chunked, n_rows)
    assert max_chunk <= 50_000

    counters = MessageCounter(spark, lay)
    n_click = counters.get_count("click")

    # property index over the 1M-row store: registration backfills
    # (one scan), then a point lookup is a single-bucket pruned scan +
    # semi-join — the generalized-index scale path
    t0 = time.time()
    pidx = store.register_property_index(
        "k",
        # the envelope payload nests the original props as a JSON
        # string field — two-level extraction
        lambda d: F.get_json_object(
            F.get_json_object(d.cast("string"), "$.props"), "$.k"
        ),
    )
    timings["prop_index_backfill"] = round(time.time() - t0, 3)
    t0 = time.time()
    n_prop = pidx.probe(store.events_df(), 69).count()
    timings["prop_index_probe"] = round(time.time() - t0, 3)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "envelope_rows": n_rows,
                "r3_commits": len(commits),
                "r9_window_rows": n_window,
                "r10_commits": n_groups,
                "r11_type_rows": n_type,
                "r12_chunked_rows": n_chunked,
                "r12_max_chunk": max_chunk,
                "counter_click": n_click,
                "prop_index_hits": n_prop,
                "timings": timings,
            }
        )
    )
    spark.stop()
    if cleanup:
        shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
