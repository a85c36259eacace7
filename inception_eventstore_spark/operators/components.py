"""Connected components over near-duplicate pair lists → cluster dedup.

The near-dup operators (minhash_lsh_pairs / simhash_near_duplicates /
ngram_jaccard_pairs / cosine_near_duplicates) emit PAIRS, but a corpus
dedup needs CLUSTERS: if A~B and B~C, exactly one of {A, B, C} should
survive even though (A, C) may never appear as a pair. That closure is
connected components over the pair graph.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", ACM SoCC 2014) — the
standard shuffle-based CC that converges in O(log² n) rounds regardless
of component diameter, unlike naive label propagation whose round count
is the graph diameter (a 100 TB crawl corpus can chain near-dups into
long paths). Each round is two hash-shuffles over the CURRENT edge set,
which only shrinks as stars collapse; per-round state is one
(node, min-neighbor) pair per node.

Driver-side iteration uses ``localCheckpoint`` per round to truncate
lineage (without it the plan doubles every round and Catalyst analysis
dominates), and a (count, hash-sum) signature to detect the fixed point
with one tiny aggregate instead of a full anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient every edge large→small, drop self-loops, dedupe."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Attach each node's strictly-larger neighbors to its minimum
    neighborhood node (Γ⁺ min): emit (v, m) for v ∈ Γ(u), v > u.

    Shape (r9 rewrite): a min-over-`Window.partitionBy(u)` replaces
    the former groupBy-min + self-join — ONE exchange per star instead
    of two-plus-broadcast, and (because the loop re-plans every round)
    a much smaller logical tree that references the input exactly once
    (`explode` of both orientations, not a union of two scans). The
    per-round cost of the CC loop is DRIVER-side planning + codegen,
    not execution, so plan size is the thing to minimize. The window
    key is the node id — the same key (and the same hot-node skew
    bound) as the groupBy/join it replaces, never a single partition.

    The output is NOT deduplicated: per-round dedup is optional in the
    alternating-star algorithm (Kiveris et al. §3 run it once per
    round, not per operator), duplicate (v, m) rows inflate the next
    operator's input only linearly, and `_small_star`'s trailing
    `_canonical` dedups the round."""
    from pyspark.sql import Window

    nbrs = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("_e")
    ).select("_e.u", "_e.v")
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        nbrs.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        # already canonical: m = min(Γ(u) ∪ {u}) ≤ u < v, so the
        # emitted (v, m) rows satisfy u > v with no self-loops
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Attach each node's smaller-or-equal neighbors (and itself) to its
    minimum smaller neighbor — same single-exchange window shape as
    `_large_star` (the (u, m) self-edge is emitted once per neighbor
    and deduplicated by the trailing `_canonical`)."""
    from pyspark.sql import Window

    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = F.min("v").over(Window.partitionBy("u"))
    return _canonical(
        directed.withColumn("m", m)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("u"), F.col("m").alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    """Order-insensitive fixed-point signature: (edge count, XOR of
    per-edge hashes) — one aggregate, no join. XOR (not sum): the edge
    set is distinct so xor is a faithful set digest, and it cannot
    overflow under ANSI mode."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact union-find finish for a BOUNDED edge set: collect the
    (already star-contracted, materialized) edges and label every node
    with its component minimum — union-by-min keeps each tree's root
    equal to the smallest member seen, so the final find() IS the
    component min with no relabel pass. The output set is identical to
    the alternating-star fixed point (star rounds preserve the node
    set and connectivity; both label by component min), so oracles
    hash-match either path. Deterministic regardless of edge order."""
    dtype = edges.schema["u"].dataType.simpleString()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        u, v = row["u"], row["v"]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    out = [(n, find(n)) for n in parent]
    return local_df(
        edges.sparkSession,
        out,
        f"node {dtype}, component {dtype}",
        slices=max(1, len(out) // 500_000 + 1),
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    driver_finish_edges: int = 1_000_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    ``component`` is the smallest node id in its connected component.

    ``pairs`` is an undirected edge list (near-dup pairs); extra columns
    (jaccard, hamming, …) are ignored. Isolated documents never appear
    in a pair list — callers wanting them labeled union the full id set
    afterwards (see ``dedup_by_components``).

    Driver finish (r10): each distributed round costs ~0.6 s of driver
    Catalyst compile alone, so once the star-contracted edge set is
    small (``driver_finish_edges`` dial, exact count from the
    signature — no extra job) the remaining O(log n) rounds are pure
    overhead: the bounded set collects and an exact union-find labels
    it driver-side (the km_survival bounded-axis pattern). At the
    default 1M-edge dial that finish is seconds and a few hundred MB
    of driver heap (~1M pyspark Rows + a ~2M-entry dict), not free —
    it wins because it replaces SEVERAL ~0.6 s-compile rounds, and 16g
    driver heap is the repo's bench/smoke floor. Lower the dial on
    thin drivers. The distributed loop still handles arbitrarily large
    graphs — the dial only short-circuits the tail the 5M-name linkage
    smoke shows shrinking by orders of magnitude per round."""
    # eager=False + the signature aggregate as the materializing action:
    # one job per round instead of two (the eager checkpoint job and
    # the signature job both scanned the same fresh edge set — r9 cut).
    #
    # Partition-count right-sizing: the edge set SHRINKS every round
    # (stars collapse), but a checkpointed relation keeps its width, so
    # late rounds were running ~6 stages of 32 near-empty tasks each —
    # pure scheduling overhead at the tail. The signature already knows
    # the exact row count, so coalesce (narrow, post-materialization) to
    # ~500k rows/partition, never widening past the current width: at
    # 100 TB the count stays large and this is a no-op; at the tail it
    # turns each star stage into a handful of tasks. AQE coalesces the
    # POST-shuffle side; this handles the map side the same way.
    def _rightsized(e: DataFrame, n: int) -> DataFrame:
        # DataFrame.coalesce never widens, so no partition-count probe
        # is needed (probing via .rdd would re-run plan→RDD conversion
        # — a fresh compile — every round)
        return e.coalesce(max(1, n // 500_000 + 1))

    # Size-probe the CANONICAL pair list before any star round (r11):
    # union-find labels raw edges just as well as contracted ones
    # (union-by-min root IS the component min either way, and star
    # rounds preserve the node set), so when the input is already
    # under the dial the two window/exchange star passes are pure
    # overhead — at gate/bench scale that was every declared CC query
    # (entity_clusters, dedup_cc_clusters, dedup_survivors,
    # phash_clusters). The signature aggregate doubles as the
    # materializing action, so the probe costs big graphs one extra
    # read of the cached canonical list plus one aggregate — the star
    # loop itself then proceeds exactly as before.
    #
    # canon is persist()ed (not localCheckpoint'd) so it can be
    # RELEASED the moment its last consumer has materialized — the
    # driver collect on the small path, the round-1 star checkpoint on
    # the big path. An edge-sized checkpoint would otherwise stay
    # pinned until a JVM GC (the r5 leak class; ADVICE r11).
    canon = _canonical(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).persist()
    sig = _signature(canon)
    if sig[0] <= driver_finish_edges:
        out = _driver_union_find(canon)
        canon.unpersist()
        return out
    edges = _small_star(_large_star(_rightsized(canon, sig[0])))\
        .localCheckpoint(eager=False)
    sig = _signature(edges)
    canon.unpersist()
    if sig[0] <= driver_finish_edges:
        return _driver_union_find(edges)
    edges = _rightsized(edges, sig[0])
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        new_sig = _signature(edges)
        if new_sig == sig:
            break
        sig = new_sig
        if new_sig[0] <= driver_finish_edges:
            return _driver_union_find(edges)
        edges = _rightsized(edges, sig[0])
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # Fixed point = star graphs: every edge points node → component min.
    members = edges.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    )
    roots = edges.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    return members.union(roots)


def dedup_by_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Corpus-level near-dup removal: keep exactly one representative
    (the smallest id) per connected component of the pair graph, plus
    every document that appears in no pair. One left-anti hash join
    against the (small) non-representative set."""
    comp = connected_components(pairs, src, dst)
    drop = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Quality-aware cluster dedup: keep the HIGHEST-``quality_col``
    member of each near-dup component (ties → smallest id) instead of
    ``dedup_by_components``'s blind smallest-id rule — the survivor
    selection step every production dedup pipeline runs after
    clustering (drop the boilerplate copy, keep the canonical one).

    Scale shape: the component labeling covers only documents that
    appear in a pair (a small fraction of the corpus); those rows are
    semi-joined out, windowed per component (one shuffle of the
    clustered subset only), and unioned back with the untouched
    remainder — the bulk of the corpus is never exchanged."""
    from pyspark.sql import Window

    comp = connected_components(pairs, src, dst).select(
        F.col("node").alias(id_col), "component"
    )
    clustered = docs.join(comp, id_col, "inner")
    w = Window.partitionBy("component").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    winners = (
        clustered.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "component")
    )
    untouched = docs.join(
        comp.select(id_col), id_col, "left_anti"
    )
    return untouched.unionByName(winners)


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(id, component, cluster_size, weight): SOFT deduplication —
    instead of dropping near-duplicates, every member of a near-dup
    cluster gets sampling weight 1/|cluster| (SoftDeDup-style
    frequency reweighting): the cluster's total mass in the training
    mixture equals one document's, so common text is down-weighted
    smoothly rather than deleted — the option that preserves rare
    in-cluster variation hard dedup throws away. Documents in no pair
    keep weight 1.0.

    One components run over the pair graph (O(log² n) alternating-star
    rounds), a |components|-row size aggregate, and a left join back —
    the corpus body shuffles once on the id."""
    comp = connected_components(pairs, src, dst)
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("_s")
    )
    labeled = comp.join(sizes, "component").select(
        F.col("node").alias(id_col), "component", "_s"
    )
    return (
        docs.select(id_col)
        .join(labeled, id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).cast("bigint").alias(
                "component"
            ),
            F.coalesce("_s", F.lit(1)).cast("bigint").alias(
                "cluster_size"
            ),
            F.round(
                F.lit(1.0) / F.coalesce("_s", F.lit(1)).cast("double"), 6
            ).alias("weight"),
        )
    )
