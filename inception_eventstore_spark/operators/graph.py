"""Graph analytics over relation-shaped edge tables.

PageRank gives pipelines a principled document/source importance score
(e.g. rank crawl domains by link authority before sampling — the
Common-Crawl-curation use). Implemented as the standard synchronous
power iteration in pure DataFrame algebra, GraphFrames-style
aggregate-messages without the dependency:

    r'(v) = (1 − d)/N + d · Σ_{u→v} r(u)/outdeg(u)

Each iteration is two shuffles (rank⋈edges on src, then groupBy dst) —
the minimal message-passing shape; edges are cached and re-partitioned
by src ONCE so every iteration reuses the same partitioning. Ranks are
one row per node (orders of magnitude smaller than edges). A fixed
iteration count keeps the whole computation a deterministic DAG — at
100 TB you bound iterations anyway (10-20) rather than testing
convergence per step.

Dangling nodes (no out-edges) keep receiving rank but emit none — their
mass leaks rather than being redistributed; the declared oracle unrolls
the SAME recurrence, so both engines agree exactly. (Full dangling-mass
redistribution adds one scalar aggregate per iteration — trivially
bolted on when semantics require it.)

Related in-repo: `components.connected_components` (alternating-star),
`components.dedup_survivors` — this module completes the graph family
with a value-propagating iteration.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inception_eventstore_spark.functions.local_df import local_df

__all__ = [
    "pagerank",
    "undirected_edges",
    "label_propagation",
    "triangle_counts",
    "adamic_adar",
    "bfs_hops",
    "modularity",
    "assortativity",
]


def _collect_if_small(df: DataFrame, dial: int | None):
    """``df`` as a pandas frame when it holds at most ``dial`` rows,
    else None (always None for a zero or negative dial) — the graph
    loops' choice between a driver finish and the distributed loop.

    persist → exact count → ``toPandas`` within the dial, else release.
    The count is a partial-aggregated scalar, so a graph that stays
    distributed ships no rows to the driver, and a collect reads the
    cached blocks instead of re-running the caller's edge build. No
    cache entry outlives the call.

    ``components.connected_components`` keeps its own test: the
    signature aggregate that materializes each of its rounds already
    yields the exact edge count, so this probe would add a job."""
    if not dial or dial <= 0:
        return None
    df = df.persist()
    pdf = df.toPandas() if df.count() <= int(dial) else None
    df.unpersist()
    return pdf


def _factorize_edges(pdf):
    """(src_i, dst_i, w, uniques) int64 index arrays over the distinct
    node set of a collected (src, dst, _w) frame."""
    m = len(pdf)
    codes, uniques = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    )
    codes = np.asarray(codes, dtype=np.int64)
    return codes[:m], codes[m:], pdf["_w"].to_numpy(), list(uniques)


def _py(v):
    """numpy scalar → python value for local_df rows."""
    return v.item() if hasattr(v, "item") else v


def _pagerank(
    edges: DataFrame,
    seeds: list | None,
    iterations: int,
    damping: float,
    src_col: str,
    dst_col: str,
    checkpoint: bool,
    driver_finish_edges: int,
) -> DataFrame:
    """The PageRank recurrence behind `pagerank` and
    `personalized_pagerank`:

        r_{t+1}(v) = (1−d)·s(v) + d·Σ_{u→v} r_t(u)/outdeg(u),  r_0 = s,

    with the teleport vector s uniform (1/N on every node) when
    ``seeds`` is None, else 1/|seeds| on each of the distinct ``seeds``
    and 0 elsewhere. The uniform teleport term is the literal (1−d)/N,
    not (1−d)·(1/N), so both forms keep their own float expressions.

    Driver finish: when the distinct (src, dst) pair set fits
    ``driver_finish_edges`` the recurrence runs in numpy over the
    collected exact pair weights. Per-edge terms are the same double
    expressions as the distributed loop; only the summation order
    differs (numpy index order vs Spark partial-aggregation order, both
    arbitrary), ~7 orders of magnitude inside the declared queries'
    9-dp rounding.

    An empty edge list raises before a missing seed does, on both
    paths."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if seeds is not None and not seeds:
        raise ValueError("seeds must be non-empty")
    d = float(damping)
    E0 = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    pdf = _collect_if_small(
        E0.groupBy("src", "dst").agg(F.count("*").alias("_w")),
        driver_finish_edges,
    )
    if pdf is not None:
        if len(pdf) == 0:
            raise ValueError("empty edge list")
        src_i, dst_i, w, uniques = _factorize_edges(pdf)
        w = w.astype(np.float64)
        n = len(uniques)
        if seeds is None:
            tele, r = (1.0 - d) / n, np.full(n, 1.0 / n, dtype=np.float64)
        else:
            pos = {_py(u): i for i, u in enumerate(uniques)}
            missing = [s for s in seeds if s not in pos]
            if missing:
                raise ValueError(
                    f"{len(missing)} seed(s) absent from the graph"
                )
            r = np.zeros(n, dtype=np.float64)
            r[[pos[s] for s in seeds]] = 1.0 / len(seeds)
            tele = (1.0 - d) * r
        outdeg = np.zeros(n, dtype=np.float64)
        np.add.at(outdeg, src_i, w)
        for _ in range(int(iterations)):
            contrib = np.zeros(n, dtype=np.float64)
            np.add.at(contrib, dst_i, (r[src_i] / outdeg[src_i]) * w)
            r = tele + d * contrib
        dtype = E0.schema["src"].dataType.simpleString()
        return local_df(
            edges.sparkSession,
            [(_py(u), float(x)) for u, x in zip(uniques, r)],
            f"node {dtype}, rank double",
        )
    # E feeds three consumers (the node set, the out-degree aggregate
    # and the probe side of E2); persisting it keeps the caller's
    # upstream edge build (often a join, e.g. lineitem⋈orders in the
    # declared custsupp queries) to one execution. Released once E2
    # (edges + outdeg) is materialized.
    E = E0.repartition("src").persist()
    # one scan, not a union of two: explode each edge into its endpoints
    nodes = (
        E.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
        )
        .distinct()
        .cache()
    )
    # one aggregate answers the node count and the seed presence
    aggs = [F.count("*").alias("_n")]
    if seeds is not None:
        aggs.append(F.count(F.when(F.col("node").isin(seeds), 1)).alias("_ns"))
    row = nodes.agg(*aggs).first()
    n = int(row["_n"])
    missing = 0 if seeds is None else len(seeds) - int(row["_ns"])
    if n == 0 or missing:
        E.unpersist()
        nodes.unpersist()
        raise ValueError(
            "empty edge list" if n == 0
            else f"{missing} seed(s) absent from the graph"
        )
    # The rank table is |nodes| rows — orders of magnitude below the
    # edge list. Below ~5M nodes it is broadcast, so every iteration is
    # a map-side join over the cached edges plus one partial-aggregated
    # groupBy(dst) whose shuffle carries ~|nodes|×|partitions| partial
    # rows, and the edges never shuffle after the one-time cache build.
    # A billion-node graph exceeds broadcast budgets; there the shuffle
    # join on the cached src partitioning is the right plan.
    maybe_b = F.broadcast if n <= 5_000_000 else (lambda df: df)
    # out-degree is joined onto the edge list once
    outdeg = E.groupBy("src").agg(F.count("*").alias("outdeg"))
    E2 = E.join(maybe_b(outdeg), "src").cache()
    E2.count()  # materialize from the persisted E, then release E
    E.unpersist()
    # s and the teleport term are closed-form columns of the node id,
    # so they are inlined at the edge side as well as at the output
    def s(c):
        if seeds is None:
            return F.lit(1.0 / n)
        return F.when(
            c.isin(seeds), F.lit(1.0 / len(seeds))
        ).otherwise(F.lit(0.0))

    def tele(c):
        return F.lit((1.0 - d) / n) if seeds is None else F.lit(1.0 - d) * s(c)

    # The iteration carries the per-node in-sums Σ r(u)/outdeg(u) alone:
    # r(src) = tele(src) + d·coalesce(_in(src), 0) is a closed form of
    # the previous in-sums, so it is inlined at the edge side and each
    # iteration broadcasts one node-sized relation. The dense rank table
    # is attached once at the end. r_0 = s, so the first in-sums need
    # no join at all.
    contribs = E2.groupBy("dst").agg(
        F.sum(s(E2["src"]) / F.col("outdeg")).alias("_in")
    )
    for _ in range(int(iterations) - 1):
        # contribs derives from E2, so joining it back on same-named
        # columns would be an ambiguous self-join: rename its columns
        prev = maybe_b(
            contribs.select(
                F.col("dst").alias("_pd"), F.col("_in").alias("_pin")
            )
        )
        contribs = (
            E2.join(prev, F.col("_pd") == E2["src"], "left")
            .select(
                E2["dst"].alias("_d"),
                (
                    (
                        tele(E2["src"])
                        + F.lit(d) * F.coalesce(F.col("_pin"), F.lit(0.0))
                    ) / E2["outdeg"]
                ).alias("_c"),
            )
            .groupBy(F.col("_d").alias("dst"))
            .agg(F.sum("_c").alias("_in"))
        )
    ranks = nodes.join(
        maybe_b(contribs), nodes["node"] == contribs["dst"], "left"
    ).select(
        "node",
        (
            tele(F.col("node"))
            + F.lit(d) * F.coalesce(F.col("_in"), F.lit(0.0))
        ).alias("rank"),
    )
    # materialize the small rank table, then drop the iteration caches
    # (checkpoint=False keeps the full lazy DAG for plan inspection; the
    # caches then outlive the call)
    if not checkpoint:
        return ranks
    out = ranks.localCheckpoint(eager=True)
    E2.unpersist()
    nodes.unpersist()
    return out


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
    driver_finish_edges: int = 4_000_000,
) -> DataFrame:
    """(node, rank) after ``iterations`` synchronous PageRank steps.

    ``edges`` is a directed edge list; duplicate (src, dst) rows count
    as parallel edges (weight = multiplicity), matching the SQL oracle.
    Ranks start uniform at 1/N over the distinct node set (sources ∪
    destinations), and the teleport term is (1 − d)/N.

    When the distinct (src, dst) pair set fits ``driver_finish_edges``
    the recurrence runs driver-side in numpy: a distributed iteration
    costs a broadcast-build job whose wall time is scheduling and
    collect round-trips, not compute. Above the dial it runs as the
    broadcast/shuffle loop described in the module docstring. Raises
    ValueError on an empty edge list.
    """
    return _pagerank(
        edges, None, iterations, damping, src_col, dst_col, checkpoint,
        driver_finish_edges,
    )


def undirected_edges(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Canonical undirected edge set (x < y, distinct, self-loops
    dropped) from any directed edge list — the shared normalization the
    undirected operators below start from. One groupBy on the 2-column
    canonical key."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("x"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
    )


def _neighbors(und: DataFrame) -> DataFrame:
    """(node, nbr) adjacency relation — each canonical edge in both
    directions."""
    return und.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("node"), F.col("y").alias("nbr")),
                F.struct(F.col("y").alias("node"), F.col("x").alias("nbr")),
            )
        ).alias("e")
    ).select("e.node", "e.nbr")


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
    driver_finish_edges: int = 4_000_000,
) -> DataFrame:
    """(node, label) after ``iterations`` synchronous label-propagation
    steps (Raghavan et al. 2007) over the undirected graph — the
    classic near-linear community detector (cluster web domains or
    near-dup doc graphs before sampling).

    Deterministic spec both engines implement exactly: labels start as
    the node's own id; each step every node adopts the most frequent
    label among its NEIGHBORS (its own label does not vote), ties
    broken by the smallest label. Synchronous update (all nodes step
    from the previous generation), so a fixed iteration count is a
    deterministic DAG — same reasoning as `pagerank`.

    Shape per iteration: one equi-join (neighbors ⋈ labels on nbr) and
    two partial-aggregated groupBys — the mode is computed as
    ``min(struct(-cnt, label))``, a plain aggregate rather than a
    ranking window, so each step's shuffle carries one row per (node,
    candidate label), never a sorted per-node window. Labels are one
    row per node; the adjacency is re-partitioned by nbr ONCE and
    cached so every step reuses the same partitioning.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    und = undirected_edges(edges, src_col, dst_col)
    # driver finish under the canonical-edge dial: the recurrence is
    # exact (labels are node ids, the mode is integer counts with a
    # min-label tie-break), so the numpy replay is bit-identical to the
    # distributed loop. Nodes are factorized sorted so index order is
    # label-value order and the tie-break compares identically.
    pdf = _collect_if_small(und, driver_finish_edges)
    if pdf is not None:
        dtype = und.schema["x"].dataType.simpleString()
        schema = f"node {dtype}, label {dtype}"
        if len(pdf) == 0:
            return local_df(edges.sparkSession, [], schema)
        codes, uniques = pd.factorize(
            pd.concat([pdf["x"], pdf["y"]], ignore_index=True), sort=True
        )
        codes = np.asarray(codes, dtype=np.int64)
        m = len(pdf)
        x_i, y_i = codes[:m], codes[m:]
        n = len(uniques)
        recv = np.concatenate([x_i, y_i])   # voting target
        giver = np.concatenate([y_i, x_i])  # neighbor whose label votes
        labels = np.arange(n, dtype=np.int64)
        for _ in range(int(iterations)):
            keys = recv * n + labels[giver]
            uk, cnt = np.unique(keys, return_counts=True)
            node_k, lab_k = uk // n, uk % n
            order = np.lexsort((lab_k, -cnt, node_k))
            first = np.unique(node_k[order], return_index=True)[1]
            nxt = np.empty(n, dtype=np.int64)
            # every node in the canonical edge set has >= 1 nbr
            nxt[node_k[order][first]] = lab_k[order][first]
            labels = nxt
        return local_df(
            edges.sparkSession,
            [(_py(u), _py(uniques[lab])) for u, lab in zip(uniques, labels)],
            schema,
        )
    nbrs = _neighbors(und).repartition("nbr").cache()
    labels = nbrs.select(F.col("node"), F.col("node").alias("label")).distinct()
    for _ in range(int(iterations)):
        votes = (
            nbrs.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg_cnt"),
                        F.col("label").alias("lbl"),
                    )
                ).alias("m")
            )
            .select("node", F.col("m.lbl").alias("label"))
        )
    if not checkpoint:
        return labels
    out = labels.localCheckpoint(eager=True)
    nbrs.unpersist()
    return out


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(node, triangles) — exact per-node triangle participation counts
    over the undirected graph (the local clustering-coefficient
    numerator; spam/boilerplate link farms show up as triangle-dense
    neighborhoods).

    Degree-ordered orientation (Cohen 2009 / Suri-Vassilvitskii
    "Counting triangles and the curse of the last reducer"): each
    undirected edge is oriented from its (degree, id)-smaller endpoint
    to the larger, so every wedge join fans out from the LOW-degree
    vertex — the join volume is O(Σ min-deg per edge) = O(m^1.5) worst
    case instead of O(Σ deg²), which is what makes a power-law hub
    survivable at 100 TB. Each triangle is discovered exactly once (at
    its orientation apex), then exploded to its three corners; nodes in
    no triangle are restored with count 0 via a left join on the node
    set. Three equi-join shuffles total, all partial-aggregated.
    """
    und = undirected_edges(edges, src_col, dst_col).localCheckpoint(
        eager=False
    )
    deg = _neighbors(und).groupBy("node").agg(F.count("*").alias("deg"))
    # orient by the total order (deg, id): apex = smaller endpoint
    ed = (
        und.join(deg.withColumnRenamed("node", "x").withColumnRenamed("deg", "dx"), "x")
        .join(deg.withColumnRenamed("node", "y").withColumnRenamed("deg", "dy"), "y")
        .select(
            F.when(
                (F.col("dx") < F.col("dy"))
                | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
                F.struct(
                    F.col("x").alias("lo"), F.col("y").alias("hi"),
                    F.col("dx").alias("dlo"), F.col("dy").alias("dhi"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("y").alias("lo"), F.col("x").alias("hi"),
                    F.col("dy").alias("dlo"), F.col("dx").alias("dhi"),
                )
            )
            .alias("o")
        )
        .select("o.lo", "o.hi", "o.dhi")
        .localCheckpoint(eager=False)
    )
    e1 = ed.select(F.col("lo").alias("apex"), F.col("hi").alias("v"),
                   F.col("dhi").alias("dv"))
    e2 = ed.select(F.col("lo").alias("apex"), F.col("hi").alias("w"),
                   F.col("dhi").alias("dw"))
    wedges = e1.join(e2, "apex").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = ed.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    tris = wedges.join(closing, ["v", "w"], "leftsemi")
    per_node = (
        tris.select(
            F.explode(
                F.array(F.col("apex"), F.col("v"), F.col("w"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    nodes = _neighbors(und).select("node").distinct()
    return nodes.join(per_node, "node", "left").select(
        "node",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias(
            "triangles"
        ),
    )


def adamic_adar(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
    top_n: int | None = None,
    max_degree: int | None = None,
) -> DataFrame:
    """(u, v, common_neighbors, adamic_adar) — link-prediction scores
    for NON-adjacent node pairs sharing at least ``min_common``
    neighbors:  AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w))
    (Adamic & Adar 2003) — high-score pairs are near-certain implicit
    edges (e.g. candidate duplicate clusters the kNN graph missed).

    Shape: wedge self-join of the adjacency on the shared middle
    vertex w (u < v cuts each pair once), degree table joined on w
    BEFORE grouping so the 1/ln(deg) term rides the wedge row, one
    partial-aggregated groupBy(u, v), then an anti-join against the
    canonical edge set to keep only non-adjacent pairs. A common
    neighbor has degree ≥ 2 by construction, so ln(deg) is never 0.
    The wedge volume is Σ deg(w)² — ``max_degree`` is the standard
    100 TB mitigation: super-node middles above the cap are excluded
    from wedge generation BEFORE the self-join (measured 54 s → bounded
    on the 12M-edge 10× smoke). Hubs contribute ~0 to AA anyway
    (1/ln(deg) → 0 and they co-neighbor everything), so the cap changes
    scores only by dropping near-zero terms; set it None for the exact
    statistic (the oracle path).
    """
    und = undirected_edges(edges, src_col, dst_col).localCheckpoint(
        eager=False
    )
    nbrs = _neighbors(und)
    deg = nbrs.groupBy("node").agg(F.count("*").alias("deg"))
    mid = deg
    if max_degree is not None:
        mid = deg.where(F.col("deg") <= int(max_degree))
    # joining deg onto the adjacency FIRST both caps the wedge fan-out
    # and rides the 1/ln(deg) term on the wedge row
    nw = nbrs.join(
        F.broadcast(mid.withColumnRenamed("node", "w")),
        nbrs["node"] == F.col("w"),
    ).select("w", "nbr", "deg")
    n1 = nw.select("w", F.col("nbr").alias("u"), "deg")
    n2 = nw.select(F.col("w").alias("w2"), F.col("nbr").alias("v"))
    wedges = n1.join(n2, n1["w"] == n2["w2"]).where(
        F.col("u") < F.col("v")
    )
    scored = (
        wedges.groupBy("u", "v")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(1.0 / F.log(F.col("deg").cast("double"))).alias("_aa"),
        )
        .where(F.col("common_neighbors") >= int(min_common))
        .join(
            und.select(F.col("x").alias("u"), F.col("y").alias("v")),
            ["u", "v"],
            "leftanti",
        )
        .select(
            "u", "v",
            F.col("common_neighbors").cast("bigint").alias(
                "common_neighbors"
            ),
            F.round("_aa", 6).alias("adamic_adar"),
        )
    )
    if top_n is not None:
        scored = scored.orderBy(
            F.col("adamic_adar").desc(), "u", "v"
        ).limit(int(top_n))
    return scored


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Minimal hop distance from a seed set: (node, hop), hop ∈ [0,
    ``max_hops``], one row per REACHED node.

    Standard distributed frontier BFS (Pregel's simplest instance):
    each level is one frontier⋈edges equi-join on the cached src
    partitioning, a distinct, and an anti-join against the visited set
    — so level k shuffles only the frontier and its out-edges, never
    the whole graph. The visited set grows monotonically and is
    re-checkpointed per level to keep lineage flat. A fixed hop bound
    keeps the computation a deterministic DAG (at 100 TB you bound
    search depth anyway); the per-level early-exit count is a scalar.

    ``sources`` must expose a ``node`` column. Oracle twin: a recursive
    CTE bounded by hop with min(hop) per node — see the declared
    ``graph_bfs_hops`` query.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    E = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .repartition("src")
        .persist()
    )
    visited = sources.select(
        F.col("node").cast("bigint").alias("node"), F.lit(0).alias("hop")
    ).distinct().localCheckpoint(eager=True)
    frontier = visited.select("node")
    for h in range(1, int(max_hops) + 1):
        nxt = (
            frontier.join(E, frontier["node"] == E["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    E.unpersist()
    return visited


def kcore(
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 30,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core decomposition by synchronous peeling: repeatedly drop
    every node whose degree in the SURVIVING subgraph is < k, until a
    fixpoint (or ``max_rounds``). Returns (node, core_degree) for the
    k-core members — the dense backbone of a similarity/co-occurrence
    graph (hub extraction, spam-ring mining, the "stable cluster"
    filter before community detection).

    Rounds are SYNCHRONOUS — each round recomputes degrees against the
    previous round's full survivor set — so the result after r rounds
    is a deterministic function of (edges, k, r): a fixpoint reached
    early is identical to running all ``max_rounds`` rounds, which is
    exactly what the iteration-stamped recursive-CTE oracle replays
    (the declared query's cap is high enough that the gate fixture
    converges; the cap exists so the job is a bounded DAG either way).

    Scale: the edge list is symmetrized once and cached on the src
    partitioning; each round is one semi-join + one partial-aggregated
    degree count over surviving edges + a scalar count for the
    early-exit — the classic Pregel peel, shuffling only survivor
    keys, never materializing anything quadratic. Survivor sets are
    eager-checkpointed per round to keep lineage flat (the bfs_hops
    idiom).

    Reference parity: no native analog (client-side projections only,
    CassandraEventStore.cs:336-391); algorithm: Seidman 1983 k-cores
    (public literature).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    und = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("x"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("y"),
    ).where(F.col("x") != F.col("y")).distinct()
    sym = (
        und.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionByName(und.select(F.col("y").alias("a"), F.col("x").alias("b")))
        .repartition("a")
        .persist()
    )
    # r11 peel-loop restructure (guide §2.4 — don't compute what you
    # throw away). Three equivalences the old shape paid for every run:
    # (1) round 1's survivor set is ALL nodes, so its two
    #     surv-membership joins were no-ops over the full edge set —
    #     round 1 is now a plain degree aggregate;
    # (2) the per-round checkpoint now pins the DEGREE table (node
    #     count of rows, filter + count are trivial follow-ups), so
    # (3) at the fixed point the final (node, core_degree) answer IS
    #     the last round's degree table filtered to survivors —
    #     survivors shrink monotonically, so equal count = equal set —
    #     and the old extra full join pass to recompute it is gone.
    def _freeze(deg):
        return (
            deg.where(F.col("core_degree") >= k)
            .select(F.col("a").alias("node"), "core_degree")
            .localCheckpoint(eager=True)
        )

    deg = (
        sym.groupBy("a")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
        .localCheckpoint(eager=True)
    )
    row = deg.agg(
        F.count("*").alias("_n"),
        F.count(F.when(F.col("core_degree") >= k, 1)).alias("_nk"),
    ).first()
    n_prev = int(row["_nk"])
    if n_prev == int(row["_n"]):
        out = _freeze(deg)
        sym.unpersist()
        return out
    surv = deg.where(F.col("core_degree") >= k).select(
        F.col("a").alias("node")
    )
    converged = False
    for _ in range(int(max_rounds) - 1):
        deg = (
            sym.join(surv, sym["a"] == surv["node"])
            .drop("node")
            .join(
                surv.select(F.col("node").alias("_bn")),
                F.col("b") == F.col("_bn"),
            )
            .drop("_bn")
            .groupBy("a")
            .agg(F.count("*").cast("bigint").alias("core_degree"))
            .localCheckpoint(eager=True)
        )
        n = int(deg.where(F.col("core_degree") >= k).count())
        surv = deg.where(F.col("core_degree") >= k).select(
            F.col("a").alias("node")
        )
        if n == n_prev:
            converged = True
            break
        n_prev = n
    if converged:
        # fixpoint: survivors shrink monotonically, so equal count =
        # equal set, and this round's degree table restricted to
        # core_degree >= k IS the answer — no recompute pass
        out = _freeze(deg)
    else:
        # max_rounds truncation keeps the original semantics exactly:
        # degrees recomputed against the FINAL survivor set, unfiltered
        out = (
            sym.join(surv, sym["a"] == surv["node"])
            .join(
                surv.select(F.col("node").alias("_bn")),
                F.col("b") == F.col("_bn"),
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.count("*").cast("bigint").alias("core_degree"))
        ).localCheckpoint(eager=True)
    sym.unpersist()
    return out


def _hits_dmax(dmax: int) -> int:
    """``dmax`` if the 2^30-scaled HITS in-sums fit BIGINT, else raise."""
    if dmax >= 1 << 23:
        raise ValueError(
            f"hits_scores: max degree {dmax} >= 2^23 — the 2^30-scaled "
            "in-sums would overflow BIGINT"
        )
    return dmax


def hits_scores(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
    driver_finish_edges: int = 4_000_000,
) -> DataFrame:
    """(node, hub_u, auth_u) after ``iterations`` synchronous HITS
    steps (Kleinberg 1999, "Authoritative sources in a hyperlinked
    environment") over the directed edge list — hubs point at good
    authorities, authorities are pointed at by good hubs: the natural
    readout for bipartite purchase/citation graphs where PageRank's
    single score conflates the two roles.

    Deterministic integer spec both engines implement exactly (the
    LPA/pagerank fixed-iteration philosophy): scores start at 2^30;
    each step

        a_v = div(Σ_{(u,v)∈E} h_u, dmax)   then
        h_u = div(Σ_{(u,v)∈E} a_v, dmax)

    where ``dmax`` = the graph's maximum TOTAL degree (in-degree plus
    out-degree, i.e. the count of edge endpoints touching the node),
    computed once up front. Total degree >= max(in, out), so the
    rescale is more conservative than greatest(max-in, max-out) —
    same fixed point ranking, smaller integers per step; the oracle
    mirrors this exactly. Dividing by a step-constant rescales but never
    reorders a power iteration, so the RANKING is HITS's (up to the
    declared integer floor); the exact-integer recurrence is what
    makes a cross-engine value oracle possible at all — L2
    normalization would put a sqrt-of-sum under engine-ordered
    floating addition. Scores stay ≤ 2^30 by a_v ≤ 2^30·deg_v ≤
    2^30·dmax, exact BIGINT for dmax < 2^23 (guarded). Duplicate
    edges count as parallel edges (weight = multiplicity), like
    `pagerank`.

    Scale: degree table and dmax are one aggregate; each iteration is
    one score⋈edges equi-join plus one partial-aggregated groupBy —
    the pagerank loop shape, edges cached once, lazy linear DAG,
    checkpointed at the end.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    E0 = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    # driver finish under the distinct-pair dial: the recurrence is
    # exact BIGINT arithmetic (init 2^30, integer sums, truncating div
    # by the step-constant dmax), so the numpy int64 replay is
    # bit-identical to the distributed loop. Sums stay ≤ 2^30·dmax <
    # 2^53 under the dmax guard, exact in int64.
    pdf = _collect_if_small(
        E0.groupBy("src", "dst").agg(F.count("*").alias("_w")),
        driver_finish_edges,
    )
    if pdf is not None:
        if len(pdf) == 0:
            raise ValueError("empty edge list")
        src_i, dst_i, w, uniques = _factorize_edges(pdf)
        w = w.astype(np.int64)
        n = len(uniques)
        deg = np.zeros(n, dtype=np.int64)
        np.add.at(deg, src_i, w)
        np.add.at(deg, dst_i, w)
        dmax = _hits_dmax(int(deg.max()))
        h = np.full(n, 1 << 30, dtype=np.int64)
        a = np.zeros(n, dtype=np.int64)
        for _ in range(int(iterations)):
            a = np.zeros(n, dtype=np.int64)
            np.add.at(a, dst_i, h[src_i] * w)
            a //= dmax
            h = np.zeros(n, dtype=np.int64)
            np.add.at(h, src_i, a[dst_i] * w)
            h //= dmax
        dtype = E0.schema["src"].dataType.simpleString()
        return local_df(
            edges.sparkSession,
            [(_py(u), int(hv), int(av)) for u, hv, av in zip(uniques, h, a)],
            f"node {dtype}, hub_u bigint, auth_u bigint",
        )
    E = E0.cache()
    # one endpoint-explode aggregation serves the node set, the node
    # count and dmax
    deg = (
        E.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("_deg"))
        .cache()
    )
    nodes = deg.select("node")
    drow = deg.agg(
        F.count("*").alias("_n"), F.max("_deg").alias("_dmax")
    ).first()
    n = int(drow["_n"])
    try:
        if n == 0:
            raise ValueError("empty edge list")
        dmax = _hits_dmax(int(drow["_dmax"]))
    except ValueError:
        E.unpersist()
        deg.unpersist()
        raise
    maybe_b = F.broadcast if n <= 5_000_000 else (lambda df: df)
    # Sparse iteration state: a node with score 0 contributes nothing
    # to any in-sum, so the loop carries only the nodes the inner joins
    # reach and the zeros are attached once at output time — half the
    # joins of a dense all-nodes score table, with the same values.
    hubs = nodes.select("node", F.lit(1 << 30).cast("bigint").alias("h"))
    auths = None
    for _ in range(int(iterations)):
        auths = (
            E.join(maybe_b(hubs), hubs["node"] == E["src"])
            .groupBy("dst")
            .agg(
                F.expr(f"div(sum(h), {dmax})").cast("bigint").alias("a")
            )
            .select(F.col("dst").alias("node"), "a")
        )
        hubs = (
            E.join(maybe_b(auths), auths["node"] == E["dst"])
            .groupBy("src")
            .agg(
                F.expr(f"div(sum(a), {dmax})").cast("bigint").alias("h")
            )
            .select(F.col("src").alias("node"), "h")
        )
    out = (
        nodes.join(
            maybe_b(hubs.withColumnRenamed("node", "_hn")),
            nodes["node"] == F.col("_hn"),
            "left",
        )
        .join(
            maybe_b(auths.withColumnRenamed("node", "_an")),
            nodes["node"] == F.col("_an"),
            "left",
        )
        .select(
            "node",
            F.coalesce("h", F.lit(0)).cast("bigint").alias("hub_u"),
            F.coalesce("a", F.lit(0)).cast("bigint").alias("auth_u"),
        )
    )
    if not checkpoint:
        return out
    res = out.localCheckpoint(eager=True)
    E.unpersist()
    deg.unpersist()
    return res


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
    driver_finish_edges: int = 4_000_000,
) -> DataFrame:
    """(node, rank) after ``iterations`` synchronous PERSONALIZED
    PageRank steps: the teleport mass lands on the ``seeds`` set
    (uniformly) instead of the whole node set, so rank measures
    proximity-by-link to the seeds — the standard graph-similarity /
    recommendation readout (Page et al. 1999 §6; Haveliwala 2002's
    topic-sensitive variant with a single topic vector).

        r_{t+1}(v) = (1−d)·s(v) + d·Σ_{u→v} r_t(u)/outdeg(u),
        s(v) = 1/|seeds| for v ∈ seeds, else 0;  r_0 = s.

    Same execution shape, driver finish and conventions as `pagerank`
    (duplicate edges = parallel edges, dangling mass leaks identically
    to the oracle, broadcast-rank iterations below 5M nodes, edges
    cached once, one partial-aggregated groupBy(dst) per step — no
    per-iteration |edges| shuffle). Raises ValueError on empty
    ``seeds``, on an empty edge list, and then on seeds absent from
    the graph."""
    return _pagerank(
        edges, sorted({int(s) for s in seeds or []}), iterations, damping,
        src_col, dst_col, checkpoint, driver_finish_edges,
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity breakdown (Newman & Girvan 2004) of a node
    partition over the undirected graph — the standard "are these
    communities real?" score for the partitions `label_propagation`
    (or any clusterer) emits:

        Q = Σ_c [ m_c/m − (d_c/(2m))² ]
          = Σ_c (4·m·m_c − d_c²) / (4m²)

    with m the undirected edge count, m_c the intra-community edge
    count and d_c the community's degree sum. Everything is reported
    as EXACT BIGINTs — per community one row
    (label, n_nodes, degree_sum, m_intra, q_num) with the shared
    denominator in q_den = 4m², so Q = Σ q_num / q_den is replayable
    bit-for-bit in SQL and no float or division-rounding convention
    ever enters (q_num is negative for worse-than-random communities;
    emitting the rational avoids the div-vs-floor negative-rounding
    mismatch between engines).

    Scale: one canonicalization groupBy, one (node → degree) partial
    agg, two broadcast-sized joins of the label table onto the edge
    endpoints (labels are one row per node — at corpus scale this is
    the same equi-join shuffle LPA itself runs), and a bounded
    per-label rollup. No window, no collect."""
    und = undirected_edges(edges, src_col, dst_col)
    und = und.localCheckpoint(eager=False)  # feeds m, degrees, intra
    lab = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_l")
    )
    m = und.agg(F.count("*").cast("bigint").alias("_m"))
    deg = (
        _neighbors(und)
        .groupBy(F.col("node").alias("_n"))
        .agg(F.count("*").cast("bigint").alias("_d"))
    )
    per_label = (
        deg.join(lab, "_n")
        .groupBy("_l")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("_d").cast("bigint").alias("degree_sum"),
        )
    )
    intra = (
        und.join(lab.withColumnRenamed("_n", "x"), "x")
        .withColumnRenamed("_l", "_lx")
        .join(lab.withColumnRenamed("_n", "y"), "y")
        .withColumnRenamed("_l", "_ly")
        .where(F.col("_lx") == F.col("_ly"))
        .groupBy(F.col("_lx").alias("_l"))
        .agg(F.count("*").cast("bigint").alias("m_intra"))
    )
    # guard INSIDE the expression tree (lazy `if` — the ADVICE r10
    # ordering lesson): 4m² must stay exact BIGINT, so m above
    # floor(sqrt(2^63/4)) raises the intended message instead of an
    # ANSI overflow; degree_sum ≤ 2m is then safe to square for free
    mck = (
        "if(_m <= 1518500249, _m, raise_error('modularity: edge count "
        "exceeds the exact-BIGINT bound 1518500249 (4m² would "
        "overflow) — pre-contract the graph or shard by component'))"
    )
    return (
        per_label.join(intra, "_l", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("_l").alias("label"),
            "n_nodes",
            "degree_sum",
            F.coalesce("m_intra", F.lit(0)).cast("bigint").alias("m_intra"),
            # degree_sum² does not contain the guard, so it is squared
            # in DECIMAL (can't overflow) — every BIGINT multiply has
            # mck as an operand and therefore raises first
            F.expr(
                f"cast(4 * {mck} * coalesce(m_intra, 0) "
                f"- cast(degree_sum as decimal(38,0)) * degree_sum "
                f"as bigint)"
            ).alias("q_num"),
            F.expr(f"cast(4 * {mck} * _m as bigint)").alias("q_den"),
        )
        .orderBy("label")
    )


def assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the
    undirected graph: the Pearson correlation of the endpoint degrees
    over the DIRECTED edge list (each canonical edge counted both
    ways — the standard symmetric form, so Σx ≡ Σy and the two
    variance terms coincide). Positive = hubs link to hubs (social
    nets), negative = hubs link to leaves (KNN graphs, the web) —
    the one-number structural fingerprint next to `modularity`.

    One row: (m_directed, sum_x, sum_xx, sum_xy — all exact BIGINTs —
    and r_assort, 6 dp). The five sums are exact integer aggregates;
    r is computed as ONE fixed-order double expression of those exact
    integers (the regression_trend recipe), so it replays bit-for-bit
    in SQL. Exactness bound: sums stay exact doubles while
    Σd² < 2⁵³ — past that (≈10¹² high-degree edges) pre-contract the
    graph; the sketch of record is the BIGINT sums, which never lose
    a bit.

    Scale: one canonicalization groupBy, one degree aggregate, two
    equi-joins of the (node, degree) table onto the endpoints, one
    scalar fold. No window, no collect beyond the one-row result."""
    und = undirected_edges(edges, src_col, dst_col)
    und = und.localCheckpoint(eager=False)  # degrees + both joins
    deg = (
        _neighbors(und)
        .groupBy(F.col("node"))
        .agg(F.count("*").cast("bigint").alias("_d"))
    )
    pairs = (
        _neighbors(und)
        .join(deg.withColumnRenamed("node", "node_x")
              .withColumnRenamed("_d", "_dx"),
              F.col("node") == F.col("node_x"))
        .join(deg.withColumnRenamed("node", "node_y")
              .withColumnRenamed("_d", "_dy"),
              F.col("nbr") == F.col("node_y"))
        .select("_dx", "_dy")
    )
    sums = pairs.agg(
        F.count("*").cast("bigint").alias("m_directed"),
        F.sum("_dx").cast("bigint").alias("sum_x"),
        F.sum(F.col("_dx") * F.col("_dx")).cast("bigint").alias("sum_xx"),
        F.sum(F.col("_dx") * F.col("_dy")).cast("bigint").alias("sum_xy"),
    )
    num = (
        F.col("m_directed").cast("double")
        * F.col("sum_xy").cast("double")
        - F.col("sum_x").cast("double") * F.col("sum_x").cast("double")
    )
    den = (
        F.col("m_directed").cast("double")
        * F.col("sum_xx").cast("double")
        - F.col("sum_x").cast("double") * F.col("sum_x").cast("double")
    )
    return sums.select(
        "m_directed", "sum_x", "sum_xx", "sum_xy",
        F.when(den > 0, F.round(num / den, 6)).alias("r_assort"),
    )
