"""Graph analytics on edge lists (the co-purchase/co-occurrence
graphs the engine builds without self-joins; connected components
live in dedup/cluster.py).

``cooccur_pairs`` is the one basket-expansion HOF: ``cooccur_edges``
(q_degree_dist, q_pagerank, q_link_prediction) deduplicates its
pairs, and ``neighbour_lists`` + ``triangle_probe`` (q_triangle_count,
q_clustering_coeff) turn them into a triangle plan that caches
nothing: one probe join over degree-oriented neighbour lists.

``pagerank`` runs in EXACT INTEGER micros: float PageRank sums
incoming contributions in partition order, so two runs of the same
graph can differ in the last ulps — poison for this engine's
reproducibility contract. Integer division (contrib = rank DIV deg)
loses at most deg-1 micro-units per node per round (conserved mass
drifts ~1e-6/round, far below ranking noise) and addition of longs is
exactly commutative, so ranks are bit-identical across layouts, runs
and cluster sizes. Fixed iteration count, lineage truncated per round
(localCheckpoint — reliable checkpoint on a real cluster), state is
only the O(nodes) rank table; each round is one join + one groupBy
keyed on the edge list's partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cooccur_edges",
    "cooccur_pairs",
    "degrees",
    "neighbour_lists",
    "pagerank",
    "triangle_probe",
]


def cooccur_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Undirected co-occurrence pairs ``(u, v)`` with ``u < v`` —
    items sharing a group become pairwise edges, once per group (an
    edge shared by k groups appears k times).

    One groupBy + in-array i<j expansion: the fact table NEVER
    self-joins (a groupwise self-join is |group|^2 shuffle rows; the
    array expansion emits each ordered pair exactly once inside the
    aggregated row). collect_set bounds the array by distinct items
    per group — hub groups are the max_bucket-style cap's concern
    upstream, not a reducer funnel here, because the expansion is
    data-parallel per group."""
    baskets = df.groupBy(group_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("parts")
    )
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts) - i - 1), "
                f"y -> struct(x AS {u}, y AS {v}))))"
            )
        ).alias("e")
    ).select(f"e.{u}", f"e.{v}")


def cooccur_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """Distinct undirected co-occurrence edges ``(u, v)`` with
    ``u < v``: ``cooccur_pairs`` deduplicated."""
    return cooccur_pairs(df, group_col, item_col, u, v).distinct()


def degrees(edges: DataFrame, deg_col: str = "deg") -> DataFrame:
    """``(n, deg)`` over an undirected ``(u, v)`` edge list — one
    union + map-side-combined groupBy."""
    return (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias(deg_col))
    )


def neighbour_lists(pairs: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Degree-oriented adjacency ``(n, deg, out)`` of the simple
    undirected graph behind ``pairs``: ``deg`` is n's degree and
    ``out`` its out-list N+(n), the neighbours above n in
    ``(deg, id)`` order (Suri & Vassilvitskii, WWW'11). Every edge
    sits in exactly one out-list, and every out-list holds at most
    ~sqrt(2m) ids for m edges, so hub nodes cannot curse a single task
    in ``triangle_probe``.

    ``pairs`` may repeat an edge, in either direction; self-pairs are
    dropped. Two groupBys and no join: group the both-direction pairs
    by n with collect_set (dedups the edges and gives deg(n) as its
    size), explode to ``(m, n, deg_n)``, and group by m with
    collect_list(struct(deg_n, n)) — its size is deg(m), and N+(m) is
    a filter on it. No degree aggregate is joined back to the edges.

    Memory: each aggregate holds ONE node's full neighbour list in a
    row, linear in the maximum degree — the same class as
    ``cooccur_pairs``' per-group array. Only the out-lists, bounded by
    the orientation, reach the probe."""
    both = pairs.filter(F.col(u) != F.col(v)).select(
        F.inline(
            F.array(
                F.struct(F.col(u).alias("n"), F.col(v).alias("m")),
                F.struct(F.col(v).alias("n"), F.col(u).alias("m")),
            )
        )
    )
    nbrs = both.groupBy("n").agg(F.collect_set("m").alias("nbrs"))
    tagged = nbrs.select(
        F.explode("nbrs").alias("m"), "n", F.size("nbrs").alias("deg_n")
    )
    adj = (
        tagged.groupBy("m")
        .agg(F.collect_list(F.struct("deg_n", "n")).alias("nb"))
        .select(F.col("m").alias("n"), F.size("nb").alias("deg"), "nb")
    )

    def above(s):
        return (s["deg_n"] > F.col("deg")) | (
            (s["deg_n"] == F.col("deg")) & (s["n"] > F.col("n"))
        )

    return adj.select(
        "n", "deg", F.transform(F.filter("nb", above), lambda s: s["n"]).alias("out")
    )


def triangle_probe(adj: DataFrame) -> DataFrame:
    """``(lo, hi, lo_deg, hi_deg, common)`` for every oriented edge
    lo -> hi of ``neighbour_lists`` output, with
    ``common = N+(lo) ∩ N+(hi)``: each w in it closes the triangle
    {lo, hi, w}, and every triangle appears exactly once (lo its
    lowest corner in (deg, id) order, hi the middle one).
    ``sum(size(common))`` is the triangle count. Every edge is one
    row, so every node of degree >= 1 appears as lo or hi, with its
    degree: per-node consumers need no degree join.

    One join: explode N+(lo) to ``(lo, hi, nu)`` and join the same
    adjacency on hi. The intersection does O(|nu| + |nv|) hash work
    per edge and never materializes the open wedges. The join is
    pinned to a shuffled hash join that builds the ADJACENCY side:
    it is already hash-partitioned on its node by the groupBy, and
    neither side may be broadcast — both carry arrays, and AQE
    broadcasting the exploded side ran a 4g driver out of memory at
    sf0.1. Only out-lists (<= ~sqrt(2m) ids each) enter the
    intersection, so per-row work keeps the orientation's bound."""
    probe = adj.select(
        F.col("n").alias("lo"),
        F.col("deg").alias("lo_deg"),
        F.explode("out").alias("hi"),
        F.col("out").alias("nu"),
    )
    build = adj.select(
        F.col("n").alias("hi"), F.col("deg").alias("hi_deg"), F.col("out").alias("nv")
    )
    return probe.join(build.hint("shuffle_hash"), "hi").select(
        "lo", "hi", "lo_deg", "hi_deg", F.array_intersect("nu", "nv").alias("common")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping_pct: int = 85,
) -> DataFrame:
    """(node, rank_micros) after ``iterations`` rounds over the
    UNDIRECTED edge list; ranks start at 1e6 per node."""
    from frames_spark.operators.caching import tie_cache

    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.distinct().repartition("a").persist()

    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    out = sym.join(deg, "a").select("a", "b", "deg").persist()

    ranks = deg.select(
        F.col("a").alias("node"), F.lit(1_000_000).alias("rank_micros")
    )
    base = 1_000_000 * (100 - damping_pct) // 100
    for _ in range(iterations):
        contribs = (
            out.join(
                ranks.select(
                    F.col("node").alias("a"), "rank_micros"
                ),
                "a",
            )
            .select(
                F.col("b").alias("node"),
                F.expr("rank_micros DIV deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = contribs.select(
            "node",
            (
                F.lit(base)
                + F.expr(f"in_sum * {damping_pct} DIV 100")
            ).alias("rank_micros"),
        ).localCheckpoint(eager=False)
    # The returned frame is LAZY and reads `out` once per round at
    # materialization: an eager unpersist here (the pre-r10 form)
    # threw the cache away before the first action and recomputed the
    # edge join `iterations` times. tie_cache keeps both relations
    # cached while the caller holds the result, then releases them.
    return tie_cache(ranks, out, sym)
