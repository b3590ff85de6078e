"""Iterative graph algorithms on DataFrames (beyond connected
components — see operators/dedup.py:connected_components for CC).

PageRank (:func:`fold_pagerank`) is the damped power iteration
expressed as join+agg rounds, with each node's neighbor sum taken as a
SORTED fold so the result is bit-identical across engines. Scale shape
per round: one shuffle joining the edge list with the (node, rank)
table on src, one keyed agg on dst — both over long/double pairs,
never over payload data. Rounds chain lazily; the bounded iteration
count keeps the lineage short.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sanctions_data_pipeline_spark.plans.helpers import lcount, persist


def fold_pagerank(edges: DataFrame, iters: int = 2,
                  damping: float = 0.85,
                  teleport: float = 0.15) -> DataFrame:
    """PageRank whose per-node neighbor sums are SORTED sequential
    folds — bit-identical across engines, so bounded-iteration callers
    (gr_pagerank, pr_copurchase) carry exact unrolled SQL oracles.
    Rounds chain lazily in one plan, so ``iters`` is meant to stay
    small (the registry runs 2).

    ``teleport`` is passed as an EXPLICIT constant rather than computed
    as ``1.0 - damping``: Python evaluates ``1.0 - 0.85`` to
    0.15000000000000002, one ulp away from the double that the literal
    ``0.15`` in the DuckDB oracle SQL parses to — and one ulp is enough
    to flip a rounded rank on a decimal boundary. Callers must keep
    ``teleport`` textually equal to the constant in their oracle.

    ``edges``: symmetric (src, dst) list, no dangling nodes (every
    node appears as a src). Returns (node, d, pr) — degree and the
    unrounded rank after ``iters`` damped power iterations from the
    uniform start. The returned frame is persisted and materialized
    (bounded: one row per node); the edge cache is released before
    returning (the gr_label_prop persist/unpersist discipline).
    """
    e = persist(edges.select("src", "dst"))
    deg = e.groupBy("src").agg(lcount("d"))
    n = float(deg.count())  # bounded driver scalar (node count)
    fold = F.aggregate(F.array_sort(F.collect_list("contrib")),
                       F.lit(0.0), lambda a, x: a + x)
    pr = deg.select(F.col("src").alias("node"),
                    (F.lit(1.0) / F.lit(n)).alias("pr"))
    for _ in range(iters):
        contribs = (e
                    .join(pr.withColumnRenamed("node", "src"), "src")
                    .join(deg, "src")
                    .select(F.col("dst").alias("node"),
                            (F.col("pr") / F.col("d")).alias("contrib")))
        pr = (contribs.groupBy("node")
              .agg((F.lit(teleport) / F.lit(n)
                    + F.lit(damping) * fold).alias("pr")))
    out = persist(pr.join(deg.withColumnRenamed("src", "node"), "node")
                  .select("node", F.col("d").cast("bigint").alias("d"), "pr"))
    out.count()  # bounded action: one row per node
    e.unpersist()  # out is materialized; result no longer depends on e
    return out


def copurchase_edges(lineitem: DataFrame,
                     order_col: str = "l_orderkey",
                     item_col: str = "l_partkey") -> DataFrame:
    """Symmetric item-item co-occurrence edges: two parts are linked if
    they appear in the same order. The self-join fans out quadratically
    in items-per-order — bounded small (TPC-H orders have <= 7 lines),
    so the edge list is O(|lineitem| * lines_per_order), not O(n²).
    """
    a = lineitem.select(F.col(order_col).alias("o"),
                        F.col(item_col).alias("src")).distinct()
    b = lineitem.select(F.col(order_col).alias("o"),
                        F.col(item_col).alias("dst")).distinct()
    return (a.join(b, "o")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst").distinct())


def bfs_layers(edges: DataFrame, seeds: DataFrame, max_hops: int = 6,
               src: str = "src", dst: str = "dst",
               id_col: str = "id") -> DataFrame:
    """Multi-hop BFS: layer[v] = min hops from any seed (seeds are
    layer 0; unreachable nodes are absent). Execution contract: TWO
    hops are chained lazily per materialized checkpoint (the second
    hop's anti-join excludes the first hop's additions inside the same
    plan), so each round costs one persist+count action for two hops
    of expansion; lineage stays one checkpoint deep and AQE replans
    from materialized sizes. Early exit when a checkpoint adds no
    nodes. At 100 TB the frontier table is O(|V|) 12-byte rows
    partitioned across the cluster; rounds are bounded by max_hops.

    Output: (id, layer).
    """
    from pyspark.sql import functions as F

    sym = persist(edges.select(F.col(src).cast("long").alias("a"),
                               F.col(dst).cast("long").alias("b"))
                  .unionAll(edges.select(F.col(dst).cast("long").alias("a"),
                                         F.col(src).cast("long").alias("b"))))
    visited = persist(seeds.select(F.col(id_col).cast("long").alias("id"))
                      .distinct()
                      .withColumn("layer", F.lit(0)))
    n_visited = visited.count()
    frontier = visited

    def grow(fr: DataFrame, vis: DataFrame, hop: int) -> DataFrame:
        return (sym.join(fr, sym.a == fr.id)
                .select(F.col("b").alias("id"))
                .distinct()
                .join(vis, "id", "left_anti")
                .withColumn("layer", F.lit(hop)))

    # Two hops per materialized checkpoint (same action-halving as
    # connected components): the second hop lazily excludes
    # the first hop's additions, ONE count on the merged set both
    # materializes it and detects convergence by size delta. Growing
    # an already-empty frontier is a no-op join — cheaper than an
    # extra per-hop action.
    hop = 1
    while hop <= max_hops:
        g1 = grow(frontier, visited, hop)
        if hop + 1 <= max_hops:
            g2 = grow(g1, visited.unionAll(g1), hop + 1)
            added = g1.unionAll(g2)
        else:
            g2, added = None, g1
        nxt = persist(visited.unionAll(added))
        n_next = nxt.count()
        if n_next == n_visited:
            nxt.unpersist()
            if frontier is not visited:
                frontier.unpersist()
            break
        visited.unpersist()
        if frontier is not visited:
            frontier.unpersist()
        # next frontier: the DEEPEST newly-added layer (rows of the
        # shallower layer have already expanded inside this chain)
        new_frontier = persist(nxt.filter(
            F.col("layer") == (hop + 1 if g2 is not None else hop)))
        visited, frontier, n_visited = nxt, new_frontier, n_next
        hop += 2 if g2 is not None else 1
    sym.unpersist()
    return visited
