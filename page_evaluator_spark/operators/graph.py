"""Iterative graph ranking for corpus curation.

Web-scale curation pipelines rank domains/URLs by link-graph centrality
(e.g. Common Crawl ranks its seed list with PageRank/harmonic centrality)
and use the score as a document-quality prior.  This module implements
PageRank with ENTIRELY INTEGER arithmetic so results are bit-identical at
any parallelism and exactly re-derivable in ANSI SQL:

  * rank mass is fixed-point (PR_FXP = 2^40): every node starts with
    FXP // n units;
  * a node's per-edge contribution is rank DIV out_degree (integer floor
    division — deterministic, unlike a double division whose sums would
    depend on aggregation order);
  * damping is applied in the integer domain: d·x ≈ (x · d_pct) DIV 100,
    teleport = (FXP · (100 − d_pct)) DIV (100 · n).

The usual float PageRank is nondeterministic in the last ulps across
partitionings (double sums are not associative); at 100 TB that means a
re-run can reorder equal-score tails.  Integer mass makes the operator
idempotent across retries/cluster sizes — the same property the rest of the
engine guarantees (md5 sampling, fixed-point k-means).

Scale shape per iteration (r7: edges stage as a per-src ADJACENCY LIST —
the broadcast-hash probe runs once per source, not per edge): one join
ranks⋈adjacency on src (pre-cogrouped by src at production scale — bucketed
storage makes it exchange-free), a Generate over each source's dst array,
one map-side-combined sum by dst, one left join back to the node list.
Dimension-sized graphs (≤ _DRIVER_EDGE_LIMIT distinct edges) skip the
distributed loop entirely and run the identical recurrence driver-side
(bit-equality pinned by test).  A driver
loop of FIXED iterations (PageRank converges geometrically; 10 rounds ≈
damping^10 < 0.2% residual), lineage truncated per round exactly like
connected_components.  Dangling nodes (no out-edges) leak their damped mass
by default — the standard simplification; `redistribute_dangling=True`
instead damps and uniformly reshares that mass each round (one extra
anti-join + scalar sum, still all-integer).  Either way total mass stays
bounded so integer overflow is impossible (sum ≤ FXP + n · teleport < 2^42).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_FXP = 1 << 40

# Distinct-edge count at or below which the recurrence runs driver-side (a
# dimension-sized collect — the |sources|²-bounded copy graphs this engine
# feeds PageRank are ≤ a few hundred edges; a 10-round distributed loop over
# 20 nodes is ~30 jobs of pure scheduling overhead).  4096 edges ≈ 150 KB
# collected, the same dimension-collect class as the mixture shard stats
# (≤ |sources|×256 rows).
_DRIVER_EDGE_LIMIT = 4096


def pagerank_int(edges: DataFrame, src: str = "src", dst: str = "dst",
                 iters: int = 10, damping_pct: int = 85,
                 redistribute_dangling: bool = False) -> DataFrame:
    """Integer-arithmetic PageRank over a directed edge list.

    Returns (node, rank_i, rank) for every node appearing as src or dst:
    rank_i = fixed-point integer mass (exact), rank = rank_i / 2^40 rounded
    to 9 decimals.  Deterministic regardless of partitioning/retries.

    redistribute_dangling=True adds the standard dangling-node correction:
    each round, the total rank mass sitting on nodes with no out-edges is
    damped and shared uniformly (integer floor division) across all nodes,
    instead of leaking.  Cost: one extra left-anti + global sum per round —
    the sum is a single fixed-point long, carried as a 1-row DataFrame
    cross-join so the round still executes as ONE action (the lineage
    truncation).  On a graph with no dangling nodes both modes are
    bit-identical (pinned by test)."""
    from .curation import _truncate_lineage

    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")

    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull()))
    # Loop-invariant ADJACENCY LIST staged ONCE behind ONE exchange:
    # collect_set fuses the (src, dst) dedup and the per-src collection
    # into a single aggregate WITH map-side partials, so the one exchange
    # carries partially-deduped per-src sets instead of raw edge rows (the
    # r7.0 repartition→dropDuplicates→collect_list form shuffled every raw
    # edge and ran a second aggregate pass: 3.06 s → 2.10 s at the 10×
    # replica, interleaved, identical adjacency sets).  The array ORDER is
    # partition-dependent either way; every consumer is order-blind
    # (size(), explode+integer sum, the driver-path dict fold), so ranks
    # stay bit-identical.  Versus the r6 row-per-edge staging
    # (src, dst, deg): the checkpointed relation shrinks to |src| rows,
    # each round's broadcast-hash probe runs once per SOURCE instead of
    # once per EDGE, and the per-edge contribution is a Generate over the
    # array in the same codegen stage — measured 17.1 s → 12.0 s
    # end-to-end at 10× sf0.1 (5.9 M edges), bit-identical mass.  Skew note:
    # a hub source's out-edges become one array row (~4 MB per million
    # edges) — the standard adjacency-list representation; beyond ~10⁷
    # out-edges per node, split hub rows before calling this operator.
    ed = _truncate_lineage(
        e.groupBy("src").agg(F.collect_set("dst").alias("dsts")))
    # Dimension-sized graphs (e.g. the |sources|²-bounded copy graph of
    # curation_source_prior — 20 nodes) pay ~30 driver-scheduled jobs in the
    # distributed loop, all fixed overhead.  The staged edge relation is
    # already materialized, so ONE cheap count decides: below the (env-
    # overridable) bound the exact integer recurrence runs on collected
    # (src, dst, deg) rows — the same dimension-sized-collect class as the
    # BPE merge rows and IVF centroid seeds — and the result is re-created
    # as a DataFrame with the IDENTICAL final projection.  Bit-equality of
    # the two paths is pinned by tests/test_round7_fixes.py.
    n_edges = (ed.agg(F.coalesce(F.sum(F.size("dsts")), F.lit(0)))
               .collect()[0][0])
    if n_edges <= _DRIVER_EDGE_LIMIT:
        return _pagerank_int_driver(ed, iters, damping_pct,
                                    redistribute_dangling)
    # nodes carry the LOOP-INVARIANT dangling flag (no out-edges) so the
    # redistribute mode reads the per-round dangling mass off the rank table
    # with a filter+sum instead of re-running an anti-join every round.
    # ONE union-all + min aggregate derives node set and flag together
    # (false < true, so min(_dang) is false exactly when the node appears
    # as a src) — the r7.0 distinct-then-left-join form paid a second
    # exchange pair for the same answer, and the map-side partial min-agg
    # dedups the exploded dst stream before it shuffles.
    nodes = _truncate_lineage(
        ed.select(F.col("src").alias("node"), F.lit(False).alias("_dang"))
        .unionAll(ed.select(F.explode("dsts").alias("node"),
                            F.lit(True).alias("_dang")))
        .groupBy("node").agg(F.min("_dang").alias("_dang")))
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank_i"),
                            F.lit(0.0).alias("rank"))
    base = PR_FXP // n
    teleport = (PR_FXP * (100 - damping_pct)) // (100 * n)
    # rank table is |nodes|-sized.  When that is broadcast-sized, ship it to
    # the (much larger) edge relation map-side: the per-round plan collapses
    # to scan(ed) → BHJ → partial agg → one |nodes|-row exchange.  The
    # threshold is node-count-derived (scale-adaptive, guide §3.1) — beyond
    # it the loop falls back to the co-partitioned shuffle join.
    # (r7 note: a union-seeded single-aggregate round — contributions UNION a
    # zero-seed per node, one groupBy — was also tried and measured
    # indistinguishable from the join form under interleaved A/B; the join
    # form stays as the smaller change.)
    broadcast_ranks = n <= 2_000_000
    ranks = nodes.withColumn("rank_i", F.lit(base).cast("long"))
    for _ in range(iters):
        rank_src = (ranks.select(F.col("node").alias("src"), "rank_i"))
        if broadcast_ranks:
            rank_src = F.broadcast(rank_src)
        contrib = (ed.join(rank_src, "src")
                   .select(F.expr("rank_i div size(dsts)").alias("c"),
                           F.explode("dsts").alias("node"))
                   .groupBy("node").agg(F.sum("c").alias("s")))
        extra = F.lit(0).cast("long")
        ranks_next = nodes.join(contrib, "node", "left")
        if redistribute_dangling:
            # total mass on out-degree-0 nodes: filter the flag column the
            # rank table already carries, summed to ONE long row
            dangling_mass = (ranks.where("_dang")
                             .agg(F.coalesce(F.sum("rank_i"), F.lit(0))
                                  .cast("long").alias("dm")))
            ranks_next = ranks_next.crossJoin(F.broadcast(dangling_mass))
            extra = F.expr(f"dm * {damping_pct} div (100 * {n}L)")
        ranks = (ranks_next
                 .select("node", "_dang",
                         (F.lit(teleport)
                          + F.expr(f"coalesce(s, 0L) * {damping_pct} div 100")
                          + extra)
                         .cast("long").alias("rank_i")))
        ranks = _truncate_lineage(ranks)
    return ranks.select("node", "rank_i",
                        F.round(F.col("rank_i").cast("double") / PR_FXP, 9)
                        .alias("rank"))


def _pagerank_int_driver(ed: DataFrame, iters: int, damping_pct: int,
                         redistribute_dangling: bool) -> DataFrame:
    """The same integer recurrence over a COLLECTED dimension-sized
    (src, dsts) adjacency list: Python ints and // reproduce the BIGINT div
    arithmetic exactly (all masses are non-negative), and the final
    rank_i → rank projection is the same Spark expression, so both paths
    are bit-identical row-for-row."""
    from pyspark.sql.types import LongType, StructField, StructType

    spark = ed.sparkSession
    schema = StructType([StructField("node", ed.schema["src"].dataType, True),
                         StructField("rank_i", LongType(), True)])
    adj = {r["src"]: r["dsts"] for r in ed.collect()}
    srcs = set(adj)
    nodes = sorted(srcs | {d for ds in adj.values() for d in ds})
    n = len(nodes)
    if n == 0:
        return spark.createDataFrame([], schema) \
            .select("node", "rank_i", F.lit(0.0).alias("rank"))
    base = PR_FXP // n
    teleport = (PR_FXP * (100 - damping_pct)) // (100 * n)
    rank = dict.fromkeys(nodes, base)
    for _ in range(iters):
        extra = 0
        if redistribute_dangling:
            dm = sum(rank[v] for v in nodes if v not in srcs)
            extra = dm * damping_pct // (100 * n)
        s = dict.fromkeys(nodes, 0)
        for v, ds in adj.items():
            c = rank[v] // len(ds)
            for d in ds:
                s[d] += c
        rank = {v: teleport + s[v] * damping_pct // 100 + extra
                for v in nodes}
    out = spark.createDataFrame([(v, rank[v]) for v in nodes], schema)
    return out.select("node", "rank_i",
                      F.round(F.col("rank_i").cast("double") / PR_FXP, 9)
                      .alias("rank"))
