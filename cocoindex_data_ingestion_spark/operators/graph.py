"""Property-graph operators over node/edge DataFrames.

Reference behavior: Neo4j/Kuzu graph export + traversal —
1-hop entity search with relationship collection
(app/services/search_service.py:119-179), variable-depth
neighborhood ``[*0..depth]`` (app/services/neo4j_service.py:429-488),
duplicate-entity merge (neo4j_service.py:353-427).

Spark-first: a property graph is (nodes DF, edges DF). A k-hop
traversal is k self-joins of the edge list — each one an equi-join
on the frontier key that Catalyst plans as broadcast (small
frontier) or shuffle hash join (large frontier). The iterative BFS
keeps only (node_id, min_depth) — the frontier — between steps,
so state is bounded by the reachable set, not the edge count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.functions.localrel import local_df


def bipartite_edges(
    df: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Distinct (src, dst) edge list from a fact table (e.g. supplier
    →part from lineitem). One shuffle for the distinct."""
    return (
        df.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    )


def two_hop_neighbors(
    edges: DataFrame, start_id, weighted: bool = True
) -> DataFrame:
    """Co-neighbors: nodes reachable in exactly 2 hops through the
    bipartite edge list, with shared-neighbor counts.

    (start → mid → other). The first hop filters to one source, so
    the second join's left side is tiny → broadcast."""
    hop1 = edges.filter(F.col("src") == start_id).select(F.col("dst").alias("mid"))
    hop2 = (
        F.broadcast(hop1)
        .join(edges.withColumnRenamed("dst", "mid"), "mid")
        .filter(F.col("src") != start_id)
    )
    return (
        hop2.groupBy(F.col("src").alias("neighbor_id"))
        .agg(F.countDistinct("mid").alias("n_shared"))
    )


def n_hop_frontier(
    edges: DataFrame, start_id, depth: int
) -> DataFrame:
    """BFS frontier expansion: (node_id, hop) for all nodes within
    ``depth`` hops of start (directed). Driver-side loop of
    ``depth`` joins — depth is small (reference default 2), each
    iteration one equi-join + distinct-min aggregation.
    """
    spark = edges.sparkSession
    # the loop probes the edge list `depth` times — materialize it
    # once instead of re-scanning (and re-distinct-ing) per hop
    edges = edges.persist()
    try:
        frontier = local_df(spark, [(start_id, 0)], "node_id long, hop int")
        seen = frontier
        for d in range(1, depth + 1):
            nxt = (
                frontier.join(edges, frontier.node_id == edges.src)
                .select(F.col("dst").alias("node_id"), F.lit(d).alias("hop"))
                .join(seen.select("node_id"), "node_id", "left_anti")
                .distinct()
                .localCheckpoint(eager=True)  # truncate lineage per hop
            )
            if nxt.limit(1).count() == 0:
                break
            seen = seen.unionByName(nxt)
            frontier = nxt
        return seen.localCheckpoint(eager=True)
    finally:
        edges.unpersist()


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Iterative PageRank over a directed edge list → (node_id, rank).

    The canonical iterative-join workload (non-SQL-expressible, so
    registered rows-only): each iteration is one shuffle —
    contributions grouped by destination — plus a broadcast of the
    dangling-mass scalar. State between iterations is the rank vector
    (one row per node), ``localCheckpoint``ed to cut the lineage so
    the plan stays constant-size across iterations (the classic
    iterative-Spark pitfall is an exponentially growing plan).

    Determinism: rank updates are sums of doubles whose addition
    order is partition-dependent — fine for ranking (last-ulp noise),
    and the unit test checks against analytic values with an epsilon,
    not bit equality.

    100 TB design: the edge list is the big side, shuffled ONCE to
    hash-partition by src and reused every iteration (Spark caches
    the shuffle files); the rank vector co-partitions with it, so
    each iteration is a co-located join + one agg shuffle.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    # edges with out-degree denormalized, materialized once and
    # reused every iteration
    e_deg = e.join(out_deg, "src").localCheckpoint(eager=True)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_iter):
        contrib = (
            e_deg.join(ranks, e_deg.src == ranks.node_id)
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        # dangling nodes (no out-edges) redistribute uniformly
        dangling = (
            ranks.join(out_deg, ranks.node_id == out_deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d"))
        )
        ranks = (
            nodes.join(contrib, nodes.node_id == contrib.dst, "left_outer")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node_id",
                (
                    (1.0 - damping) / n
                    + damping
                    * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + F.col("d") / n)
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def pagerank_fixedpoint(
    edges: DataFrame,
    n_iter: int = 3,
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank in exact fixed-point integer arithmetic → (node_id,
    rank_fp) with rank scaled by ``scale``.

    The float :func:`pagerank` is rows-only (partition-order double
    sums); THIS variant makes the same iterative-join shape
    oracle-checkable: every operation is integer (floor divisions,
    long sums), so the result is bit-identical regardless of
    partitioning or engine, and a DuckDB twin with the iterations
    unrolled as CTEs verifies it end-to-end. Same per-iteration
    physical plan as pagerank (one contribution shuffle + broadcast
    dangling scalar + localCheckpoint), so the oracle greenness
    transfers to the scale shape."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    base = (scale - scale * damp_num // damp_den) // n  # (1-d)/n scaled
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    e_deg = e.join(out_deg, "src").localCheckpoint(eager=True)

    ranks = nodes.withColumn("r", F.lit(scale // n))
    for _ in range(n_iter):
        contrib = (
            e_deg.join(ranks, e_deg.src == ranks.node_id)
            .select("dst", F.expr("r div out_deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("m"))
        )
        dangling = (
            ranks.join(out_deg, ranks.node_id == out_deg.src, "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("d"))
        )
        ranks = (
            nodes.join(contrib, nodes.node_id == contrib.dst, "left_outer")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node_id",
                F.expr(
                    f"{base}L + ({damp_num} * (coalesce(m, 0L) + d div {n}L))"
                    f" div {damp_den}"
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node_id", F.col("r").alias("rank_fp"))


def ppr_fixedpoint(
    edges: DataFrame,
    seeds: list[int],
    n_iter: int = 3,
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    drop_zero_ranks: bool = False,
) -> DataFrame:
    """Personalized PageRank in exact fixed-point integer arithmetic
    → (node_id, rank_fp): the restart mass — and the dangling mass —
    teleports to the SEED set instead of uniformly, so ranks measure
    proximity to the seeds (the recommendation / related-entities
    primitive over the reference's entity graph,
    app/services/neo4j_service.py n-hop neighborhoods, generalized
    to weighted reachability).

    Same per-iteration physical plan as :func:`pagerank_fixedpoint`
    (edges shuffled once and reused; one contribution shuffle plus a
    broadcast dangling scalar per iteration; localCheckpoint cuts
    lineage), and the same exact-integer discipline: bit-identical
    under any partitioning, verified against an unrolled-CTE DuckDB
    twin. Seeds are a literal list (bounded — the query's anchor
    entities), inlined as an IN predicate, not a join.

    ``drop_zero_ranks=True`` iterates on the positive-rank FRONTIER
    only and returns only ``rank_fp > 0`` rows — identical to
    filtering the default output, because zero-rank rows are inert in
    every term of the recurrence (``0 div out_deg`` contributes
    nothing to any neighbor, a zero adds nothing to the dangling sum,
    and a node re-enters the frontier the moment any neighbor sends
    it mass, since candidates are rebuilt from ``contrib`` each
    round). With a bounded seed set the frontier is the seeds'
    ``n_iter``-hop neighborhood, so every per-iteration join carries
    frontier-sized rows instead of corpus-sized ones (AQE broadcasts
    the rank side) — the personalized variant never needs the
    full-graph rank vector uniform PageRank must carry.
    """
    if not seeds:
        raise ValueError("seeds must be non-empty")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    ns = len(seeds)
    seed_pred = "node_id IN (" + ",".join(str(s) for s in seeds) + ")"
    base = (scale - scale * damp_num // damp_den) // ns
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    e_deg = e.join(out_deg, "src").localCheckpoint(eager=True)

    if drop_zero_ranks:
        # seeds that exist in the graph (same membership rule as the
        # full `nodes` table, with the IN predicate pushed to the scan)
        seeds_df = (
            e.select(F.col("src").alias("node_id"))
            .unionByName(e.select(F.col("dst").alias("node_id")))
            .where(F.expr(seed_pred))
            .distinct()
            .localCheckpoint(eager=True)
        )
        ranks = seeds_df.withColumn("r", F.lit(scale // ns))
        for _ in range(n_iter):
            contrib = (
                e_deg.join(ranks, e_deg.src == ranks.node_id)
                .select("dst", F.expr("r div out_deg").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("m"))
            )
            dangling = (
                ranks.join(
                    out_deg, ranks.node_id == out_deg.src, "left_anti"
                ).agg(F.coalesce(F.sum("r"), F.lit(0)).alias("d"))
            )
            # seeds: base + dangling teleport + own contribution;
            # non-seeds: damped contribution only — the default CASE
            # expression restricted to the rows it can make positive
            seed_next = (
                seeds_df.join(
                    contrib, seeds_df.node_id == contrib.dst, "left_outer"
                )
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node_id",
                    F.expr(
                        f"{base}L + ({damp_num} * (coalesce(m, 0L)"
                        f" + d div {ns}L)) div {damp_den}"
                    ).alias("r"),
                )
            )
            other_next = contrib.where(
                ~F.expr(seed_pred.replace("node_id", "dst"))
            ).select(
                F.col("dst").alias("node_id"),
                F.expr(f"({damp_num} * m) div {damp_den}").alias("r"),
            )
            ranks = (
                seed_next.unionByName(other_next)
                .where(F.col("r") > 0)
                .localCheckpoint(eager=True)
            )
        return ranks.select("node_id", F.col("r").alias("rank_fp"))

    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = nodes.withColumn(
        "r",
        F.expr(f"CASE WHEN {seed_pred} THEN {scale // ns}L ELSE 0L END"),
    )
    for _ in range(n_iter):
        contrib = (
            e_deg.join(ranks, e_deg.src == ranks.node_id)
            .select("dst", F.expr("r div out_deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("m"))
        )
        dangling = (
            ranks.join(out_deg, ranks.node_id == out_deg.src, "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("d"))
        )
        ranks = (
            nodes.join(contrib, nodes.node_id == contrib.dst, "left_outer")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node_id",
                F.expr(
                    f"CASE WHEN {seed_pred} THEN {base}L ELSE 0L END"
                    f" + ({damp_num} * (coalesce(m, 0L)"
                    f" + (CASE WHEN {seed_pred} THEN d div {ns}L"
                    f" ELSE 0L END))) div {damp_den}"
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node_id", F.col("r").alias("rank_fp"))


def label_propagation_fixed(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al., Phys. Rev. E
    2007) for a FIXED iteration count — community detection as
    iterated neighbor-majority voting: every node starts as its own
    label; each round, a node adopts the most frequent label among
    its neighbors, ties broken by the SMALLEST label. The fixed
    round count + deterministic tiebreak make the whole iteration
    exactly oracle-able via unrolled CTEs (the pagerank_fixedpoint
    discipline; free-running LPA oscillates on bipartite structures
    and is not a well-defined query).

    Plan: edges symmetrized once and localCheckpoint'd (every round
    reuses them without replaying the build); per round ONE join to
    deliver labels + one (node, label) count + one per-node window —
    all partitioned by node, O(edges) per round. Labels themselves
    are node ids (integers), so no float drift exists anywhere.
    """
    from pyspark.sql import Window

    und = (
        edges.select(src, dst)
        .union(
            edges.select(F.col(dst).alias(src), F.col(src).alias(dst))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = (
        und.select(F.col(src).alias("node_id"))
        .distinct()
        .withColumn("label", F.col("node_id"))
    )
    for _ in range(n_iter):
        msgs = und.join(
            lab.withColumnRenamed("node_id", src), src
        ).select(F.col(dst).alias("node_id"), "label")
        # ONE exchange per round: the node_id repartition satisfies
        # BOTH downstream groupings (node_id ⊆ {node_id, label}
        # clustering), so neither aggregate re-shuffles; AQE still
        # sizes the exchange. Adoption = argmax (cnt desc, label asc)
        # via max_by over a (cnt, -label) struct (the ivf_assign
        # rewrite) — no per-node sort anywhere.
        cnt = (
            msgs.repartition("node_id")
            .groupBy("node_id", "label")
            .agg(F.count("*").alias("cnt"))
        )
        lab = (
            cnt.groupBy("node_id")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("cnt"), (-F.col("label")).alias("_t"))
                ).alias("label")
            )
            # cut the per-round lineage (iterative-algo discipline)
            .localCheckpoint(eager=False)
        )
    return lab


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    simple graph: per community ``c``, ``Q_c = e_c/m − (deg_c/2m)²``
    (fraction of edges inside ``c`` minus the expectation under the
    degree-preserving null model); total ``Q = Σ_c Q_c`` is THE
    standard quality score for the communities
    :func:`label_propagation_fixed` or connected components emit —
    without it "we found communities" is unfalsifiable.

    Returns one row per community: ``(community, n_nodes, e_intra,
    deg_sum, q_contrib)``. Plan: edges canonicalized (a<b, distinct)
    once; degrees from one endpoint-union aggregation; intra-edge
    counts from two label joins (partitioned on the node keys);
    everything integer until the final per-community ratio, so the
    score is engine-exact after ``stable_round``.
    """
    from ..functions.compare import stable_round

    lab = labels.select(
        F.col("node_id").alias("_n"), F.col("label").alias("_l")
    )
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_a"),
            F.greatest(F.col(src), F.col(dst)).alias("_b"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    m = und.agg(F.count("*").alias("_m"))
    deg = (
        und.select(F.col("_a").alias("_n"))
        .union(und.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").alias("_deg"))
    )
    per_comm = (
        deg.join(lab, "_n")
        .groupBy("_l")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("_deg").alias("deg_sum"),
        )
    )
    intra = (
        und.join(lab.withColumnRenamed("_n", "_a").withColumnRenamed("_l", "_la"), "_a")
        .join(lab.withColumnRenamed("_n", "_b").withColumnRenamed("_l", "_lb"), "_b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("_l"))
        .agg(F.count("*").alias("e_intra"))
    )
    md = F.col("_m").cast("double")
    dd = F.col("deg_sum").cast("double")
    q = (
        F.coalesce(F.col("e_intra"), F.lit(0)).cast("double") / md
        - (dd / (F.lit(2.0) * md)) * (dd / (F.lit(2.0) * md))
    )
    return (
        per_comm.join(intra, "_l", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("_l").alias("community"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce(F.col("e_intra"), F.lit(0)).cast("long").alias("e_intra"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            stable_round(q, round_to).alias("q_contrib"),
        )
    )


def degree_powerlaw_fit(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    d_min: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Power-law exponent of the degree distribution by the
    discrete-MLE estimator ``α = 1 + n / Σ ln(d / (d_min − ½))``
    (Clauset, Shalizi & Newman, SIAM Rev. 2009) over degrees ≥
    ``d_min`` — "is this graph scale-free, and how heavy is the
    tail?" — which predicts hub sizes, skew-join risk, and sampling
    behavior at 100 TB better than any average degree.

    One degree aggregation; the MLE sum runs over per-DISTINCT-degree
    counts (k-bounded by max degree), with per-term ln quantized
    fixed-point so the estimate is engine-identical.
    """
    from ..functions.compare import stable_round

    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_a"),
            F.greatest(F.col(src), F.col(dst)).alias("_b"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    deg = (
        und.select(F.col("_a").alias("_n"))
        .union(und.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").alias("_d"))
        .filter(F.col("_d") >= d_min)
    )
    per_deg = deg.groupBy("_d").agg(F.count("*").alias("_m"))
    lnq = F.floor(
        F.log(F.col("_d").cast("double") / F.lit(d_min - 0.5))
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    g = per_deg.agg(
        F.sum("_m").cast("long").alias("n_tail_nodes"),
        F.max("_d").cast("long").alias("max_degree"),
        F.sum(lnq * F.col("_m")).alias("_slnq"),
    )
    alpha = F.lit(1.0) + F.col("n_tail_nodes").cast("double") / (
        F.col("_slnq").cast("double") / F.lit(1e9)
    )
    return g.select(
        "n_tail_nodes",
        "max_degree",
        F.lit(d_min).cast("long").alias("d_min"),
        stable_round(alpha, round_to).alias("alpha"),
    )
