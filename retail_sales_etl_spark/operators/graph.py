"""Graph operators over the star schema: co-purchase edges + PageRank.

``part_copurchase`` builds the item-item graph (parts appearing in the
same order) — an inverted-index self-join, same scale shape as the
shingle dedup: shuffle keyed on order, pair volume bounded by per-order
basket size, never all-pairs.

``pagerank_parts`` runs bounded-iteration PageRank over that graph as
the canonical iterative-DataFrame loop: each iteration is one shuffle
(contributions grouped by destination). Iterative fixpoints are the one
category the SQL oracle can't express cleanly, so the driver records a
rows-only check; invariants (rank mass conservation, positivity) are
pytest-pinned instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.rounding import fround

DAMPING = 0.85
N_ITERATIONS = 5
CHECKPOINT_EVERY = 3
MIN_COPURCHASE = 2


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Undirected part-part edges weighted by co-occurrence count."""
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    return basket_pairs(baskets).filter(F.col("n_orders") >= MIN_COPURCHASE)


def basket_pairs(baskets: DataFrame) -> DataFrame:
    """(a_part, b_part, n_orders): the un-gated pair grid of distinct
    (l_orderkey, l_partkey) baskets — each order's C(k, 2) part pairs
    with a_part < b_part, counted. Shared by ``copurchase_edges`` and
    the streaming ``copurchase_sink`` (which stores it per batch)."""
    a = baskets.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a_part"))
    b = baskets.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("b_part"))
    return (
        a.join(b, (F.col("o") == F.col("o2")) & (F.col("a_part") < F.col("b_part")))
        .groupBy("a_part", "b_part")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def basket_items(baskets: DataFrame) -> DataFrame:
    """(pk, n_item): the per-part basket count of distinct
    (l_orderkey, l_partkey) baskets — shared by ``part_affinity_lift``
    and the streaming ``copurchase_sink``."""
    return baskets.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_item")
    )


def q_part_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return copurchase_edges(load_table(spark, sf_dir, "lineitem"))


def pagerank(
    edges: DataFrame, n_iterations: int = N_ITERATIONS
) -> DataFrame:
    """Bounded-iteration PageRank over undirected (a_part, b_part) edges.

    Degree-normalized contributions, damped; every node (part) keeps a
    teleport share so rank mass is conserved. Each iteration is one
    shuffle on the destination key. Every CHECKPOINT_EVERY iterations
    the rank frame is localCheckpoint()ed: the iterative union of joins
    otherwise grows the lineage/plan exponentially in analysis cost —
    at 20+ iterations an uncheckpointed loop spends more time in
    Catalyst than in execution.
    """
    # undirected -> both directions
    directed = edges.select(
        F.col("a_part").alias("src"), F.col("b_part").alias("dst")
    ).unionAll(edges.select(F.col("b_part").alias("src"), F.col("a_part").alias("dst")))
    directed = directed.cache()
    nodes = directed.select(F.col("src").alias("part_id")).distinct().cache()
    n_nodes = nodes.count()
    degree = directed.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    ranks = nodes.select("part_id", F.lit(1.0 / n_nodes).alias("rank"))
    for i in range(n_iterations):
        contribs = (
            directed.join(ranks, F.col("src") == F.col("part_id"))
            .join(degree, "src")
            .select(F.col("dst"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("recv"))
        )
        ranks = (
            nodes.join(contribs, nodes.part_id == contribs.dst, "left")
            .select(
                "part_id",
                (
                    F.lit((1.0 - DAMPING) / n_nodes)
                    + F.lit(DAMPING) * F.coalesce(F.col("recv"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < n_iterations:
            # truncate lineage; eager so the cut happens now
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("part_id", fround(F.col("rank") * n_nodes, 6).alias("rank_scaled"))


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``nodes``: one column ``node_id``; ``edges``: undirected pairs
    ``(a, b)``. Returns ``(node_id, component_id)`` where component_id
    is the minimum node id in the component — a unique deterministic
    fixpoint, so a recursive-CTE oracle reproduces it exactly.

    Each iteration is join + min-agg (two shuffles) and converges in
    O(component diameter) rounds; labels are localCheckpoint()ed every
    round because each round references the last (same lineage-blowup
    guard as pagerank). Convergence is detected by the label sum — it
    strictly decreases until fixpoint, so one scalar agg per round,
    no old-vs-new join. At 100 TB with large-diameter graphs the
    published alternating large-star/small-star algorithm (same
    join + min-agg building blocks) cuts round count to O(log n);
    dedup clusters from LSH pairs are near-cliques, so diameter stays
    small and plain propagation is the cheaper constant.
    """
    sym = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).cache()
    try:
        labels = nodes.select("node_id", F.col("node_id").alias("component_id"))
        prev_sum = None
        converged = False
        for _ in range(max_iterations):
            neigh = sym.join(
                labels.withColumnRenamed("node_id", "src"), "src"
            ).select(F.col("dst").alias("node_id"), "component_id")
            labels = (
                labels.unionAll(neigh)
                .groupBy("node_id")
                .agg(F.min("component_id").alias("component_id"))
                .localCheckpoint(eager=True)
            )
            cur_sum = labels.agg(F.sum("component_id")).first()[0]
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
        if not converged:
            # Falling off the loop without a fixpoint means some
            # component's diameter exceeded the budget: labels are WRONG
            # (under-merged), and silently so — every consumer
            # (dedup_clusters -> prepare_corpus) would keep duplicates.
            raise RuntimeError(
                "connected_components did not converge within "
                f"{max_iterations} iterations; raise max_iterations "
                "(diameter-bound) for this graph"
            )
        return labels
    finally:
        sym.unpersist()


def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return pagerank(edges, N_ITERATIONS)


QUERIES = {
    "part_copurchase": q_part_copurchase,
    "pagerank_parts": q_pagerank_parts,
}


def _pagerank_oracle() -> str:
    """Unrolled N_ITERATIONS-stage PageRank as chained CTEs.

    Mirrors the Spark loop operation-for-operation (same IEEE double
    expressions, same teleport term); per-node fan-in is small so
    summation-order drift is ~1e-15, absorbed by the 6-dp round both
    sides apply. Bounded iteration counts make even 'iterative'
    operators oracle-checkable."""
    prev = "r0"
    stages = []
    for i in range(1, N_ITERATIONS + 1):
        cur = f"r{i}"
        stages.append(f"""
        {cur} AS (
            SELECT nd.part_id,
                   (1.0 - {DAMPING}) / n.n + {DAMPING} * coalesce(c.recv, 0.0) AS rank
            FROM nodes nd
            CROSS JOIN n
            LEFT JOIN (
                SELECT e.dst AS pid, sum(r.rank / d.deg) AS recv
                FROM edges e
                JOIN {prev} r ON e.src = r.part_id
                JOIN deg d ON e.src = d.src
                GROUP BY e.dst
            ) c ON nd.part_id = c.pid
        )""")
        prev = cur
    return f"""
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        cop AS (
            SELECT a.l_partkey AS a_part, b.l_partkey AS b_part
            FROM baskets a
            JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {MIN_COPURCHASE}
        ),
        edges AS (
            SELECT a_part AS src, b_part AS dst FROM cop
            UNION ALL
            SELECT b_part AS src, a_part AS dst FROM cop
        ),
        nodes AS (SELECT DISTINCT src AS part_id FROM edges),
        n AS (SELECT count(*) AS n FROM nodes),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        r0 AS (SELECT part_id, 1.0 / n.n AS rank FROM nodes, n),
        {",".join(stages)}
        SELECT part_id, floor((rank * n.n) * 1e6 + 0.5) / 1e6 AS rank_scaled FROM {prev}, n
    """


ORACLE_PAGERANK = _pagerank_oracle()

def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation counts over the co-purchase graph
    (compact-forward / node-iterator with degree orientation — public
    algorithm, cf. Latapy 2008).

    Scale shape: every edge is oriented from its lower-(degree, id)
    endpoint to the higher one, so a hub of degree d contributes at most
    its FORWARD wedges — the classic fix that turns the wedge join from
    O(sum d^2) (quadratic in the hottest key) into O(sum of forward-deg^2)
    ~ O(m^1.5). Three equi-joins, no all-pairs, each triangle produced
    exactly once. Output is orientation-invariant (per-node counts), so
    the oracle can count triangles under plain id-ordering.
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem")).select(
        "a_part", "b_part"
    )
    und = edges.select(F.col("a_part").alias("u")).unionAll(
        edges.select(F.col("b_part").alias("u"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e = (
        edges.join(
            deg.select(F.col("u").alias("a_part"), F.col("deg").alias("da")),
            "a_part",
        ).join(
            deg.select(F.col("u").alias("b_part"), F.col("deg").alias("db")),
            "b_part",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a_part") < F.col("b_part"))
    )
    # The oriented edge list feeds THREE self-join references; an
    # eager localCheckpoint materializes the (expensive) basket
    # self-join + degree orientation once instead of three times —
    # measured 4.3s -> well under half at sf0.1. (At cluster scale
    # this is the standard checkpoint-before-self-join move; the edge
    # list is orders of magnitude smaller than the fact it came from.)
    oriented = e.select(
        F.when(a_first, F.col("a_part")).otherwise(F.col("b_part")).alias("src"),
        F.when(a_first, F.col("b_part")).otherwise(F.col("a_part")).alias("dst"),
    ).localCheckpoint(eager=True)
    # wedge u->v->w closed by oriented edge u->w => triangle (u,v,w),
    # each found exactly once (u before v before w in the total order)
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = e1.join(e2, "v").join(e3, ["u", "w"])
    corners = (
        tri.select(F.col("u").alias("part_id"))
        .unionAll(tri.select(F.col("v").alias("part_id")))
        .unionAll(tri.select(F.col("w").alias("part_id")))
    )
    return corners.groupBy("part_id").agg(F.count(F.lit(1)).alias("n_triangles"))


QUERIES["triangle_count"] = q_triangle_count

LIFT_TOP_K = 100


def q_part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule strength for co-purchased part pairs: support,
    confidence and LIFT (Agrawal/Srikant market-basket measures) over
    the order-basket grid — the ranking layer on top of the raw
    ``part_copurchase`` counts (high-count pairs are often just two
    popular items; lift > 1 is actual affinity).

    Reuses the co-purchase edge aggregate (min-support-gated, never
    all-pairs); per-item basket counts join onto the pair grid by
    item key (Zipf-hot items fan out at most |pairs touching them|);
    the 1-row basket total broadcasts. All ratios are computed from
    exact BIGINT counts in one expression shape shared with the
    oracle, 6-dp rounded; distributed TakeOrdered cut.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    pair = copurchase_edges(li)
    item = basket_items(baskets)
    total = baskets.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    return _affinity_from_grids(pair, item, total)


def _affinity_from_grids(
    pair: DataFrame, item: DataFrame, total: DataFrame
) -> DataFrame:
    """The lift/confidence scoring tail over a (a_part, b_part,
    n_orders) pair grid, a (pk, n_item) item grid, and a one-row
    basket total — split out so the streaming serve path
    (``streaming_affinity``: grids maintained at ingest) ranks through
    the IDENTICAL exact-BIGINT expression chain as the batch
    operator."""
    scored = (
        pair.join(
            item.select(F.col("pk").alias("a_part"), F.col("n_item").alias("na")),
            "a_part",
        )
        .join(
            item.select(F.col("pk").alias("b_part"), F.col("n_item").alias("nb")),
            "b_part",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "a_part",
            "b_part",
            F.col("n_orders").alias("n_ab"),
            fround(
                (F.col("n_orders") * F.col("n_baskets"))
                / (F.col("na") * F.col("nb")).cast("double"), 6).alias("lift"),
            fround(F.col("n_orders") / F.col("na").cast("double"), 6).alias(
                "conf_a_to_b"
            ),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), "a_part", "b_part"
    ).limit(LIFT_TOP_K)


QUERIES["part_affinity_lift"] = q_part_affinity_lift

KCORE_K = 3
KCORE_MAX_ROUNDS = 16


def kcore(edges: DataFrame, k: int = KCORE_K,
          max_rounds: int = KCORE_MAX_ROUNDS) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983 /
    Batagelj-Zaversnik): repeatedly drop nodes with degree < k until
    the fixpoint; returns the surviving nodes with their degree INSIDE
    the core subgraph. The density skeleton under the co-purchase
    analytics — the k-core is where communities, dense bundles, and
    recommendation neighborhoods live.

    ``edges``: undirected ``(a_part, b_part)`` with a_part < b_part.
    Each round is one degree aggregate (map-combinable) plus two
    semi-joins of the shrinking edge set against the surviving-node
    set — never all-pairs; the edge frame is localCheckpoint()ed per
    round (same lineage guard as pagerank/CC). Convergence by edge
    count: each round's edges are a subset of the last, so equal
    counts == fixpoint; the peel provably converges in <= |V| rounds
    and in practice O(log)-ish, but the loop still raises loudly on
    budget exhaustion instead of returning a half-peeled graph (the
    CC precedent — a silently unconverged core overstates density).
    """
    # materialize the input up front: the first round otherwise
    # re-derives the basket self-join behind `edges` four times (the
    # seed count plus three references) — the triangle_count
    # precedent, measured >2x there
    cur = edges.select("a_part", "b_part").localCheckpoint(eager=True)
    n_prev = cur.count()
    for _ in range(max_rounds):
        deg = (
            cur.select(F.col("a_part").alias("node"))
            .unionAll(cur.select(F.col("b_part").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        cur = (
            cur.join(
                keep.withColumnRenamed("node", "a_part"), "a_part", "semi"
            )
            .join(
                keep.withColumnRenamed("node", "b_part"), "b_part", "semi"
            )
            .select("a_part", "b_part")
            .localCheckpoint(eager=True)
        )
        n_cur = cur.count()
        if n_cur == n_prev:
            return (
                cur.select(F.col("a_part").alias("part_id"))
                .unionAll(cur.select(F.col("b_part").alias("part_id")))
                .groupBy("part_id")
                .agg(F.count(F.lit(1)).alias("core_degree"))
            )
        n_prev = n_cur
    raise RuntimeError(
        f"kcore did not converge within {max_rounds} rounds; "
        "raise max_rounds for this graph"
    )


def q_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return kcore(edges)


QUERIES["kcore_parts"] = q_kcore_parts


def _kcore_oracle() -> str:
    """Unrolled KCORE_MAX_ROUNDS-stage peel as chained CTEs. The Spark
    loop early-stops at the fixpoint; the oracle's extra rounds are
    no-ops past it, so both converge to the same core whenever the
    Spark side returns at all (it raises otherwise). Every stage is
    MATERIALIZED: DuckDB inlines CTEs by default, and each stage
    references its predecessor three times — inlining would expand
    the chain 3^rounds-fold."""
    stages = []
    prev = "e0"
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        cur = f"e{i}"
        stages.append(f"""
        n{i} AS MATERIALIZED (
            SELECT node FROM (
                SELECT a_part AS node FROM {prev}
                UNION ALL SELECT b_part FROM {prev}
            ) GROUP BY 1 HAVING count(*) >= {KCORE_K}
        ),
        {cur} AS MATERIALIZED (
            SELECT a_part, b_part FROM {prev}
            WHERE a_part IN (SELECT node FROM n{i})
              AND b_part IN (SELECT node FROM n{i})
        )""")
        prev = cur
    return f"""
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
            SELECT a.l_partkey AS a_part, b.l_partkey AS b_part
            FROM baskets a
            JOIN baskets b ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {MIN_COPURCHASE}
        ),
        {",".join(stages)}
        SELECT part_id, count(*) AS core_degree
        FROM (
            SELECT a_part AS part_id FROM {prev}
            UNION ALL SELECT b_part FROM {prev}
        )
        GROUP BY 1
    """


PPR_SEED_TOP_K = 20


def _max_degree_seed(edges: DataFrame) -> DataFrame:
    """1-row frame with the highest-degree node (min part_id on ties)
    — the deterministic seed for personalized PageRank."""
    deg = (
        edges.select(F.col("a_part").alias("node"))
        .unionAll(edges.select(F.col("b_part").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.orderBy(F.col("deg").desc(), F.col("node"))
        .limit(1)
        .select(F.col("node").alias("seed"))
    )


def q_ppr_related_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the highest-degree part: the
    related-items ranking around one anchor product (teleport mass
    returns to the SEED instead of spreading uniformly — Haveliwala
    2002). Top-k parts by PPR score, seed included.

    Same iterative shape as ``pagerank``: per round one destination-
    keyed shuffle of degree-normalized contributions plus the seeded
    teleport term; ranks checkpoint through the bounded loop. The
    seed is itself computed as a distributed TakeOrdered (no driver
    collect of the degree grid — only the single seed row lands on
    the driver via the broadcast join)."""
    # checkpoint the edge list once: seed, degrees, nodes and all 5
    # iterations reference it — uncached, every broadcast(seed) build
    # and iteration would re-run the lineitem basket self-join (the
    # pagerank cache precedent in this file)
    edges = copurchase_edges(
        load_table(spark, sf_dir, "lineitem")
    ).localCheckpoint(eager=True)
    seed = _max_degree_seed(edges)
    directed = edges.select(
        F.col("a_part").alias("src"), F.col("b_part").alias("dst")
    ).unionAll(
        edges.select(F.col("b_part").alias("src"), F.col("a_part").alias("dst"))
    )
    deg = directed.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    nodes = directed.select(
        F.col("src").alias("part_id")
    ).distinct().localCheckpoint(eager=True)
    seed = seed.localCheckpoint(eager=True)
    is_seed = F.when(
        F.col("part_id") == F.col("seed"), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    ranks = nodes.crossJoin(F.broadcast(seed)).select(
        "part_id", is_seed.alias("rank")
    )
    for i in range(N_ITERATIONS):
        recv = (
            directed.join(
                deg, "src"
            )
            .join(
                ranks.withColumnRenamed("part_id", "src"), "src"
            )
            .groupBy(F.col("dst").alias("part_id"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("recv"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(seed))
            .join(recv, "part_id", "left")
            .select(
                "part_id",
                (
                    (1.0 - DAMPING) * is_seed
                    + DAMPING * F.coalesce("recv", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % CHECKPOINT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return (
        ranks.select("part_id", fround("rank", 6).alias("ppr"))
        .orderBy(F.col("ppr").desc(), "part_id")
        .limit(PPR_SEED_TOP_K)
    )


QUERIES["ppr_related_parts"] = q_ppr_related_parts


def _ppr_oracle() -> str:
    """Unrolled seeded-PageRank CTE chain (the _pagerank_oracle
    pattern with a seed teleport; stages MATERIALIZED like kcore)."""
    prev = "r0"
    stages = []
    for i in range(1, N_ITERATIONS + 1):
        cur = f"r{i}"
        stages.append(f"""
        {cur} AS MATERIALIZED (
            SELECT nd.part_id,
                   (1.0 - {DAMPING})
                       * (CASE WHEN nd.part_id = s.seed
                               THEN 1.0 ELSE 0.0 END)
                   + {DAMPING} * coalesce(c.recv, 0.0) AS rank
            FROM nodes nd
            CROSS JOIN seed s
            LEFT JOIN (
                SELECT e.dst AS pid, sum(r.rank / d.deg) AS recv
                FROM edges e
                JOIN {prev} r ON e.src = r.part_id
                JOIN deg d ON e.src = d.src
                GROUP BY e.dst
            ) c ON nd.part_id = c.pid
        )""")
        prev = cur
    return f"""
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        cop AS MATERIALIZED (
            SELECT a.l_partkey AS a_part, b.l_partkey AS b_part
            FROM baskets a
            JOIN baskets b ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {MIN_COPURCHASE}
        ),
        edges AS MATERIALIZED (
            SELECT a_part AS src, b_part AS dst FROM cop
            UNION ALL
            SELECT b_part AS src, a_part AS dst FROM cop
        ),
        nodes AS (SELECT DISTINCT src AS part_id FROM edges),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        seed AS (
            SELECT src AS seed FROM deg
            ORDER BY deg DESC, src LIMIT 1
        ),
        r0 AS (
            SELECT nd.part_id,
                   CASE WHEN nd.part_id = s.seed THEN 1.0 ELSE 0.0 END
                       AS rank
            FROM nodes nd CROSS JOIN seed s
        ),
        {",".join(stages)}
        SELECT part_id, floor((rank) * 1e6 + 0.5) / 1e6 AS ppr FROM {prev}
        ORDER BY ppr DESC, part_id LIMIT {PPR_SEED_TOP_K}
    """


ORACLE = {
    "ppr_related_parts": _ppr_oracle(),
    "part_affinity_lift": f"""
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pair AS (
            SELECT a.l_partkey AS a_part, b.l_partkey AS b_part,
                   count(*) AS n_ab
            FROM baskets a
            JOIN baskets b ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {MIN_COPURCHASE}
        ),
        item AS (
            SELECT l_partkey AS pk, count(*) AS n_item
            FROM baskets GROUP BY 1
        ),
        tot AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM baskets)
        SELECT a_part, b_part, n_ab,
               floor(((n_ab * n_baskets)
                     / CAST(ia.n_item * ib.n_item AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS lift,
               floor((n_ab / CAST(ia.n_item AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS conf_a_to_b
        FROM pair
        JOIN item ia ON pair.a_part = ia.pk
        JOIN item ib ON pair.b_part = ib.pk
        CROSS JOIN tot
        ORDER BY lift DESC, a_part, b_part
        LIMIT {LIFT_TOP_K}
    """,
    "kcore_parts": _kcore_oracle(),
    "pagerank_parts": ORACLE_PAGERANK,
    "triangle_count": f"""
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
            SELECT a.l_partkey AS a_part, b.l_partkey AS b_part
            FROM baskets a
            JOIN baskets b ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {MIN_COPURCHASE}
        ),
        tri AS (
            SELECT e1.a_part AS x, e1.b_part AS y, e2.b_part AS z
            FROM edges e1
            JOIN edges e2 ON e1.b_part = e2.a_part
            JOIN edges e3 ON e3.a_part = e1.a_part AND e3.b_part = e2.b_part
        )
        SELECT part_id, count(*) AS n_triangles
        FROM (
            SELECT x AS part_id FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        )
        GROUP BY 1
    """,
    "part_copurchase": f"""
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS a_part, b.l_partkey AS b_part, count(*) AS n_orders
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {MIN_COPURCHASE}
    """,
}


# ---------------------------------------------------------------------------
# Label-propagation communities + modularity report.

LPA_ROUNDS = 4


def q_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al., Phys. Rev. E 2007) over the co-purchase graph, with a
    per-community MODULARITY report (Newman 2004) — the assortment-
    planning view the co-purchase suite was missing: connected
    components find reachability, k-core finds density, LPA finds
    cohesive COMMUNITIES inside one component.

    Deterministic variant: every node starts labeled with its own id;
    each round every node adopts the most frequent neighbor label
    (ties -> lowest label), all nodes in lockstep, a FIXED
    ``LPA_ROUNDS`` rounds (the async coin-flip variant of the paper is
    not reproducible across engines). Per round: one shuffle to join
    labels to the neighbor list + one map-combinable (node, label)
    count + a partial-aggregatable max_by argmax — no windows;
    lineage localCheckpoint()ed per round (pagerank precedent). The
    report computes, per final community: size, internal-edge count,
    degree mass, and its modularity term e_c/m - (d_c/2m)^2 summed in
    DECIMAL — the number an analyst checks before trusting the
    partition. Oracle unrolls the rounds as MATERIALIZED CTEs.
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem")).select(
        "a_part", "b_part"
    )
    nbr = (
        edges.select(F.col("a_part").alias("node"), F.col("b_part").alias("nb"))
        .unionAll(
            edges.select(
                F.col("b_part").alias("node"), F.col("a_part").alias("nb")
            )
        )
        .cache()
    )
    labels = nbr.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(LPA_ROUNDS):
        votes = (
            nbr.join(
                labels.select(
                    F.col("node").alias("nb"), F.col("lbl").alias("nlbl")
                ),
                "nb",
            )
            .groupBy("node", "nlbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = votes.groupBy("node").agg(
            F.expr(
                "max_by(nlbl, named_struct('c', cnt, 'l', -nlbl)) AS lbl"
            )
        )
        labels = labels.localCheckpoint(eager=True)

    m = edges.agg(F.count(F.lit(1)).alias("m"))
    la = labels.select(F.col("node").alias("a_part"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("node").alias("b_part"), F.col("lbl").alias("lb"))
    tagged = edges.join(la, "a_part").join(lb, "b_part")
    internal = (
        tagged.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    comm = (
        labels.join(deg, "node")
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("degree_sum"),
        )
    )
    return (
        comm.join(internal, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("internal_edges", F.lit(0))
            .cast("bigint")
            .alias("internal_edges"),
            "degree_sum",
            # fround, not round(x, 6): singleton communities yield a
            # -epsilon term that round() maps to -0.0 in one engine and
            # 0.0 in the other (107/349 rows at sf0.01).
            fround(
                F.coalesce("internal_edges", F.lit(0)) / F.col("m")
                - F.pow(
                    F.col("degree_sum") / (2.0 * F.col("m")), F.lit(2.0)
                ),
                6,
            ).alias("modularity_term"),
        )
    )


QUERIES["label_prop_communities"] = q_label_prop_communities


def _lpa_oracle() -> str:
    stages = []
    prev = "l0"
    for r in range(1, LPA_ROUNDS + 1):
        cur = f"l{r}"
        stages.append(f"""
        {cur} AS MATERIALIZED (
            SELECT node, nlbl AS lbl FROM (
                SELECT node, nlbl, cnt,
                       row_number() OVER (
                           PARTITION BY node ORDER BY cnt DESC, nlbl
                       ) AS rn
                FROM (
                    SELECT n.node, l.lbl AS nlbl, count(*) AS cnt
                    FROM nbr n JOIN {prev} l ON n.nb = l.node
                    GROUP BY 1, 2
                )
            ) WHERE rn = 1
        )""")
        prev = cur
    return f"""
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS MATERIALIZED (
            SELECT a.l_partkey AS a_part, b.l_partkey AS b_part
            FROM baskets a
            JOIN baskets b ON a.l_orderkey = b.l_orderkey
                          AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {MIN_COPURCHASE}
        ),
        nbr AS MATERIALIZED (
            SELECT a_part AS node, b_part AS nb FROM edges
            UNION ALL SELECT b_part, a_part FROM edges
        ),
        l0 AS (SELECT DISTINCT node, node AS lbl FROM nbr),
        {",".join(stages)},
        m AS (SELECT count(*) AS m FROM edges),
        internal AS (
            SELECT la.lbl AS community, count(*) AS internal_edges
            FROM edges e
            JOIN {prev} la ON e.a_part = la.node
            JOIN {prev} lb ON e.b_part = lb.node
            WHERE la.lbl = lb.lbl
            GROUP BY 1
        ),
        deg AS (SELECT node, count(*) AS deg FROM nbr GROUP BY 1),
        comm AS (
            SELECT l.lbl AS community, count(*) AS n_nodes,
                   CAST(sum(deg) AS BIGINT) AS degree_sum
            FROM {prev} l JOIN deg USING (node)
            GROUP BY 1
        )
        SELECT community, n_nodes,
               CAST(COALESCE(internal_edges, 0) AS BIGINT) AS internal_edges,
               degree_sum,
               floor((COALESCE(internal_edges, 0) / CAST(m AS DOUBLE)
                      - pow(degree_sum / (2.0 * m), 2.0)) * 1e6 + 0.5)
                   / 1e6 AS modularity_term
        FROM comm LEFT JOIN internal USING (community)
        CROSS JOIN m
    """


ORACLE["label_prop_communities"] = _lpa_oracle()


# ---------------------------------------------------------------------------
# Link prediction: common-neighbor Jaccard over the co-purchase graph.

LINKPRED_TOP_K = 20


def q_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard (Liben-Nowell & Kleinberg,
    CIKM 2003): for part pairs NOT already connected, score
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)| and report the top candidates — the
    "these two products should be merchandised together" list, and the
    graph-native sibling of the embedding near-dup ops.

    Candidate pairs come only from WEDGES (a-x-b paths), exactly the
    triangle-count discipline: the pair space is Σ deg(x)² over
    common neighbors, never |V|² — the standard dodge of the quadratic
    candidate blowup. Per wedge one map-combinable count gives the
    intersection; degrees join in for the union; existing edges
    anti-join out; top-k is a distributed TakeOrdered with (score
    desc, pair) tie-break, 6-dp rounded — deterministic.
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem")).select(
        "a_part", "b_part"
    )
    nbr = edges.select(
        F.col("a_part").alias("node"), F.col("b_part").alias("nb")
    ).unionAll(
        edges.select(F.col("b_part").alias("node"), F.col("a_part").alias("nb"))
    ).cache()
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # wedges through x: (a, b) with a < b both neighbors of x
    left = nbr.select(F.col("node").alias("x"), F.col("nb").alias("a"))
    right = nbr.select(F.col("node").alias("x2"), F.col("nb").alias("b"))
    wedges = left.join(
        right, (F.col("x") == F.col("x2")) & (F.col("a") < F.col("b"))
    )
    common = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    existing = edges.select(
        F.col("a_part").alias("a"), F.col("b_part").alias("b")
    )
    cand = common.join(existing, ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    scored = (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("a_part"),
            F.col("b").alias("b_part"),
            "n_common",
            fround(
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")), 6).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("a_part"), F.col("b_part")
    ).limit(LINKPRED_TOP_K)


QUERIES["link_prediction_jaccard"] = q_link_prediction_jaccard

ORACLE["link_prediction_jaccard"] = f"""
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
        SELECT a.l_partkey AS a_part, b.l_partkey AS b_part
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {MIN_COPURCHASE}
    ),
    nbr AS MATERIALIZED (
        SELECT a_part AS node, b_part AS nb FROM edges
        UNION ALL SELECT b_part, a_part FROM edges
    ),
    deg AS (SELECT node, count(*) AS deg FROM nbr GROUP BY 1),
    common AS (
        SELECT l.nb AS a, r.nb AS b, count(*) AS n_common
        FROM nbr l JOIN nbr r ON l.node = r.node AND l.nb < r.nb
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT c.* FROM common c
        LEFT JOIN edges e ON c.a = e.a_part AND c.b = e.b_part
        WHERE e.a_part IS NULL
    )
    SELECT a AS a_part, b AS b_part, n_common,
           floor((n_common / CAST(da.deg + db.deg - n_common AS DOUBLE)) * 1e6 + 0.5) / 1e6
               AS jaccard
    FROM cand
    JOIN deg da ON cand.a = da.node
    JOIN deg db ON cand.b = db.node
    ORDER BY jaccard DESC, a_part, b_part
    LIMIT {LINKPRED_TOP_K}
"""


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph.


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002) of the
    co-purchase graph: the Pearson correlation of the degrees at the
    two ends of each edge — positive means hubs link to hubs
    (assortative mixing), negative means hubs link to leaves — the
    one-number structural summary that predicts how the graph responds
    to hub removal and how communities form.

    Exactness: degrees are INTEGERS, so every Pearson moment
    (n, Σx, Σy, Σxy, Σx², Σy²) is an exact aggregate over the directed
    edge list; the cross-moments accumulate in DECIMAL(38,0), not
    BIGINT (hub degrees near 1e6 over 1e9 edges push Σx² past int64).
    The only floating-point op is the final correlation quotient,
    emitted in the portable floor form (guarded against a zero
    denominator when all degrees are equal). Plan: one
    degree aggregate, two keyed joins onto the edge list, one
    map-combinable moment rollup to a single row; scale-safe at any
    edge count.
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem")).select(
        "a_part", "b_part"
    )
    nbr = edges.select(
        F.col("a_part").alias("node"), F.col("b_part").alias("nb")
    ).unionAll(
        edges.select(F.col("b_part").alias("node"), F.col("a_part").alias("nb"))
    )
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # directed edge list with both endpoint degrees; deg is |V| rows
    # (bounded by distinct parts) — broadcast it so both joins stay
    # map-side instead of shuffling the edge list twice
    dd = (
        nbr.join(
            F.broadcast(deg.withColumnRenamed("node", "n1")),
            F.col("node") == F.col("n1"),
        )
        .select("node", "nb", F.col("deg").alias("dx"))
        .join(
            F.broadcast(deg.withColumnRenamed("node", "n2")),
            F.col("nb") == F.col("n2"),
        )
        .select(F.col("dx"), F.col("deg").alias("dy"))
    )
    dxd = F.col("dx").cast("decimal(19,0)")
    dyd = F.col("dy").cast("decimal(19,0)")
    m = dd.agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
        F.sum(dxd).cast("decimal(38,0)").alias("sx"),
        F.sum(dyd).cast("decimal(38,0)").alias("sy"),
        F.sum(dxd * dyd).cast("decimal(38,0)").alias("sxy"),
        F.sum(dxd * dxd).cast("decimal(38,0)").alias("sxx"),
        F.sum(dyd * dyd).cast("decimal(38,0)").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    return m.select(
        (F.col("n") / F.lit(2)).cast("bigint").alias("n_edges"),
        F.when(
            (denx > 0) & (deny > 0),
            fround(
                num.cast("double")
                / F.sqrt(denx.cast("double") * deny.cast("double")),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("assortativity"),
        fround(F.col("sx") / F.col("n").cast("double"), 6).alias(
            "avg_edge_degree"
        ),
    )


QUERIES["graph_assortativity"] = q_graph_assortativity

ORACLE["graph_assortativity"] = f"""
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS a_part, b.l_partkey AS b_part
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {MIN_COPURCHASE}
    ),
    nbr AS (
        SELECT a_part AS node, b_part AS nb FROM edges
        UNION ALL SELECT b_part, a_part FROM edges
    ),
    deg AS (SELECT node, count(*) AS deg FROM nbr GROUP BY 1),
    dd AS (
        SELECT da.deg AS dx, db.deg AS dy
        FROM nbr
        JOIN deg da ON nbr.node = da.node
        JOIN deg db ON nbr.nb = db.node
    ),
    m AS (
        SELECT CAST(count(*) AS DECIMAL(19,0)) AS n,
               CAST(sum(CAST(dx AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
               CAST(sum(CAST(dy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
               CAST(sum(CAST(dx AS DECIMAL(19,0))
                        * CAST(dy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxy,
               CAST(sum(CAST(dx AS DECIMAL(19,0))
                        * CAST(dx AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxx,
               CAST(sum(CAST(dy AS DECIMAL(19,0))
                        * CAST(dy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS syy
        FROM dd
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN floor((CAST(n * sxy - sx * sy AS DOUBLE)
                            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                   * CAST(n * syy - sy * sy AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS assortativity,
           floor((sx / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6
               AS avg_edge_degree
    FROM m
"""


# ---------------------------------------------------------------------------
# supplier_projection_stats — bipartite part-supplier projection census
# ---------------------------------------------------------------------------
# Cap on suppliers-per-part for pair generation: a part above the cap is
# a HUB whose C(n,2) supplier pairs would dominate the pair space (the
# same df-cap discipline as the hot-shingle cut in dedup_ngram_jaccard);
# hubs are excluded from projection and REPORTED in the output so the
# truncation is never silent.
PROJ_PART_CAP = 64


def capped_bipartite_edges(li: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Distinct (part, supplier) edges with hub parts (> PROJ_PART_CAP
    suppliers) excluded, plus the 1-row excluded-hub count — the shared
    front end of every bipartite-graph operator here."""
    edges = li.select("l_partkey", "l_suppkey").distinct()
    pdeg = edges.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_supp"))
    n_hot = pdeg.filter(F.col("n_supp") > PROJ_PART_CAP).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hot_parts")
    )
    cold = edges.join(
        pdeg.filter(F.col("n_supp") <= PROJ_PART_CAP).select("l_partkey"),
        "l_partkey",
    )
    return cold, n_hot


def q_supplier_projection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of the supplier-side projection of the bipartite
    part-supplier graph: how many supplier pairs share exactly w parts,
    for every observed w.

    The bipartite projection is the classic quadratic trap (Newman,
    "Networks", ch. 6): pair volume per part is C(n_suppliers, 2), so
    one hub part can emit more pairs than the rest of the graph. The
    scale shape here is the inverted-index discipline used by every
    dedup operator: distinct (part, supplier) edges, per-part supplier
    count, parts over PROJ_PART_CAP excluded-and-counted, pair
    generation strictly within the surviving part groups (self-join
    co-partitioned on part — ONE shuffle key for both sides), then two
    bounded rollups (pair -> weight, weight -> histogram). Output is
    the |distinct weights| grid plus the hub-exclusion count — small,
    hash-checkable, and the number a capacity planner actually reads
    (the weight histogram IS the co-supply redundancy profile).
    """
    cold, n_hot = capped_bipartite_edges(load_table(spark, sf_dir, "lineitem"))
    a = cold.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s1"))
    b = cold.select(F.col("l_partkey").alias("p2"), F.col("l_suppkey").alias("s2"))
    pairs = (
        a.join(b, (F.col("p") == F.col("p2")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_parts"))
    )
    hist = pairs.groupBy("shared_parts").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    # 0-weight anchor row (w >= 1 never collides with it): keeps the
    # hub-exclusion count visible even when the pair histogram is
    # EMPTY — an all-hub corpus must not read as "no hubs, no pairs"
    anchor = n_hot.select(
        F.lit(0).cast("bigint").alias("shared_parts"),
        F.lit(0).cast("bigint").alias("n_pairs"),
    )
    return anchor.unionByName(hist).crossJoin(F.broadcast(n_hot))


QUERIES["supplier_projection_stats"] = q_supplier_projection_stats

ORACLE["supplier_projection_stats"] = f"""
    WITH edges AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    pdeg AS (
        SELECT l_partkey, count(*) AS n_supp FROM edges GROUP BY 1
    ),
    n_hot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hot_parts
        FROM pdeg WHERE n_supp > {PROJ_PART_CAP}
    ),
    cold AS (
        SELECT e.l_partkey, e.l_suppkey
        FROM edges e JOIN pdeg d ON e.l_partkey = d.l_partkey
        WHERE d.n_supp <= {PROJ_PART_CAP}
    ),
    pairs AS (
        SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
               CAST(count(*) AS BIGINT) AS shared_parts
        FROM cold a JOIN cold b
          ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS shared_parts,
               CAST(0 AS BIGINT) AS n_pairs, n_hot_parts
        FROM n_hot
        UNION ALL
        SELECT shared_parts, CAST(count(*) AS BIGINT) AS n_pairs, n_hot_parts
        FROM pairs CROSS JOIN n_hot
        GROUP BY 1, 3
    )
"""


def q_bipartite_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (4-cycle) census + bipartite clustering coefficient of
    the part-supplier graph (Robins & Alexander 2004; butterfly
    counting per Sanei-Mehri et al., KDD 2018).

    Butterflies (two suppliers co-supplying two parts) are THE cohesion
    motif of a bipartite graph — the analog of triangles, which
    bipartite graphs cannot contain. C4 = sum over supplier pairs of
    C(w,2) reuses the projection pipeline's capped pair weights; the
    3-path count L3 = sum over edges of (deg_p - 1)(deg_s - 1) is exact
    per center-edge counting (the middle edge of a 3-path is unique);
    coefficient = 4*C4 / L3. Everything is an integer aggregate in
    DECIMAL(38,0) (per-edge degree products wrap int64 once hub degrees
    near 1e5 meet 1e9 edges) over the SAME capped subgraph the
    projection reports (hub exclusion shared and counted); the only
    float op is the final guarded quotient in portable floor form.
    """
    cold, n_hot = capped_bipartite_edges(load_table(spark, sf_dir, "lineitem"))
    n_edges = cold.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    pdeg = cold.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("dp"))
    sdeg = cold.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("ds"))
    l3 = (
        cold.join(pdeg, "l_partkey")
        .join(sdeg, "l_suppkey")
        .agg(
            F.sum(
                (F.col("dp") - 1).cast("decimal(19,0)")
                * (F.col("ds") - 1).cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("l3")
        )
    )
    a = cold.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s1"))
    b = cold.select(F.col("l_partkey").alias("p2"), F.col("l_suppkey").alias("s2"))
    pairs = (
        a.join(b, (F.col("p") == F.col("p2")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    c4x2 = pairs.agg(
        F.sum(
            F.col("w").cast("decimal(19,0)")
            * (F.col("w") - 1).cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("c4x2")
    )
    return (
        n_edges.crossJoin(F.broadcast(l3))
        .crossJoin(F.broadcast(c4x2))
        .crossJoin(F.broadcast(n_hot))
        .select(
            "n_edges",
            (F.col("c4x2") / 2).cast("bigint").alias("n_butterflies"),
            F.col("l3").cast("bigint").alias("n_three_paths"),
            F.when(
                F.col("l3") > 0,
                fround(
                    F.lit(4.0)
                    * ((F.col("c4x2") / 2).cast("double") / F.col("l3").cast("double")),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("bipartite_cc"),
            "n_hot_parts",
        )
    )


QUERIES["bipartite_butterflies"] = q_bipartite_butterflies

ORACLE["bipartite_butterflies"] = f"""
    WITH edges AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    pdeg0 AS (
        SELECT l_partkey, count(*) AS n_supp FROM edges GROUP BY 1
    ),
    n_hot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hot_parts
        FROM pdeg0 WHERE n_supp > {PROJ_PART_CAP}
    ),
    cold AS (
        SELECT e.l_partkey, e.l_suppkey
        FROM edges e JOIN pdeg0 d ON e.l_partkey = d.l_partkey
        WHERE d.n_supp <= {PROJ_PART_CAP}
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM cold),
    pdeg AS (SELECT l_partkey, count(*) AS dp FROM cold GROUP BY 1),
    sdeg AS (SELECT l_suppkey, count(*) AS ds FROM cold GROUP BY 1),
    l3 AS (
        SELECT CAST(sum(CAST(dp - 1 AS DECIMAL(19,0))
                        * CAST(ds - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS l3
        FROM cold c
        JOIN pdeg p ON c.l_partkey = p.l_partkey
        JOIN sdeg s ON c.l_suppkey = s.l_suppkey
    ),
    pairs AS (
        SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
               CAST(count(*) AS BIGINT) AS w
        FROM cold a JOIN cold b
          ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    ),
    c4 AS (
        SELECT CAST(sum(CAST(w AS DECIMAL(19,0))
                        * CAST(w - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS c4x2
        FROM pairs
    )
    SELECT n_edges,
           -- HUGEINT halving: DECIMAL(38,0)/2 and //2 both detour
           -- through DOUBLE in DuckDB and silently round above 2^53
           CAST(CAST(c4x2 AS HUGEINT) // 2 AS BIGINT) AS n_butterflies,
           CAST(l3 AS BIGINT) AS n_three_paths,
           CASE WHEN l3 > 0
                THEN floor((4.0 * (CAST(c4x2 / 2 AS DOUBLE) / CAST(l3 AS DOUBLE)))
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS bipartite_cc,
           n_hot_parts
    FROM ne CROSS JOIN l3 CROSS JOIN c4 CROSS JOIN n_hot
"""


# ---------------------------------------------------------------------------
# copurchase_rich_club — rich-club coefficient phi(k) (Zhou & Mondragón
# 2004; Colizza et al., Nature Physics 2006): do the highest-degree
# parts preferentially co-purchase with EACH OTHER? The hub-structure
# diagnostic next to assortativity (one global correlation) — phi(k)
# resolves the effect per degree threshold.
# ---------------------------------------------------------------------------


def q_copurchase_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient over the co-purchase graph: for each
    degree threshold k, phi(k) = 2 * E_k / (N_k * (N_k - 1)) where
    N_k = nodes with degree > k and E_k = edges with BOTH endpoints
    of degree > k — phi rising with k means hub parts form a densely
    interconnected club (a bundling/merchandising structure
    assortativity's single number can't localize). One row per
    threshold with N_k >= 2, k from 0 to the second-largest degree.

    Scale shape: degrees are one aggregate over the edge list; E_k
    for ALL k at once is a SUFFIX COUNT over the per-edge min-degree
    histogram and N_k a suffix count over the degree histogram — two
    cumulative windows over BOUNDED grids (distinct degree values),
    never a per-k edge scan. Determinism: counts exact BIGINTs, phi
    one IEEE division 6-dp staged."""
    from pyspark.sql import Window

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    deg = (
        edges.select(F.col("a_part").alias("p"))
        .unionAll(edges.select(F.col("b_part").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    # per-edge min endpoint degree -> histogram over distinct values
    e_min = (
        edges.join(deg.withColumnRenamed("p", "a_part")
                   .withColumnRenamed("deg", "da"), "a_part")
        .join(deg.withColumnRenamed("p", "b_part")
              .withColumnRenamed("deg", "db"), "b_part")
        .select(F.least("da", "db").alias("md"))
        .groupBy("md")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ne"))
    )
    d_hist = deg.groupBy("deg").agg(
        F.count(F.lit(1)).cast("bigint").alias("nn")
    )
    # E_k = suffix count at the smallest md > k (N_k likewise): each
    # histogram row, with its DESC-cumulative suffix and the previous
    # (smaller) distinct value, serves EXACTLY the threshold interval
    # [prev, value-1] — an O(K + D) interval fill. (The first form
    # joined every threshold against every suffix row with a > predicate:
    # a BroadcastNestedLoopJoin evaluating O(max_degree x distinct
    # degrees) pairs — quadratic in the degree scale for hub-heavy
    # graphs. Consecutive distinct values make the intervals tile
    # [0, max-1] with no gaps, so the fill is exact, not approximate.)
    w_e = Window.orderBy(F.col("md").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_e_prev = Window.orderBy("md")
    ek = e_min.select(
        "md",
        F.sum("ne").over(w_e).cast("bigint").alias("e_gt"),
        F.coalesce(F.lag("md").over(w_e_prev), F.lit(0)).alias("prev"),
    ).select(
        F.explode(
            F.sequence(F.col("prev"), F.col("md") - 1)
        ).alias("k"),
        F.col("e_gt").alias("e_k"),
    )
    w_n = Window.orderBy(F.col("deg").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_n_prev = Window.orderBy("deg")
    nk = d_hist.select(
        "deg",
        F.sum("nn").over(w_n).cast("bigint").alias("n_gt"),
        F.coalesce(F.lag("deg").over(w_n_prev), F.lit(0)).alias("prev"),
    ).select(
        F.explode(
            F.sequence(F.col("prev"), F.col("deg") - 1)
        ).alias("k"),
        F.col("n_gt").alias("n_k"),
    )
    out = (
        nk.join(ek, "k", "left")
        .filter(F.col("n_k") >= 2)
        .select(
            F.col("k").cast("bigint").alias("k"),
            "n_k",
            F.coalesce("e_k", F.lit(0)).cast("bigint").alias("e_k"),
            fround(
                F.lit(2.0) * F.coalesce("e_k", F.lit(0)).cast("double")
                / (
                    F.col("n_k").cast("double")
                    * (F.col("n_k").cast("double") - F.lit(1.0))
                ),
                6,
            ).alias("phi"),
        )
    )
    return out


QUERIES["copurchase_rich_club"] = q_copurchase_rich_club

ORACLE["copurchase_rich_club"] = f"""
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS a_part, b.l_partkey AS b_part
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {MIN_COPURCHASE}
    ),
    deg AS (
        SELECT p, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT a_part AS p FROM edges
              UNION ALL SELECT b_part FROM edges)
        GROUP BY 1
    ),
    e_min AS (
        SELECT least(da.deg, db.deg) AS md,
               CAST(count(*) AS BIGINT) AS ne
        FROM edges
        JOIN deg da ON edges.a_part = da.p
        JOIN deg db ON edges.b_part = db.p
        GROUP BY 1
    ),
    d_hist AS (
        SELECT deg, CAST(count(*) AS BIGINT) AS nn FROM deg GROUP BY 1
    ),
    ek AS (
        SELECT unnest(generate_series(prev, md - 1)) AS k,
               e_gt AS e_k
        FROM (SELECT md,
                     CAST(sum(ne) OVER (ORDER BY md DESC
                                        ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS e_gt,
                     coalesce(lag(md) OVER (ORDER BY md), 0) AS prev
              FROM e_min)
    ),
    nk AS (
        SELECT unnest(generate_series(prev, deg - 1)) AS k,
               n_gt AS n_k
        FROM (SELECT deg,
                     CAST(sum(nn) OVER (ORDER BY deg DESC
                                        ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS n_gt,
                     coalesce(lag(deg) OVER (ORDER BY deg), 0) AS prev
              FROM d_hist)
    )
    SELECT CAST(nk.k AS BIGINT) AS k, n_k,
           coalesce(e_k, 0) AS e_k,
           floor((2.0 * CAST(coalesce(e_k, 0) AS DOUBLE)
                  / (CAST(n_k AS DOUBLE) * (CAST(n_k AS DOUBLE) - 1.0)))
                 * 1e6 + 0.5) / 1e6 AS phi
    FROM nk LEFT JOIN ek ON nk.k = ek.k
    WHERE n_k >= 2
"""
