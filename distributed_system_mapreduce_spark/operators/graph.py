"""Graph analytics over a co-purchase graph (engine extension).

The MapReduce paper's headline iterative workloads — link-graph degree
statistics and PageRank (OSDI'04 §1 cites "the graph structure of web
documents" as a motivating computation; the reference snapshot is empty, so
the published model is the parity target) — re-expressed Spark-first over a
graph derived from the fixtures: parts are vertices and an undirected edge
connects two parts that appear together in at least one order.

Scale notes (100 TB):
- **Edge construction** is a self-equi-join of ``lineitem`` on
  ``l_orderkey`` — one co-partitioned shuffle reused by both sides. The
  per-order pair blow-up is quadratic in *order size*, which is bounded by
  the schema (TPC-H orders have ≤7 lines), not by corpus size, so the edge
  table is O(|lineitem|), never O(n²).
- **Triangle counting** uses degree orientation (the "compact-forward"
  algorithm, Latapy 2008): every edge points from its lower-(degree, id)
  endpoint to the higher one, bounding per-vertex out-degree at
  O(sqrt(|E|)) — the hub-skew guard for power-law graphs. Counting is a
  per-edge intersection of the two endpoints' out-adjacency arrays, which
  keeps the shuffled volume at O(|E|) instead of materializing the
  sum(outdeg^2) wedge set.
- **PageRank** runs a fixed number of synchronous rounds, unrolled into
  one lazy plan: each round is one join + one partial-aggregated shuffle
  over the edge table, cached once. The only driver-side scalar is the
  vertex count; eight rounds stay well inside Catalyst's plan budget.
- **Connected components and the k-core peel** run to a data-dependent
  fixpoint on ``cache.fixpoint``, one checkpointed generation per round;
  a graph within ``cache.LOCAL_TAIL_MAX`` edges finishes in driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import (
    checkpoint_generation,
    fixpoint,
    local_frame,
    local_rows,
    loop_parts,
    release_checkpoint,
    session_memo,
    track,
)
from ..exactmath import (
    round_div,
    round_div_long,
    round_div_long_or_dec,
    sql_round_div,
)
from ..registry import register
from ..sources.io import load

#: fixed PageRank parameters — mirrored verbatim in the unrolled oracle SQL.
PR_ITERS = 8
PR_DAMPING = 0.85

#: largest vertex count for which the PageRank loop hints an explicit
#: broadcast of the rank frame (16 bytes/row -> ~64 MB at the bound,
#: comfortably under executor memory at cluster scale); above it the loop
#: keeps the shuffled-join Pregel shape. See graph_pagerank's loop comment.
_RANK_BCAST_MAX_VERTICES = 4_000_000


def copurchase_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edges as (src, dst, support) with src < dst,
    support = number of orders containing both parts.

    Tracked-persisted: every graph query starts from this frame — the
    full-graph queries project (src, dst), graph_components filters
    support >= BACKBONE_SUPPORT — so ONE materialization of the
    O(|lineitem|) pair rollup serves the whole family within a session
    (cache registry).

    Support counts ORDERS, not lineitem row-pairs: TPC-H orders can list
    the same part on several lines, and counting row-pairs inflates
    support — an order with a duplicated part could alone push a pair
    past BACKBONE_SUPPORT, and the inflated counts reordered
    graph_assoc_rules' top-50-by-lift at sf0.1 (caught by the r15
    tools/parity_bigsf.py sweep; sf0.01 membership happened to be
    insensitive). The oracles' ``co`` CTEs mirror the same distinct.

    Plan (r15 rework): per-order BASKETS via collect_set (deduping the
    duplicate parts for free), then pairs generated MAP-SIDE from the
    sorted basket array — the capped_wedges higher-order-transform idiom.
    Two shuffles total (group by order key, then the pair rollup) vs the
    old self-join's three-plus-distinct; basket size is bounded by order
    width (≤7 lines in TPC-H, bounded in any real corpus), so the pair
    expansion is skew-free and never materializes a join.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return track(basket_pair_support(li))


def basket_pair_support(li: DataFrame) -> DataFrame:
    """(src, dst, support) with src < dst from (l_orderkey, l_partkey)
    rows: support = number of DISTINCT orders containing both parts
    (duplicate rows within an order count once — collect_set). Exposed so
    the randomized property test can pit it against a plain-Python
    reference on arbitrary multisets (the kcore_peel testing pattern)."""
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts)), "
                "y -> named_struct('src', x, 'dst', y))))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    return pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("support")
    )


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges as (src, dst), src < dst."""
    return copurchase_support(spark, sf_dir).select("src", "dst")


_PAIRS_SQL = """
    pairs as (
      select distinct a.l_partkey as src, b.l_partkey as dst
      from lineitem a
      join lineitem b
        on a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey),
    edges as (
      select src, dst from pairs
      union all
      select dst as src, src as dst from pairs),
    deg as (select src as id, count(*) as deg from edges group by src)
"""


def _symmetric(pairs: DataFrame) -> DataFrame:
    return pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _degrees(pairs: DataFrame) -> DataFrame:
    """(id, deg) for every vertex with at least one edge.

    Tracked-persisted like the edge rollup it derives from: the frame is
    vertex-sized (one row per part) and read by four graph queries plus
    every PageRank round's initializer — without the cache each caller
    re-runs the symmetric-union aggregation over the full edge table
    (CacheManager dedupes the identical plan across call sites).
    """
    return track(
        _symmetric(pairs)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )


@register(
    "graph_degree_hist",
    oracle=f"""
    with {_PAIRS_SQL}
    select deg as degree, cast(count(*) as bigint) as n_parts
    from deg
    group by deg
    order by degree
    """,
)
def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph.

    Two partial-aggregated shuffles (per-vertex degree, then the histogram);
    the histogram key space is O(max degree) — driver-tiny at any scale.
    """
    return (
        _degrees(copurchase_pairs(spark, sf_dir))
        .groupBy(F.col("deg").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("degree")
    )


def triangle_count_from_pairs(pairs: DataFrame, deg: DataFrame) -> DataFrame:
    """1-row (n_triangles) for an undirected graph given (src < dst) pairs
    and per-vertex degrees — the degree-oriented adjacency-intersection
    core, shared by graph_triangle_count and the randomized property test
    (tests/test_property.py pits it against brute-force enumeration).

    Orients every edge toward its higher-(degree, id) endpoint, then for
    each oriented edge (u, v) counts |N_out(u) ∩ N_out(v)| — each triangle
    counted exactly once (its two non-closing edges share the
    lowest-ranked vertex). The wedge-join formulation would shuffle
    sum(outdeg^2) rows (72M at sf0.1 on this dense graph); the
    intersection does the same merge work in-memory over two
    <= sqrt(|E|)-length sorted arrays per edge, shuffling only O(|E|).
    """
    # r16: count rows of the shared tracked instance table (one row per
    # triangle — identical to summing per-edge intersection sizes, which
    # is what this computed before the family's enumeration was shared).
    return triangle_instances(pairs, deg).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def _oriented_with_adj(pairs: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-oriented edges with both endpoints' out-adjacency arrays
    attached: (src, dst, nbrs_u, nbrs_v). The compact per-vertex adjacency
    table is tracked-persisted (O(|E|) ints total) so triangle counting
    and the common-neighbors recommender share it per session; the joined
    |E|-row frame itself is deliberately NOT cached — materializing
    O(|E| x sqrt(|E|)) array copies costs more than the two cheap joins
    that rebuild it (measured at sf0.1: +6 s cold for -1 s warm)."""
    d_src = deg.select(F.col("id").alias("src"), F.col("deg").alias("sdeg"))
    d_dst = deg.select(F.col("id").alias("dst"), F.col("deg").alias("ddeg"))
    e = _symmetric(pairs).join(d_src, "src").join(d_dst, "dst")
    oriented = e.filter(
        (F.col("sdeg") < F.col("ddeg"))
        | ((F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst")))
    ).select("src", "dst")

    adj = track(
        oriented.groupBy("src").agg(
            F.sort_array(F.collect_list("dst")).alias("nbrs")
        )
    )
    a_u = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nbrs_u"))
    a_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nbrs_v"))
    return (
        oriented.join(a_u, oriented.src == a_u.u)
        .join(a_v, oriented.dst == a_v.v)
        .select("src", "dst", "nbrs_u", "nbrs_v")
    )


def triangle_instances(pairs: DataFrame, deg: DataFrame) -> DataFrame:
    """(u, v, w): every triangle instance of the undirected graph, one row
    per triangle, enumerated from the degree-oriented adjacency
    intersection ((u, v) is the oriented edge, w the closing vertex).

    Tracked-persisted (r16 optimization round — the capped-trio pattern
    applied to the EXACT family): graph_triangle_count,
    graph_clustering_coeff, graph_common_neighbors and graph_adamic_adar
    all enumerate exactly this frame and differ only in the rollup
    (count, per-vertex credit, per-edge credit, per-edge weighted credit),
    so one materialization of the expensive adjacency-join + intersect
    chain serves all four per session. Footprint is O(#triangles) rows of
    three longs (1.88M ≈ 45 MB at sf0.1, MEMORY_AND_DISK so corpus-scale
    counts spill rather than OOM) — the same O(#triangles) the family's
    shuffles already carry by design; the capped twins remain the
    documented 100 TB path for hub-heavy graphs."""
    return track(
        _oriented_with_adj(pairs, deg).select(
            F.col("src").alias("u"),
            F.col("dst").alias("v"),
            F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("w"),
        )
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    with {_PAIRS_SQL},
    tri as (
      select count(*) as n_triangles
      from pairs e1
      join pairs e2 on e2.src = e1.dst
      join pairs e3 on e3.src = e1.src and e3.dst = e2.dst)
    select (select count(*) from deg) as n_nodes,
           (select count(*) from pairs) as n_edges,
           (select n_triangles from tri) as n_triangles,
           (select {sql_round_div("sum(deg)", "count(*)", 4)} from deg)
             as avg_degree
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count via degree-oriented adjacency intersection.

    The oracle counts each triangle once as (a < b < c) over the id order;
    the engine orients edges by (degree, id) instead — the count is
    orientation-invariant, but degree orientation bounds every vertex's
    out-degree by O(sqrt(|E|)), which is what keeps the per-edge
    neighbor-set intersection bounded on power-law graphs where an
    id-ordered orientation would square the hub degree.
    """
    pairs = copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    tri = triangle_count_from_pairs(pairs, deg)

    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # all-integer half-up round (exactmath.py, r15 tie rework)
        round_div(F.sum("deg"), F.count(F.lit(1)), 4).alias("avg_degree"),
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(n_edges)
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_triangles", "avg_degree")
    )


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs.

    DuckDB's recursive CTEs are fixpoint-only (no per-iteration aggregation),
    so the eight synchronous rounds are unrolled textually — the same
    formula, constants, and double arithmetic as the Spark loop.
    """
    rounds = []
    for k in range(1, PR_ITERS + 1):
        rounds.append(
            f"""
    r{k} as (
      select n.id,
             cast({1 - PR_DAMPING} as double) / (select n from nn)
               + cast({PR_DAMPING} as double) * coalesce(s.c, 0) as rank
      from nodes n
      left join (
        select e.dst as id, sum(r.rank / d.deg) as c
        from edges e
        join r{k - 1} r on r.id = e.src
        join deg d on d.id = e.src
        group by e.dst) s using (id))"""
        )
    return f"""
    with {_PAIRS_SQL},
    nodes as (select id from deg),
    nn as (select cast(count(*) as double) as n from nodes),
    r0 as (
      select id, cast(1.0 as double) / (select n from nn) as rank
      from nodes),{",".join(rounds)}
    select id as part_id,
           round(rank * (select n from nn), 6) as pr
    from r{PR_ITERS}
    """


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (8 synchronous rounds, d=0.85) on the co-purchase graph.

    Each round is one equi-join of the cached degree-annotated edge table
    against the previous rank frame plus one partially-aggregated shuffle on
    the destination vertex — the canonical Pregel round expressed
    declaratively. The undirected graph has no dangling vertices (every
    vertex has out-degree = degree >= 1), so no dangling-mass redistribution
    term is needed. Ranks are reported scaled by N (so a uniform graph scores
    1.0) and rounded to 6 digits, absorbing summation-order float noise.
    """
    pairs = copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    # Both driver scalars are session memos: they are functions of the
    # corpus, so their count jobs run once per session.
    n_dir_edges = 2 * session_memo(
        spark, "n_copurchase_pairs", sf_dir, pairs.count
    )
    # Edge list with the source's out-degree attached once, hash-placed on
    # DST (the round's aggregation key) and cached for reuse across all 8
    # rounds. Placement on dst is the round-cost trick: the rank frame is
    # vertex-sized, so AQE broadcasts it into the join, the broadcast join
    # preserves the streamed (edge) side's dst-hash placement, and the
    # groupBy("dst") then needs NO exchange — each round is a single
    # edge-proportional stage (cache.loop_parts width) plus a broadcast
    # build, instead of a default-width shuffle. At cluster scale,
    # where the vertex frame outgrows broadcast, AQE falls back to a
    # shuffled join and the round degrades gracefully to the standard
    # two-shuffle Pregel shape.
    edges_w = track(
        _symmetric(pairs)
        .join(deg.select(F.col("id").alias("src"), "deg"), "src")
        .repartition(loop_parts(spark, n_dir_edges), "dst")
    )
    n_nodes = float(
        session_memo(spark, "n_graph_vertices", sf_dir, deg.count)
    )
    if n_nodes == 0:
        # PageRank of the empty graph is the empty ranking — return the
        # output schema with zero rows instead of dividing by the vertex
        # count (empty-fixture sweep, tests/test_degenerate.py)
        return deg.select(
            F.col("id").alias("part_id"),
            F.lit(0.0).alias("pr"),
        )

    # Every vertex of the symmetric graph has degree >= 1, so every vertex
    # receives at least one contribution each round — no "left join against
    # the node list" re-anchoring is needed, which halves the per-round
    # work to one equi-join + one aggregated shuffle.
    #
    # Broadcast decision, made ONCE with the exact vertex count instead of
    # per-round by AQE: AQE only converts to broadcast after materializing
    # each round's shuffle, so the 8 rounds each paid a full exchange
    # before the runtime re-plan — ~60% of the warm query.
    # With the count already on the driver, hint the broadcast explicitly
    # when the rank frame is provably small (<= _RANK_BCAST_MAX_VERTICES
    # rows of (long, double) — tens of MB) and every round compiles
    # directly to broadcast-join + exchange-free groupBy on the dst-placed
    # edges. Above the bound — billion-vertex graphs where a rank
    # broadcast would OOM the executors — the plain join keeps the
    # standard two-shuffle Pregel shape.
    ranks = deg.select("id", F.lit(1.0 / n_nodes).alias("rank"))
    hint_bcast = n_nodes <= _RANK_BCAST_MAX_VERTICES
    for _ in range(PR_ITERS):
        r = F.broadcast(ranks) if hint_bcast else ranks
        ranks = (
            edges_w.join(r, edges_w.src == r.id)
            .select("dst", (F.col("rank") / F.col("deg")).alias("m"))
            .groupBy("dst")
            .agg(
                (
                    F.lit((1 - PR_DAMPING) / n_nodes)
                    + F.lit(PR_DAMPING) * F.sum("m")
                ).alias("rank")
            )
            .withColumnRenamed("dst", "id")
        )
    return ranks.select(
        F.col("id").alias("part_id"),
        F.round(F.col("rank") * F.lit(n_nodes), 6).alias("pr"),
    )


#: minimum co-occurrence count for a "backbone" edge: pairs bought together
#: at least twice. On a random-basket corpus this strips the Erdos-Renyi
#: noise (one-off co-occurrences) and leaves the intentional structure —
#: the standard market-basket support threshold.
BACKBONE_SUPPORT = 2

#: DuckDB CTE prefix shared by the backbone oracles: ``co`` holds the
#: support >= BACKBONE_SUPPORT pairs (src < dst), ``bedges`` their
#: symmetric (src, dst) list.
_BACKBONE_SQL = f"""
    co as materialized (
      select a.l_partkey as src, b.l_partkey as dst
      from (select distinct l_orderkey, l_partkey from lineitem) a
      join (select distinct l_orderkey, l_partkey from lineitem) b
        on a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey
      group by all
      having count(*) >= {BACKBONE_SUPPORT}),
    bedges as materialized (
      select src, dst from co
      union all
      select dst as src, src as dst from co)"""

#: _BACKBONE_SQL plus the backbone's component labels by a recursive
#: reachability closure: ``blabels`` maps each backbone node to the min
#: id it reaches. Requires a WITH RECURSIVE context.
_BACKBONE_LABELS_SQL = f"""{_BACKBONE_SQL},
    bnodes as (select distinct src as id from bedges),
    reach as (
      select id as src, id as dst from bnodes
      union
      select r.src, e.dst from reach r join bedges e on r.dst = e.src),
    blabels as (select src as id, min(dst) as label from reach group by src)"""


def _backbone_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (src, dst) edges of the support-thresholded backbone."""
    return _symmetric(
        copurchase_support(spark, sf_dir)
        .filter(F.col("support") >= BACKBONE_SUPPORT)
        .select("src", "dst")
    )


def backbone_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, label) components of the support-thresholded co-purchase
    backbone — a session memo, like the corpus near-dup labels in
    operators/dedup.py (the CC output plan reads run-specific checkpoint
    RDDs, which the CacheManager cannot match across runs)."""
    from .dedup import connected_components

    return session_memo(
        spark,
        f"backbone_cc_labels:{BACKBONE_SUPPORT}",
        sf_dir,
        lambda: connected_components(_backbone_sym(spark, sf_dir)),
    )


@register(
    "graph_components",
    oracle=f"""
    with recursive {_BACKBONE_LABELS_SQL},
    csizes as (select label, count(*) as component_size from blabels
               group by label)
    select cast(component_size as bigint) as component_size,
           cast(count(*) as bigint) as n_components
    from csizes
    group by component_size
    order by component_size
    """,
)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase BACKBONE (edges with
    support >= {BACKBONE_SUPPORT}), reported as a component-size histogram.

    Reuses the engine's pointer-jumping CC primitive
    (operators/dedup.py::connected_components — O(log diameter) rounds on
    ``cache.fixpoint``, or a driver-memory union-find for a backbone
    within ``cache.LOCAL_TAIL_MAX`` edges) on a second graph,
    demonstrating it as a library operator rather than a dedup-special.
    The support filter is a HAVING over the same
    one-shuffle pair rollup the full edge build uses; the backbone is
    orders of magnitude sparser than the raw co-occurrence graph, which is
    exactly why a support threshold is the first thing a market-basket
    pipeline applies at 100 TB. The DuckDB oracle is the same recursive
    reachability closure the dedup_cluster oracle uses.
    """
    labels = backbone_cc_labels(spark, sf_dir)
    # component_size stays LONG (ADVICE r10 class): a giant component's
    # vertex count crosses 2^31 exactly at the scale CC exists for, and an
    # int cast here would silently wrap the histogram key.
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("component_size"))
        .groupBy("component_size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("component_size")
    )


@register(
    "graph_assoc_rules",
    oracle=f"""
    with li as (select distinct l_orderkey, l_partkey from lineitem),
    n_orders as (select count(distinct l_orderkey) as n from lineitem),
    item_cnt as (
      select l_partkey as part, count(*) as cnt from li group by part),
    pair_sup as (
      select a.l_partkey as src, b.l_partkey as dst, count(*) as support
      from li a
      join li b
        on a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey
      group by all
      having count(*) >= {BACKBONE_SUPPORT}),
    rules as (
      select src as antecedent, dst as consequent, support,
             {sql_round_div('support', 'ca.cnt', 4)} as confidence,
             {sql_round_div('support * (select n from n_orders)',
                            'ca.cnt * cb.cnt', 4)} as lift
      from pair_sup
      join item_cnt ca on ca.part = src
      join item_cnt cb on cb.part = dst
      union all
      select dst, src, support,
             {sql_round_div('support', 'cb.cnt', 4)},
             {sql_round_div('support * (select n from n_orders)',
                            'ca.cnt * cb.cnt', 4)}
      from pair_sup
      join item_cnt ca on ca.part = src
      join item_cnt cb on cb.part = dst)
    select antecedent, consequent, support, confidence, lift
    from rules
    order by lift desc, antecedent, consequent
    limit 50
    """,
)
def graph_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over frequent co-purchase pairs:
    confidence = P(consequent | antecedent), lift = confidence /
    P(consequent), top-50 by lift — the Apriori output for itemsets of
    size two, the frequent-itemset workload the MapReduce literature
    popularized.

    Reuses the tracked support rollup (one materialization serves the
    graph family); the per-item counts are one partial-agg shuffle over
    distinct (order, part), and the basket total is a driver scalar. Both
    rule directions come from the SAME symmetric pair row — no second
    pair rollup. Confidence/lift are rounded before the lift ranking
    (antecedent/consequent tiebreaks), so top-50 membership is
    engine-stable.
    """
    sup = copurchase_support(spark, sf_dir).filter(
        F.col("support") >= BACKBONE_SUPPORT
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # The basket total is a session memo of the corpus (otherwise a full
    # distinct scan of lineitem on every plan build), and the
    # (support, ca, cb) join frame is referenced by BOTH rule directions,
    # so without a materialization point the lineitem-wide item-count
    # rollup ran once per branch.
    # The frame is backbone-sized (pairs past the support threshold) —
    # the join/shuffle-heavy duplicated-subtree class where a
    # checkpoint_generation slot wins (see agg_weighted_median for the
    # opposite, fused-rollup case, measured and rejected).
    n_orders = session_memo(
        spark,
        "n_orders_distinct",
        sf_dir,
        li.select("l_orderkey").distinct().count,
    )
    item_cnt = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ca = item_cnt.select(F.col("part").alias("src"), F.col("cnt").alias("ca"))
    cb = item_cnt.select(F.col("part").alias("dst"), F.col("cnt").alias("cb"))
    pairs = checkpoint_generation(
        "assoc_rules_pairs", sup.join(ca, "src").join(cb, "dst")
    )
    fwd = pairs.select(
        F.col("src").alias("antecedent"),
        F.col("dst").alias("consequent"),
        "support",
        round_div_long(F.col("support"), F.col("ca"), 4).alias(
            "confidence"
        ),
        round_div(
            F.col("support") * F.lit(n_orders),
            F.col("ca") * F.col("cb"),
            4,
        ).alias("lift"),
    )
    rev = pairs.select(
        F.col("dst").alias("antecedent"),
        F.col("src").alias("consequent"),
        "support",
        round_div_long(F.col("support"), F.col("cb"), 4).alias(
            "confidence"
        ),
        round_div(
            F.col("support") * F.lit(n_orders),
            F.col("ca") * F.col("cb"),
            4,
        ).alias("lift"),
    )
    return (
        fwd.unionAll(rev)
        .orderBy(F.desc("lift"), F.asc("antecedent"), F.asc("consequent"))
        .limit(50)
    )


@register(
    "graph_common_neighbors",
    oracle=f"""
    with {_PAIRS_SQL},
    inter as (
      select p.src, p.dst, count(*) as i
      from pairs p
      join edges eu on eu.src = p.src
      join edges ev on ev.src = p.dst and ev.dst = eu.dst
      group by p.src, p.dst),
    scored as (
      select i.src, i.dst, i.i,
             {sql_round_div('i.i', '(du.deg + dv.deg - i.i)', 4)} as jacc
      from inter i
      join deg du on du.id = i.src
      join deg dv on dv.id = i.dst)
    select src, dst, i as n_common, jacc
    from scored
    order by jacc desc, src, dst
    limit 20
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Customers also bought" similarity: top-20 co-purchase pairs by
    neighbor-set Jaccard (common neighbors / union of neighborhoods) —
    the item-item collaborative-filtering score.

    Candidates are ONLY existing edges (never all vertex pairs). The
    common-neighbor count of edge {u, v} equals the number of triangles
    containing it, so instead of attaching FULL (unbounded-degree)
    adjacency arrays to every edge, the TRIANGLE INSTANCES are enumerated
    from the degree-oriented intersection (sqrt-bounded arrays, shared
    tracked cache with graph_triangle_count) and each instance credits
    its three id-canonical edges — the shuffled rollup is O(#triangles),
    and #triangles << |E| x avg-degree (measured: 7.5 s -> ~3 s at
    sf0.1). Jaccard is rounded before the top-20 ranking with (src, dst)
    tiebreaks.
    """
    pairs = copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    inst = triangle_instances(pairs, deg)
    edge = lambda a, b: F.struct(  # noqa: E731
        F.least(a, b).alias("src"), F.greatest(a, b).alias("dst")
    )
    tri_per_edge = (
        inst.select(
            F.explode(
                F.array(
                    edge(F.col("u"), F.col("v")),
                    edge(F.col("u"), F.col("w")),
                    edge(F.col("v"), F.col("w")),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # every credited edge is a real edge by construction (w ∈ N_out(u) and
    # w ∈ N_out(v)), and edges with ZERO common neighbors can never rank —
    # the oracle's inter CTE drops them identically — so tri_per_edge IS
    # the candidate set; no join back against the full pair table.
    d_u = deg.select(F.col("id").alias("src"), F.col("deg").alias("deg_u"))
    d_v = deg.select(F.col("id").alias("dst"), F.col("deg").alias("deg_v"))
    scored = (
        tri_per_edge.join(d_u, "src")
        .join(d_v, "dst")
        .select(
            "src",
            "dst",
            "n_common",
            round_div_long(
                F.col("n_common"),
                F.col("deg_u") + F.col("deg_v") - F.col("n_common"),
                4,
            ).alias("jacc"),
        )
    )
    return scored.orderBy(
        F.desc("jacc"), F.asc("src"), F.asc("dst")
    ).limit(20)


#: k for the k-core peel, applied to the support-thresholded BACKBONE:
#: the 2-core strips pendant trees in cascading rounds and leaves the
#: cyclic skeleton. (On the FULL near-Erdos-Renyi co-purchase graph the
#: k-core transition is sharp — any k near the mean degree collapses to
#: an empty core in 2-3 rounds, measured at sf0.01 — so the sparse
#: backbone is where the peel does meaningful work.)
KCORE_K = 2
KCORE_MAX_ROUNDS = 50

def kcore_round(edges: DataFrame, k: int) -> DataFrame:
    """ONE peel round: degree rollup over the surviving symmetric edge
    list, then a semi-join keeping edges with BOTH endpoints alive. The
    loop body of :func:`kcore_peel`, exposed (pre-checkpoint) so the
    registry-wide plan sweep can screen the iterative query's per-round
    plan — the stage that actually runs at scale — instead of the final
    LocalTableScan.

    No per-round repartition: generation 0 is hash-placed on src once in
    :func:`kcore_peel`, the alive list broadcasts at peel scale so both
    semi-joins preserve that placement, and the checkpoint carries it into
    the next generation (dropping the per-round re-placement measured
    2.12 s → 1.52 s for the sf0.1 k=2 peel). Where alive outgrows the
    broadcast threshold the dst semi-join shuffles and the next round's
    degree rollup re-exchanges on src.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    alive = deg.filter(F.col("deg") >= k).select("src")
    return (
        edges.join(alive, "src", "left_semi")
        .join(alive.withColumnRenamed("src", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )


def _kcore_peel_local(
    edges: list[tuple[int, int]],
    k: int,
    n_edges: int,
    rounds: int,
    max_rounds: int,
) -> tuple[list[tuple[int, int]], int, int]:
    """Finish the peel fixpoint on a driver-small SYMMETRIC edge list —
    bit-identical loop semantics to the distributed rounds (degree = count
    of rows with src == v; keep edges whose BOTH endpoints have degree >=
    k; one round per recount; converged when the edge count repeats,
    counting the confirming round), sharing the caller's round counter and
    ``max_rounds`` budget so the reported ``rounds`` is the same number the
    all-distributed loop would produce."""
    from collections import Counter

    while True:
        if rounds >= max_rounds:
            raise RuntimeError(
                f"k-core peel did not converge in {max_rounds} rounds"
            )
        deg = Counter(s for s, _ in edges)
        nxt = [(s, d) for s, d in edges if deg[s] >= k and deg[d] >= k]
        rounds += 1
        n_next = len(nxt)
        edges = nxt
        if n_next == n_edges:
            return edges, n_edges, rounds
        n_edges = n_next


def kcore_peel(
    edges_sym: DataFrame,
    k: int,
    max_rounds: int = KCORE_MAX_ROUNDS,
    n_edges: int | None = None,
) -> tuple:
    """Peel a SYMMETRIC edge list to its k-core fixpoint.

    Returns (core, surviving directed-edge count, peel rounds). ``core``
    is the surviving symmetric edges: a list of (src, dst) tuples when the
    peel finished in driver memory, else a live checkpoint the caller
    releases with ``cache.release_checkpoint``. Shared by the registered
    backbone queries (any k) and the randomized property test, which pits
    it against a plain-Python reference peel.

    Each round is one :func:`kcore_round` on ``cache.fixpoint``; the
    measure is the surviving-edge count, strictly decreasing until the
    fixpoint. Once that count is within ``cache.LOCAL_TAIL_MAX`` (at the
    start, or after any round) the remaining rounds run in driver memory
    (:func:`_kcore_peel_local`) with the same round counter and budget, so
    the result and ``rounds`` equal the all-distributed peel's. ``n_edges``,
    if given, must be the exact row count of ``edges_sym``; a start within
    the bound then costs one collect and no checkpoint.
    """
    spark = edges_sym.sparkSession
    if n_edges is None:
        n_edges = edges_sym.count()
    rows = local_rows(edges_sym, n_edges)
    if rows is not None:
        return _kcore_peel_local(rows, k, n_edges, 0, max_rounds)
    # AQE stays on around this loop: with adaptive planning off the
    # alive-list semi-joins plan statically against the checkpoint's
    # unknown size and demote to full-width sort-merge joins.
    return fixpoint(
        edges_sym.repartition(loop_parts(spark, n_edges), "src"),
        lambda e: kcore_round(e, k),
        DataFrame.count,
        max_rounds,
        "k-core peel",
        finish=lambda rows, n, rounds: _kcore_peel_local(
            rows, k, n, rounds, max_rounds
        ),
    )


def _kcore_summary(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """(k, core nodes, core edges, rounds) of the backbone's k-core, a
    session memo."""

    def build() -> tuple:
        sym = _backbone_sym(spark, sf_dir)
        # shared by both k-core queries and graph_label_propagation
        n_sym = session_memo(spark, "n_backbone_sym_edges", sf_dir, sym.count)
        core, n_edges, rounds = kcore_peel(sym, k, n_edges=n_sym)
        if isinstance(core, list):
            core_nodes = len({src for src, _ in core})
        else:
            core_nodes = core.select("src").distinct().count()
            release_checkpoint(core)
        return (k, core_nodes, n_edges // 2, rounds)

    return local_frame(
        spark, [session_memo(spark, f"kcore_summary:{k}", sf_dir, build)],
        "k int, n_core_nodes long, n_core_edges long, n_rounds int",
    )


#: unroll depth of the k-core ORACLE (not the Spark loop, which runs to
#: its data-dependent fixpoint under KCORE_MAX_ROUNDS): the sf0.01 peels
#: converge in 4 (k=2) / 11 (k=3) rounds on the deduped backbone (r15);
#: 16 leaves regeneration margin,
#: and a fixture needing more fails LOUDLY (the oracle's n_rounds goes
#: NULL -> hash mismatch), never silently.
KCORE_ORACLE_UNROLL = 16


def _kcore_oracle(k: int, unroll: int = KCORE_ORACLE_UNROLL) -> str:
    """Unrolled peel as chained CTEs (the PageRank-oracle technique,
    promoted in r11 — DuckDB's recursive CTEs are fixpoint-only with no
    per-iteration aggregation, but a FIXED unroll expresses the peel
    exactly): e0 = the symmetric support>={BACKBONE_SUPPORT} backbone,
    e_i = e_{{i-1}} restricted to endpoints with surviving degree >= k,
    and n_rounds = the first i whose edge count matches round i-1 — the
    identical termination rule as kcore_peel's convergence scalar."""
    rounds = []
    for i in range(1, unroll + 1):
        prev = f"e{i - 1}"
        # MATERIALIZED is load-bearing: each round references its
        # predecessor three times (degree rollup + two endpoint joins),
        # so default CTE inlining re-expands the whole chain per
        # reference — exponential plan growth that exhausts file handles
        # on the base scan before round 16.
        rounds.append(
            f"""
    a{i} as materialized (
      select src from {prev} group by src having count(*) >= {k}),
    e{i} as materialized (
      select e.src, e.dst from {prev} e
      join a{i} u on e.src = u.src
      join a{i} v on e.dst = v.src)"""
        )
    counts = "\n      union all ".join(
        f"select {i} as i, (select count(*) from e{i}) as c"
        for i in range(unroll + 1)
    )
    return f"""
    with {_BACKBONE_SQL},
    e0 as (select src, dst from bedges),{",".join(rounds)},
    counts as (
      {counts}),
    fix as (
      select min(cur.i) as n_rounds
      from counts cur join counts prv on prv.i = cur.i - 1
      where cur.c = prv.c)
    select cast({k} as int) as k,
           cast((select count(distinct src) from e{unroll}) as bigint)
             as n_core_nodes,
           cast((select count(*) from e{unroll}) // 2 as bigint)
             as n_core_edges,
           cast((select n_rounds from fix) as int) as n_rounds
    """


@register("graph_kcore", oracle=_kcore_oracle(KCORE_K))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k={KCORE_K} on the backbone): repeatedly peel
    vertices of degree < k until none remain — the density-filter workload
    (community cores, spam-cluster seeds) whose "recompute degrees after
    deletion" loop is a driver loop on the Spark side, making it the graph
    twin of the connected-components fixpoint. The 2-core strips pendant
    trees and leaves the cyclic skeleton. Promoted in r11 from rows-only
    to a full hash-checked oracle: the peel UNROLLS into chained CTEs
    (see _kcore_oracle — the PageRank-oracle technique), with n_rounds
    derived from the same first-unchanged-count rule the Spark loop uses.
    """
    return _kcore_summary(spark, sf_dir, KCORE_K)


@register("graph_kcore_k3", oracle=_kcore_oracle(3))
def graph_kcore_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the backbone — one peel step denser than graph_kcore's
    cyclic skeleton: vertices must keep >= 3 surviving neighbors, which
    additionally dissolves isolated cycles and exposes the clique-ish
    community cores. Same peel (kcore_peel), different k; same r11
    unrolled-CTE oracle promotion as its k=2 sibling, and property-tested
    against a brute-force reference peel on random graphs in
    tests/test_property.py.
    """
    return _kcore_summary(spark, sf_dir, 3)


#: BFS unroll depth — fixed so the whole traversal is ONE declarative plan
#: (no driver loop) and the oracle mirrors it as chained CTEs.
BFS_HOPS = 3


def bfs_level(edges: DataFrame, frontier: DataFrame, level_parts: int) -> DataFrame:
    """ONE BFS expansion level (pre-checkpoint): neighbors of the frontier,
    explicitly hash-placed on the node key at edge-proportional width, then
    frontier-deduped. Exposed so the plan screen can audit the per-level
    shape that runs at scale (the kcore_round pattern)."""
    return (
        edges.join(frontier.select(F.col("node").alias("src")), "src")
        .select(F.col("dst").alias("node"))
        .repartition(level_parts, "node")
        .distinct()
    )


@register(
    "graph_bfs_hops",
    oracle=f"""
    with {_PAIRS_SQL.strip().rstrip(',').replace('deg as (select src as id, count(*) as deg from edges group by src)', '')}
    src0 as (select min(src) as node from edges),
    d1 as (select distinct e.dst as node from edges e
           join src0 s on e.src = s.node),
    d2 as (select distinct e.dst as node from edges e
           join d1 on e.src = d1.node),
    d3 as (select distinct e.dst as node from edges e
           join d2 on e.src = d2.node),
    levels as (
      select node, 0 as hop from src0
      union all select node, 1 from d1
      union all select node, 2 from d2
      union all select node, 3 from d3),
    dist as (select node, min(hop) as hop from levels group by node)
    select cast(hop as int) as hop,
           count(*) as n_nodes,
           cast(sum(node) as bigint) as node_checksum
    from dist
    group by hop
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first traversal from the smallest co-purchase node, unrolled
    to BFS_HOPS levels: per hop distance, how many parts are first reached
    there (plus an id checksum so the oracle hashes membership, not just
    counts).

    The unroll is the scale shape for BOUNDED-depth traversal: three
    self-joins against the edge list with a per-level ``distinct`` (the
    frontier dedup that keeps path multiplicity from exploding — without
    it level k materializes every walk, not every node), then one min-hop
    rollup. Each level is an equi-join on the node key; nothing iterates
    on the driver, so Catalyst sees the whole traversal and AQE sizes
    every exchange. Unbounded reachability is ``graph_components``'s
    hash-min loop; this query is the fixed-depth probe (friends-of-
    friends, 3-hop ego nets) that stays a single plan.
    """
    pairs = copurchase_pairs(spark, sf_dir)
    edges = track(
        pairs.union(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    # Each level's frontier dedup and the downstream min-hop rollup are
    # vertex-sized frames: an explicit hash repartition on the node key at
    # cache.loop_parts width makes each level one edge-proportional
    # exchange instead of a default-width one. The edge count is a session
    # memo shared with PageRank.
    level_parts = loop_parts(
        spark,
        2 * session_memo(spark, "n_copurchase_pairs", sf_dir, pairs.count),
    )
    src0 = edges.agg(F.min("src").alias("node"))
    frontier = src0
    levels = [src0.select("node", F.lit(0).alias("hop"))]
    for hop in range(1, BFS_HOPS + 1):
        frontier = bfs_level(edges, frontier, level_parts)
        if hop == BFS_HOPS - 1:
            # r16 optimization round: the unrolled BFS references every
            # intermediate frontier TWICE (next level's seed + min-hop
            # union branch) and Spark recomputes diamond subtrees with no
            # materialization point, so the lazy plan re-ran hops 1..k-1
            # inside the final rollup. Checkpoint the PENULTIMATE frontier
            # — the diamond whose recompute dominates (interleaved probe
            # at sf0.1: lazy 2.08 s, this 1.66 s; checkpointing EVERY
            # level measured worse, 1.83 s — barriers outweigh the cheap
            # low-level dups). Single-generation slot lifecycle: see
            # cache.checkpoint_generation (nothing reuses across runs).
            frontier = checkpoint_generation("bfs_frontier", frontier)
        levels.append(frontier.select("node", F.lit(hop).alias("hop")))
    all_levels = levels[0]
    for lv in levels[1:]:
        all_levels = all_levels.unionAll(lv)
    dist = all_levels.groupBy("node").agg(F.min("hop").alias("hop"))
    return dist.groupBy(F.col("hop").cast("int").alias("hop")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").cast("bigint").alias("node_checksum"),
    )


@register(
    "graph_adamic_adar",
    oracle=f"""
    with {_PAIRS_SQL},
    inst as (
      select p.src, p.dst, eu.dst as w
      from pairs p
      join edges eu on eu.src = p.src
      join edges ev on ev.src = p.dst and ev.dst = eu.dst)
    select i.src, i.dst,
           cast(count(*) as bigint) as n_common,
           round(sum(1.0 / ln(d.deg)), 4) as aa
    from inst i join deg d on d.id = i.w
    group by i.src, i.dst
    order by aa desc, i.src, i.dst
    limit 20
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchase edges by Adamic–Adar (sum of 1/ln(degree) over
    common neighbors — the link-prediction score that down-weights hub
    neighbors, Adamic & Adar 2003).

    Same triangle-instance enumeration as graph_common_neighbors (shared
    tracked adjacency, degree-oriented sqrt-bounded intersections): each
    instance (u, v, w) credits its three id-canonical edges, weighted by
    1/ln(deg) of the OPPOSITE vertex — so the shuffled rollup is
    O(#triangles) and degree joins hit the vertex-sized table, never a
    broadcast of it. A common neighbor always has degree >= 2 (it touches
    both endpoints), so ln(deg) is never 0. Scores round to 4 dp before
    the top-20 ranking with (src, dst) tiebreaks.
    """
    pairs = copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    inst = triangle_instances(pairs, deg)
    edge = lambda a, b, o: F.struct(  # noqa: E731
        F.least(a, b).alias("src"),
        F.greatest(a, b).alias("dst"),
        o.alias("other"),
    )
    credits = inst.select(
        F.explode(
            F.array(
                edge(F.col("u"), F.col("v"), F.col("w")),
                edge(F.col("u"), F.col("w"), F.col("v")),
                edge(F.col("v"), F.col("w"), F.col("u")),
            )
        ).alias("c")
    ).select("c.src", "c.dst", "c.other")
    d_w = deg.select(F.col("id").alias("other"), F.col("deg").alias("deg_w"))
    scored = (
        credits.join(d_w, "other")
        .groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(1.0 / F.log(F.col("deg_w"))), 4).alias("aa"),
        )
    )
    return scored.orderBy(F.desc("aa"), F.asc("src"), F.asc("dst")).limit(20)


#: neighbor cap of the degree-capped Adamic-Adar variant — per-vertex
#: wedge work is bounded at C(CAP, 2) regardless of hub size.
ADAMIC_ADAR_NEIGHBOR_CAP = 16


@register(
    "graph_adamic_adar_capped",
    oracle=f"""
    with {_PAIRS_SQL},
    capped as (
      select src, dst from (
        select src, dst,
               row_number() over (partition by src order by dst) as rn
        from edges) t
      where rn <= {ADAMIC_ADAR_NEIGHBOR_CAP}),
    wedge as (
      select a.src as w, a.dst as u, b.dst as v
      from capped a join capped b on a.src = b.src and a.dst < b.dst)
    select wg.u as src, wg.v as dst,
           cast(count(*) as bigint) as n_common,
           round(sum(1.0 / ln(d.deg)), 4) as aa
    from wedge wg
    join pairs p on p.src = wg.u and p.dst = wg.v
    join deg d on d.id = wg.w
    group by wg.u, wg.v
    order by aa desc, src, dst
    limit 20
    """,
)
def graph_adamic_adar_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-capped Adamic-Adar — the documented 100 TB scale path for
    the wedge-enumeration pair (VERDICT r11 #5: the x16 probe shows the
    exact variant's local slope reaching ~1.1 past x8, i.e. its
    output-proportional triangle term turning linear; this variant BOUNDS
    per-vertex wedge work at C(ADAMIC_ADAR_NEIGHBOR_CAP, 2) = C(16, 2)
    so total work is O(V·cap²) — corpus-linear with a constant,
    hub-immune).

    Each wedge center keeps only its ADAMIC_ADAR_NEIGHBOR_CAP (16)
    lowest-id neighbors (deterministic and SQL-mirrorable; a production ranking
    would keep the strongest-support neighbors instead — same plan, one
    orderBy key swap). Wedge pairs are generated MAP-SIDE from the capped
    sorted adjacency array (nested higher-order transform over slice — no
    self-join, no explode-then-join), then scored against the real edge
    set and the FULL degree table exactly like :func:`graph_adamic_adar`.
    Capping loses wedges through hub centers (their 17th+ neighbors), so
    scores are a lower bound of the exact query's — the standard
    truncated-adjacency trade every production link-prediction pipeline
    makes.
    """
    return adamic_adar_capped_scores(
        copurchase_pairs(spark, sf_dir), ADAMIC_ADAR_NEIGHBOR_CAP
    ).orderBy(F.desc("aa"), F.asc("src"), F.asc("dst")).limit(20)


def capped_wedges(pairs: DataFrame, cap: int) -> DataFrame:
    """(w, u, v): every wedge pair through each center w's ``cap``
    lowest-id neighbors (u < v), generated MAP-SIDE from the capped
    sorted adjacency array (nested higher-order transform over slice —
    no self-join, no explode-then-join). Per-center output is bounded at
    C(cap, 2) regardless of hub size, so total work is O(V·cap²).
    Shared by the capped Adamic-Adar/common-neighbors scorer and the
    capped clustering coefficient."""
    # NOT tracked (r16 optimization round, measured): caching this
    # vertex-sized frame looks free, but the warm capped queries got
    # 25-35% SLOWER reading it back (like-for-like 16-query subset A/B at
    # sf0.1: +0.12/+0.35/+0.37 s on the capped trio against a -15% tide on
    # untouched queries) — the InMemoryTableScan breaks whole-stage-codegen
    # fusion of the agg -> explode chain, costing more than the rebuild it
    # saves. Same conclusion as _oriented_with_adj's joined frame.
    capped = _symmetric(pairs).groupBy("src").agg(
        F.slice(F.sort_array(F.collect_list("dst")), 1, cap).alias("nbrs")
    )
    return capped.select(
        F.col("src").alias("w"),
        F.explode(
            F.expr(
                "flatten(transform(nbrs, (x, i) -> "
                f"transform(slice(nbrs, i + 2, {cap}), "
                "y -> named_struct('u', x, 'v', y))))"
            )
        ).alias("p"),
    ).select("w", "p.u", "p.v")


def capped_closed_wedges(pairs: DataFrame, cap: int) -> DataFrame:
    """(w, u, v): the CLOSED capped wedges — every capped wedge whose
    endpoints (u, v) are themselves an edge, i.e. each row is one triangle
    instance through a capped center.

    Tracked-persisted (r16 optimization round, guide §2.4 "two operations
    keyed the same way can share one exchange" generalized to three
    queries sharing one subtree): all three capped queries — Adamic-Adar,
    common-neighbors and the capped clustering coefficient — start from
    exactly this frame and differ only in the rollup key (u,v vs w), so
    one materialization of the expensive wedge-generate + edge-closure
    join serves the trio per session. Unlike the REJECTED capped_wedges
    cache (see its docstring: the InMemoryTableScan broke the
    agg→explode codegen fusion and re-reading O(V·cap²) wedge rows cost
    more than rebuilding them), this caches AFTER the closure join, where
    the frame has already collapsed to the triangle instances — orders of
    magnitude fewer rows (closed wedges ≤ wedges, and only edges with a
    common capped neighbor survive) — so readers scan a small table and
    the fused generate chain runs once instead of three times. Footprint
    is bounded by O(V·cap²) rows of three longs at any corpus scale."""
    return track(
        capped_wedges(pairs, cap).join(
            pairs.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            ["u", "v"],
        )
    )


def adamic_adar_capped_scores(pairs: DataFrame, cap: int) -> DataFrame:
    """(src, dst, n_common, aa) for every edge of ``pairs`` scored over the
    ``cap``-lowest-id-neighbors adjacency — ``graph_adamic_adar_capped``'s
    scoring stage before the top-20, exposed so the randomized property
    test can pit it against a plain-Python reference on arbitrary graphs
    (the kcore_peel testing pattern)."""
    deg = _degrees(pairs)
    d_w = deg.select(F.col("id").alias("w"), F.col("deg").alias("deg_w"))
    return (
        capped_closed_wedges(pairs, cap)
        .join(d_w, "w")
        .groupBy(F.col("u").alias("src"), F.col("v").alias("dst"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(1.0 / F.log(F.col("deg_w"))), 4).alias("aa"),
        )
    )


@register(
    "graph_common_neighbors_capped",
    oracle=f"""
    with {_PAIRS_SQL},
    capped as (
      select src, dst from (
        select src, dst,
               row_number() over (partition by src order by dst) as rn
        from edges) t
      where rn <= {ADAMIC_ADAR_NEIGHBOR_CAP}),
    wedge as (
      select a.src as w, a.dst as u, b.dst as v
      from capped a join capped b on a.src = b.src and a.dst < b.dst)
    select wg.u as src, wg.v as dst,
           cast(count(*) as bigint) as n_common
    from wedge wg
    join pairs p on p.src = wg.u and p.dst = wg.v
    group by wg.u, wg.v
    order by n_common desc, src, dst
    limit 20
    """,
)
def graph_common_neighbors_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree-capped "customers also bought" — the second half of the
    wedge pair's documented scale path (VERDICT r11 #5, with
    ``graph_adamic_adar_capped``): top-20 co-purchase edges by common
    neighbors counted THROUGH CAPPED WEDGE CENTERS (a center w
    contributes iff both endpoints are among its
    ADAMIC_ADAR_NEIGHBOR_CAP (16) lowest-id neighbors), so per-center
    work is bounded at C(ADAMIC_ADAR_NEIGHBOR_CAP, 2) — O(V·cap²) total,
    hub-immune, the exact same map-side wedge generation as the capped
    Adamic-Adar (shared :func:`adamic_adar_capped_scores`).

    An ENDPOINT-capped variant (|cappedN(u) ∩ cappedN(v)| per edge) was
    measured and rejected: its O(E·cap) pre-join blowup made it SLOWER
    than the exact triangle enumeration at every probed scale ≥ x4
    (13.6 s vs 4.1 s at x4) — a scale path that loses to the exact path
    is no path. Center-capping keeps the whole family on one plan.
    """
    return (
        adamic_adar_capped_scores(
            copurchase_pairs(spark, sf_dir), ADAMIC_ADAR_NEIGHBOR_CAP
        )
        .select("src", "dst", F.col("n_common").cast("bigint").alias(
            "n_common"
        ))
        .orderBy(F.desc("n_common"), F.asc("src"), F.asc("dst"))
        .limit(20)
    )


@register(
    "graph_degree_gini",
    oracle=f"""
    with {_PAIRS_SQL},
    ranked as (
      select deg, row_number() over (order by deg, id) as r from deg)
    select cast(count(*) as bigint) as n_vertices,
           cast(sum(deg) as bigint) as total_degree,
           {sql_round_div(
               '(2 * sum(cast(r as hugeint) * deg)'
               ' - (count(*) + 1) * sum(cast(deg as hugeint)))',
               'count(*) * sum(cast(deg as hugeint))', 4)} as gini
    from ranked
    """,
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the co-purchase degree distribution — the
    one-number hub-concentration diagnostic (0 = every part co-purchased
    equally, →1 = a few hub parts dominate) that decides whether skew
    mitigation (salting, hub side-channels) is worth wiring into the
    downstream graph jobs.

    Gini needs every vertex's GLOBAL rank under (deg, id) — the classic
    single-task global sort — so the rank routes through
    ``plans.scan.chunked_global_rank`` with an (exact-degree, id-block)
    chunk key: degrees are tie-heavy (power law), and the id sub-chunk
    splits the giant low-degree tie classes the same way the RFM
    frequency chunk does. Rank·degree products sum as decimal(38,0)
    (exact, order-independent) before the one-row Gini arithmetic.
    """
    from ..plans.scan import chunked_global_rank

    pairs = copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    ranked = chunked_global_rank(
        deg,
        [F.asc("deg"), F.asc("id")],
        F.struct(
            F.col("deg").alias("d"),
            F.floor(F.col("id") / 4096).alias("blk"),
        ),
        out_col="r",
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return ranked.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum("deg").alias("total_degree"),
        # Gini = 2*Sum(r*deg)/(n*D) - (n+1)/n folded to the single
        # integer ratio (2*S - (n+1)*D)/(n*D) — exact half-up, can be
        # negative only on degenerate inputs (sign handled)
        round_div(
            F.lit(2) * F.sum(d38("r") * d38("deg"))
            - (F.count(F.lit(1)) + F.lit(1))
            * F.sum(d38("deg")),
            F.count(F.lit(1)) * F.sum(d38("deg")),
            4,
        ).alias("gini"),
    )


@register(
    "graph_clustering_coeff",
    oracle=f"""
    with {_PAIRS_SQL},
    tri as (
      select e1.src as a, e1.dst as b, e2.dst as c
      from pairs e1
      join pairs e2 on e2.src = e1.dst
      join pairs e3 on e3.src = e1.src and e3.dst = e2.dst),
    pertri as (
      select unnest([a, b, c]) as id from tri),
    tv as (select id, count(*) as t from pertri group by id),
    local as (
      select deg.id, deg.deg, coalesce(tv.t, 0) as t
      from deg left join tv on tv.id = deg.id)
    select cast((select count(*) from tri) as bigint) as n_triangles,
           cast(sum(deg * (deg - 1) / 2) as bigint) as n_wedges,
           case when sum(deg * (deg - 1)) = 0 then 0.0
                else {sql_round_div('6 * (select count(*) from tri)',
                                    'sum(deg * (deg - 1))', 6)} end
             as global_cc,
           case when sum(case when deg >= 2 then 1 else 0 end) = 0
                then 0.0
                else {sql_round_div(
                    "sum(case when deg >= 2 then cast("
                    + sql_round_div('2 * t', 'deg * (deg - 1)', 9)
                    + " as decimal(18,9)) else cast(0 as decimal(18,9))"
                    " end)",
                    'sum(case when deg >= 2 then 1 else 0 end)', 6, 9)} end
             as avg_local_cc
    from local
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global and average-local clustering coefficients of the co-purchase
    graph — the transitivity statistics (Watts-Strogatz) a graph-shape
    audit reports next to the degree histogram.

    Global CC = 3 * triangles / wedges, where the wedge count is the
    integer rollup sum(C(deg, 2)) over the tracked vertex-degree table.
    The per-vertex triangle participation reuses the degree-oriented
    intersection (sqrt-bounded adjacency arrays, shared tracked cache with
    graph_triangle_count): each enumerated triangle instance credits its
    THREE vertices through one explode + groupBy — the shuffled rollup is
    O(#triangles), never the wedge join's sum(deg^2). Local coefficients
    quantize to 9 dp and sum as decimal(18,9) so the 100 TB mean is
    partition-order-independent; everything else is integer until the two
    final divides.
    """
    pairs = copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    return clustering_from_pairs(pairs, deg)


def clustering_from_pairs(pairs: DataFrame, deg: DataFrame) -> DataFrame:
    """1-row (n_triangles, n_wedges, global_cc, avg_local_cc) for an
    undirected graph given (src < dst) pairs and per-vertex degrees — the
    shared core of graph_clustering_coeff and the randomized property
    test (tests/test_property.py pits it against brute-force triple
    enumeration + per-vertex division)."""
    inst = triangle_instances(pairs, deg)
    tri_per_vertex = (
        inst.select(
            F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    local = deg.join(tri_per_vertex, "id", "left").select(
        "deg", F.coalesce(F.col("t"), F.lit(0)).alias("t")
    )
    local_cc9 = F.when(
        F.col("deg") >= 2,
        # all-integer half-up (exactmath r16): 2t/(deg(deg-1)) is a
        # rational whose 9-dp double round can tie engine-divergently.
        # r16 optimization round: guarded long fast path — per-vertex
        # rows with t, deg(deg-1) under the 2^50/10^9 bound (every
        # realistic vertex) take the long codegen path; a hub whose
        # wedge count outgrows it falls back to the decimal algebra
        # per row instead of raising
        round_div_long_or_dec(
            F.col("t") * 2, F.col("deg") * (F.col("deg") - 1), 9
        ).cast("decimal(18,9)"),
    ).otherwise(F.lit(0).cast("decimal(18,9)"))
    # wedge-free graphs (every degree <= 1) define both coefficients as
    # 0.0 — the guards keep the operator total (found by the randomized
    # property test; unreachable on the fixture but not on real data)
    # integer doubled-wedge sum: deg*(deg-1) is even, so /2 is exact —
    # but keeping the rollup integral lets the cc quotients round via the
    # all-integer half-up instead of a double division
    n_wedges2 = F.sum(F.col("deg") * (F.col("deg") - 1))
    n_eligible = F.sum((F.col("deg") >= 2).cast("int"))
    # edgeless corpus: `local` is empty, so sum("t") is NULL while the
    # oracle's scalar-subquery count(*) reports 0 — coalesce to match
    # (ADVICE r13; same rule as triangle_count_from_pairs)
    return local.agg(
        (F.coalesce(F.sum("t"), F.lit(0)) / 3)
        .cast("bigint")
        .alias("n_triangles"),
        (n_wedges2.cast("decimal(38,0)") / 2)
        .cast("bigint")
        .alias("n_wedges"),
        F.when(n_wedges2 == 0, F.lit(0.0))
        .otherwise(round_div(F.sum("t") * 2, n_wedges2, 6))
        .alias("global_cc"),
        F.when(n_eligible == 0, F.lit(0.0))
        .otherwise(round_div(F.sum(local_cc9), n_eligible, 6, 9))
        .alias("avg_local_cc"),
    )


@register(
    "graph_clustering_coeff_capped",
    oracle=f"""
    with {_PAIRS_SQL},
    capped as (
      select src, dst from (
        select src, dst,
               row_number() over (partition by src order by dst) as rn
        from edges) t
      where rn <= {ADAMIC_ADAR_NEIGHBOR_CAP}),
    wedge as (
      select a.src as w, a.dst as u, b.dst as v
      from capped a join capped b on a.src = b.src and a.dst < b.dst),
    closedw as (
      select wg.w, count(*) as t
      from wedge wg
      join pairs p on p.src = wg.u and p.dst = wg.v
      group by wg.w),
    local as (
      select least(d.deg, {ADAMIC_ADAR_NEIGHBOR_CAP}) as cd,
             coalesce(c.t, 0) as t
      from deg d left join closedw c on c.w = d.id)
    select cast(coalesce(sum(t), 0) as bigint) as n_closed_wedges,
           cast(sum(cd * (cd - 1) / 2) as bigint) as n_wedges,
           case when sum(cd * (cd - 1)) = 0 then 0.0
                else {sql_round_div('2 * sum(t)',
                                    'sum(cd * (cd - 1))', 6)} end
             as global_cc,
           case when sum(case when cd >= 2 then 1 else 0 end) = 0
                then 0.0
                else {sql_round_div(
                    "sum(case when cd >= 2 then cast("
                    + sql_round_div('2 * t', 'cd * (cd - 1)', 9)
                    + " as decimal(18,9)) else cast(0 as decimal(18,9))"
                    " end)",
                    'sum(case when cd >= 2 then 1 else 0 end)', 6, 9)} end
             as avg_local_cc
    from local
    """,
)
def graph_clustering_coeff_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree-capped clustering coefficients — the documented 100 TB
    scale path for the transitivity audit (VERDICT r13 #3: exact
    graph_clustering_coeff rides the triangle family's x16 alpha 0.73,
    the steepest probed number; this twin bounds per-center wedge work
    at C(ADAMIC_ADAR_NEIGHBOR_CAP, 2) = C(16, 2), O(V·cap²) total,
    hub-immune).

    Wedges come from the SAME map-side capped-adjacency generator as the
    capped Adamic-Adar pair (shared :func:`capped_wedges`); a wedge
    (w; u, v) is closed iff (u, v) is an edge — one equi-join against the
    id-canonical pair table, O(closed wedges) rollup. Per-vertex capped
    wedge capacity is C(min(deg, cap), 2), so global CC = closed/capacity
    and the local coefficient is t_w / C(min(deg_w, cap), 2) — both exact
    over the truncated adjacency and a biased-low estimate of the exact
    coefficients through hub centers (the truncated-transitivity trade
    every production graph-shape audit makes at scale). Local
    coefficients quantize to 9 dp and sum as decimal(18,9); wedge-free
    graphs define both coefficients as 0.0 and the edgeless closed-wedge
    sum coalesces to 0 (the clustering_from_pairs / ADVICE r13 rule).
    """
    pairs = copurchase_pairs(spark, sf_dir)
    return clustering_capped_from_pairs(
        pairs, _degrees(pairs), ADAMIC_ADAR_NEIGHBOR_CAP
    )


def clustering_capped_from_pairs(
    pairs: DataFrame, deg: DataFrame, cap: int
) -> DataFrame:
    """1-row (n_closed_wedges, n_wedges, global_cc, avg_local_cc) over the
    ``cap``-lowest-id-neighbors adjacency — graph_clustering_coeff_capped's
    core, exposed so the randomized property test can pit it against a
    plain-Python truncated-adjacency reference (the
    adamic_adar_capped_scores testing pattern)."""
    closed = (
        capped_closed_wedges(pairs, cap)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    local = deg.join(
        closed, deg["id"] == closed["w"], "left"
    ).select(
        F.least(F.col("deg"), F.lit(cap)).alias("cd"),
        F.coalesce(F.col("t"), F.lit(0)).alias("t"),
    )
    local_cc9 = F.when(
        F.col("cd") >= 2,
        # same all-integer half-up as the uncapped variant; r16
        # optimization round: the cap bounds the operands BY CONSTRUCTION
        # (t <= C(cap,2) = 120, cd(cd-1) <= 240 at cap 16), so the long
        # fast path applies outright — no decimal ops, no fallback branch
        round_div_long(
            F.col("t") * 2, F.col("cd") * (F.col("cd") - 1), 9
        ).cast("decimal(18,9)"),
    ).otherwise(F.lit(0).cast("decimal(18,9)"))
    n_wedges2 = F.sum(F.col("cd") * (F.col("cd") - 1))
    n_eligible = F.sum((F.col("cd") >= 2).cast("int"))
    return local.agg(
        F.coalesce(F.sum("t"), F.lit(0))
        .cast("bigint")
        .alias("n_closed_wedges"),
        (n_wedges2.cast("decimal(38,0)") / 2)
        .cast("bigint")
        .alias("n_wedges"),
        F.when(n_wedges2 == 0, F.lit(0.0))
        .otherwise(round_div(F.sum("t") * 2, n_wedges2, 6))
        .alias("global_cc"),
        F.when(n_eligible == 0, F.lit(0.0))
        .otherwise(round_div(F.sum(local_cc9), n_eligible, 6, 9))
        .alias("avg_local_cc"),
    )


@register(
    "graph_modularity",
    oracle=f"""
    with recursive {_BACKBONE_LABELS_SQL},
    {_PAIRS_SQL},
    vlab as (
      select deg.id, deg.deg, coalesce(b.label, deg.id) as label
      from deg left join blabels b on b.id = deg.id),
    intra as (
      select count(*) as e_in
      from pairs p
      join vlab u on u.id = p.src
      join vlab v on v.id = p.dst
      where u.label = v.label),
    dsum as (
      select label, sum(deg) as d_c from vlab group by label),
    m as (select count(*) as m from pairs)
    select cast(m.m as bigint) as n_edges,
           cast((select count(*) from dsum) as bigint) as n_communities,
           {sql_round_div('intra.e_in', 'm.m', 6)} as intra_edge_frac,
           {sql_round_div(
               "4 * cast(intra.e_in as hugeint) * m.m"
               " - (select sum(cast(d_c as decimal(38,0)) * d_c)"
               "    from dsum)",
               '4 * cast(m.m as hugeint) * m.m', 6)} as modularity
    from m, intra
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the support-backbone component partition,
    measured against the FULL co-purchase graph — the partition-quality
    statistic that says whether the thresholded communities explain the
    raw co-occurrence structure (Q = e_in/m - sum_c (d_c/2m)^2; vertices
    outside the backbone count as singleton communities).

    Scale plan: reuses the two tracked family frames (edge rollup, degree
    table) plus the memoized backbone CC labels — the only new work is
    one label-equality join over the edge list and two label-sized
    rollups. The degree-product term accumulates as decimal(38,0)
    (sum of d_c^2 crosses bigint when a community's degree mass reaches
    ~3e9); everything else is integer until the two final divides.
    """
    pairs = copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    blab = backbone_cc_labels(spark, sf_dir)
    vlab = deg.join(
        blab.select("id", "label"), "id", "left"
    ).select(
        "id", "deg", F.coalesce(F.col("label"), F.col("id")).alias("label")
    )
    u = vlab.select(F.col("id").alias("src"), F.col("label").alias("lu"))
    v = vlab.select(F.col("id").alias("dst"), F.col("label").alias("lv"))
    intra = (
        pairs.join(u, "src")
        .join(v, "dst")
        .agg(
            F.sum(
                (F.col("lu") == F.col("lv")).cast("bigint")
            ).alias("e_in")
        )
    )
    dsum = vlab.groupBy("label").agg(F.sum("deg").alias("d_c"))
    dstat = dsum.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(
            F.col("d_c").cast("decimal(38,0)") * F.col("d_c")
        ).alias("dd"),
    )
    m = pairs.agg(F.count(F.lit(1)).alias("m"))
    return (
        intra.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(dstat))
        .select(
            F.col("m").cast("bigint").alias("n_edges"),
            F.col("n_communities").cast("bigint").alias("n_communities"),
            round_div(F.col("e_in"), F.col("m"), 6).alias(
                "intra_edge_frac"
            ),
            # Q = e_in/m - dd/(4m^2) folded to the single integer ratio
            # (4*e_in*m - dd)/(4*m^2): exact half-up, may be negative
            # (decimal path; 4m^2*10^6 approaches the ~10^32 round_div
            # ceiling only past ~10^12 edges)
            round_div(
                F.lit(4) * F.col("e_in").cast("decimal(38,0)") * F.col("m")
                - F.col("dd"),
                F.lit(4) * F.col("m").cast("decimal(38,0)") * F.col("m"),
                6,
            ).alias("modularity"),
        )
    )


#: synchronous label-propagation rounds — mirrored exactly in the
#: unrolled oracle.
LPA_ROUNDS = 4


def _lpa_oracle(rounds: int = LPA_ROUNDS) -> str:
    steps = []
    for i in range(1, rounds + 1):
        prev = f"l{i - 1}"
        # MATERIALIZED is load-bearing (the kcore/pagerank-oracle rule):
        # each round reads its predecessor twice (count rollup + argmax
        # join), so default inlining re-expands the chain exponentially.
        steps.append(
            f"""
    c{i} as materialized (
      select e.src as id, l.lbl, count(*) as c
      from bedges e join {prev} l on l.id = e.dst
      group by e.src, l.lbl),
    l{i} as materialized (
      select c.id, min(c.lbl) as lbl
      from c{i} c
      join (select id, max(c) as mc from c{i} group by id) m
        on m.id = c.id and c.c = m.mc
      group by c.id)"""
        )
    chain = ",".join(steps)
    return f"""
    with {_BACKBONE_SQL},
    l0 as materialized (
      select distinct src as id, src as lbl from bedges),
    {chain},
    sizes as (
      select lbl, count(*) as size from l{rounds} group by lbl)
    select cast(lbl as bigint) as community,
           cast(size as bigint) as size
    from sizes
    order by size desc, community
    limit 20
    """


def lpa_labels(edges: DataFrame, rounds: int) -> DataFrame:
    """(id, lbl) after ``rounds`` synchronous label-propagation rounds
    over a SYMMETRIC (src, dst) edge frame: init lbl = id, each round
    every vertex adopts its neighbors' most frequent label with ties to
    the smallest label (max_by over a (count, -label) struct — the exact
    deterministic rule the oracle's max-count/min-label join pair
    mirrors). Exposed so the randomized property test can pit the
    unrolled declarative plan against a plain-Python reference (the
    kcore_peel testing pattern)."""
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )
    for _ in range(rounds):
        counts = (
            edges.join(
                labels.select(F.col("id").alias("dst"), "lbl"), "dst"
            )
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.groupBy("src")
            .agg(
                F.max_by(
                    "lbl", F.struct(F.col("c"), (-F.col("lbl")).alias("t"))
                ).alias("lbl")
            )
            .select(F.col("src").alias("id"), "lbl")
        )
    return labels


def _lpa_labels_local(edges: "list[tuple[int, int]]", rounds: int) -> dict:
    """Plain-Python synchronous LPA on a driver-small SYMMETRIC edge list —
    bit-identical rule to :func:`lpa_labels` (init lbl = id; each round
    every vertex adopts the (max count, min label) argmax over its
    neighbors' previous labels). The local tail of the distributed plan,
    exactly the _kcore_peel_local pattern."""
    adj: dict[int, list[int]] = {}
    for s_, d_ in edges:
        adj.setdefault(s_, []).append(d_)
    labels = {v: v for v in adj}
    for _ in range(rounds):
        new_labels = {}
        for v, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for n in nbrs:
                lb = labels[n]
                cnt[lb] = cnt.get(lb, 0) + 1
            new_labels[v] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = new_labels
    return labels


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 communities of the co-purchase backbone after
    LPA_ROUNDS (4) synchronous label-propagation rounds (Raghavan et al.
    2007): every vertex starts as its own label and each round adopts the
    most frequent label among its neighbors (ties → smallest label) —
    the near-linear community detector that needs no modularity
    optimization, complementing the exact-partition pair
    (graph_components finds connectivity, LPA finds density structure
    WITHIN components, graph_modularity scores a partition).

    Deterministic by construction: synchronous rounds + the
    (max count, min label) argmax rule make every round's labeling a
    pure function of the previous one, so both engines agree exactly
    (the oracle's per-round max-count join IS the same rule).

    Scale plan: the LPA_ROUNDS (4) rounds unroll into ONE declarative plan
    (the graph_bfs_hops pattern — no driver loop): per round, one O(E)
    equi-join sends labels along edges, one (vertex × incident-label)
    rollup counts them, and one max_by argmax collapses to the
    vertex-sized label frame — the standard Pregel LPA message shape,
    with the tracked symmetric backbone shared across rounds (and with
    graph_components' CC build) instead of re-deriving the O(|lineitem|)
    pair rollup per round.
    """
    from collections import Counter

    sym = _backbone_sym(spark, sf_dir)
    # Local tail (cache.local_rows): at sf0.1 the 4 unrolled rounds are ~12
    # exchanges of pure stage latency over a 7k-edge backbone. A
    # driver-small backbone runs the synchronous rounds in memory
    # (bit-identical rule, pinned against lpa_labels in the tests); its
    # labels are memoized per (session, corpus, rounds) like the backbone
    # CC labels, and the top-20 rollup is derived per run. Larger graphs
    # take the distributed plan (memo value None).
    n_sym = session_memo(spark, "n_backbone_sym_edges", sf_dir, sym.count)

    def local_labels():
        rows = local_rows(sym, n_sym)
        return None if rows is None else _lpa_labels_local(rows, LPA_ROUNDS)

    lab = session_memo(spark, f"lpa_labels:{LPA_ROUNDS}", sf_dir, local_labels)
    if lab is not None:
        sizes_c = Counter(lab.values())
        top = sorted(sizes_c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        return local_frame(spark, top, "community bigint, size bigint")
    edges = track(sym)
    labels = lpa_labels(edges, LPA_ROUNDS)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.select(
            F.col("lbl").cast("bigint").alias("community"),
            F.col("size").cast("bigint").alias("size"),
        )
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(20)
    )
