"""Iterative graph analytics on DataFrames: fixed-point PageRank.

Companion to ``operators.dedup.connected_components`` (the other iterative
operator): where CC propagates min-labels to convergence, PageRank runs a
FIXED number of damped power-iteration rounds — the shape of any
importance/centrality score over an entity graph extracted from relational
data (here: the customer<->supplier trade graph implied by orders x
lineitem).

Determinism across engines is the hard part: textbook PageRank sums floats,
and float sums are partitioning-order-dependent.  This implementation is
exact integer arithmetic end to end:

  * ranks are fixed-point integers at SCALE = 10^12 (total mass ~= SCALE);
  * a node's per-edge contribution is ``rank DIV outdeg`` (integer floor
    division — identical in Spark's DIV and DuckDB's //);
  * damping 0.85 is applied as ``(85 * s) DIV 100`` — integer, exact;
  * sums of contributions are int64 (bounded by total mass ~1e12, and
    85 * 1e12 << 2^63), and integer addition is associative — the result is
    bit-identical on ANY partitioning and any engine.

Floor division leaks a little mass per round (< outdeg + 1 units of 1e-12
per node) — irrelevant for ranking and a price worth paying for a
cross-engine-hashable iterative algorithm.

Scale shape per round: one join (edges x ranks on src) + one aggregate
by dst — the minimum for message passing.  The edge list is
hash-partitioned once and reused; the rounds unroll into one plan, cut by
a lazy checkpoint every ``PR_CHECKPOINT_EVERY`` rounds and at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from .caching import materialized

PR_SCALE = 1_000_000_000_000  # 10^12 fixed-point units of rank mass


#: Rounds between lineage cuts in :func:`pagerank_fixed_point`.  The rounds
#: unroll into one plan that grows by one join and one aggregate per round;
#: a lazy checkpoint every this many rounds keeps that plan's depth bounded
#: for long loops, and costs the round loop one driver-paced pass over the
#: stages planned so far.
PR_CHECKPOINT_EVERY = 8


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Damped PageRank over a directed edge list, ``iterations`` rounds of
    exact fixed-point arithmetic.  Every node must have outdegree >= 1
    (callers with dangling nodes should symmetrize or add self-loops —
    the trade-graph caller symmetrizes).  Returns ``node, rank_fp`` with
    rank_fp in units of 1/PR_SCALE, for nodes with outdegree >= 1 only.
    """
    # The edge list carries everything a round needs besides the ranks:
    # the source's outdegree and the node count, computed once and
    # localCheckpointed once.  It is hash-partitioned on the message key
    # BEFORE the checkpoint: the checkpoint preserves outputPartitioning,
    # so a round's join moves only the rank table — the edges (the big
    # side, |E| >> |V|) never re-shuffle.
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).repartition(
        F.col("src")
    )
    deg = e0.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # metadata-scale broadcast: one row (node count) rides to every task
    n_nodes = deg.agg(F.count(F.lit(1)).alias("__n"))
    # an edge into a node without out-edges carries rank mass nowhere:
    # dropping it (after outdeg counted it) keeps such nodes out of every
    # round, so the result needs no final filter
    e = (
        e0.join(deg.select(F.col("src").alias("dst")), "dst", "left_semi")
        .join(deg, "src")
        .crossJoin(F.broadcast(n_nodes))
        .localCheckpoint()
    )
    base = F.expr(
        f"CAST({100 - damping_pct} AS BIGINT) * (CAST({PR_SCALE} AS BIGINT) DIV __n) DIV 100"
    )
    # Each round references ``ranks`` once (the message join), so the
    # rounds unroll into a plan that grows linearly; the round loop makes
    # no driver decision, so nothing materializes until the final
    # checkpoint.  Under AQE even a lazy localCheckpoint runs every
    # shuffle-map stage of its plan when it is called (only the final
    # stage waits for the consumer), so a checkpoint per round cost ~6
    # driver-paced jobs per round; the unrolled rounds run ~1.
    # Round 1 needs no join: every source starts at PR_SCALE DIV __n.
    msgs = e.select(
        F.col("dst").alias("node"),
        F.expr(f"CAST({PR_SCALE} AS BIGINT) DIV __n DIV outdeg").alias("contrib"),
        "__n",
    )
    for i in range(iterations):
        if i:
            msgs = e.join(ranks, e["src"] == ranks["node"]).select(
                F.col("dst").alias("node"),
                F.expr("rank_fp DIV outdeg").alias("contrib"),
                "__n",
            )
        # a node that receives no message holds no rank, as in the
        # reference iteration's inner join
        ranks = (
            msgs.groupBy("node")
            .agg(F.sum("contrib").alias("__s"), F.max("__n").alias("__n"))
            .select(
                "node",
                (base + F.expr(f"CAST({damping_pct} AS BIGINT) * __s DIV 100")).alias(
                    "rank_fp"
                ),
            )
        )
        if (i + 1) % PR_CHECKPOINT_EVERY == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    if iterations < 1:
        ranks = deg.crossJoin(F.broadcast(n_nodes)).select(
            F.col("src").alias("node"),
            F.expr(f"CAST({PR_SCALE} AS BIGINT) DIV __n").alias("rank_fp"),
        )
    return ranks.localCheckpoint(eager=False)


def pagerank_sql(
    edges_cte: str, iterations: int = 3, damping_pct: int = 85
) -> str:
    """The identical fixed-point iteration, unrolled as DuckDB CTEs.
    ``edges_cte`` must define relation ``e(src, dst)``."""
    steps = [
        f"""deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
n AS (SELECT count(*) AS nn FROM deg),
r0 AS (SELECT src AS node, outdeg,
              CAST({PR_SCALE} AS BIGINT) // nn AS rank_fp, nn
       FROM deg, n)"""
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""r{i} AS (
  SELECT d.src AS node, d.outdeg,
         CAST({100 - damping_pct} AS BIGINT) * (CAST({PR_SCALE} AS BIGINT) // s.nn) // 100
           + CAST({damping_pct} AS BIGINT) * s.s // 100 AS rank_fp,
         s.nn
  FROM deg d JOIN (
    SELECT e.dst AS node, sum(r.rank_fp // r.outdeg) AS s, max(r.nn) AS nn
    FROM e JOIN {prev} r ON e.src = r.node
    GROUP BY e.dst
  ) s ON d.src = s.node)"""
        )
        prev = f"r{i}"
    return (
        f"WITH {edges_cte},\n"
        + ",\n".join(steps)
        + f"\nSELECT node, CAST(rank_fp AS BIGINT) AS rank_fp FROM {prev}"
    )


# ---------------------------------------------------------------------------
# Triangle counting / local clustering.


def cooccurrence_edges(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Undirected co-occurrence edge list: distinct item pairs sharing a
    group, canonicalized ``u < v``.  One self-join on the group key (items
    within a group pair up task-locally after the shuffle) + a distinct.
    """
    s = df.select(
        F.col(group_col).alias("__g"), F.col(item_col).alias("u")
    ).distinct()
    t = s.select(F.col("__g"), F.col("u").alias("v"))
    return (
        s.join(t, on="__g")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def orient_by_degree(edges: DataFrame, degree: DataFrame) -> DataFrame:
    """Compact-forward orientation: direct each undirected edge (u,v)
    toward the endpoint that is LARGER under the total order (degree,
    node id) — ``s`` is the smaller endpoint, ``t`` the larger.  Any total
    order makes the wedge join enumerate each triangle exactly once; this
    particular one bounds every node's out-degree by O(sqrt(E)) (a node
    with out-degree d has d neighbors of degree >= its own, so
    d^2 <= sum of degrees = 2E), which caps the (a,b) ⋈ (b,c) fan-out at
    O(E^1.5) total wedge work — id-order lets a mid-id power-law hub fan
    out by its full degree instead.

    Two hash joins attach endpoint degrees; both run on node keys, the
    same partitioning the wedge joins use.  ``degree`` is (node, degree).
    """
    du = degree.select(F.col("node").alias("u"), F.col("degree").alias("__du"))
    dv = degree.select(F.col("node").alias("v"), F.col("degree").alias("__dv"))
    ed = edges.join(du, on="u").join(dv, on="v")
    u_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    return ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation + degree over an undirected edge
    list (canonical ``u < v`` rows): the local clustering census.

    Counting uses DEGREE-ordered orientation (``orient_by_degree``): each
    edge is directed toward its higher-(degree, id) endpoint, then each
    oriented edge (a,b) is closed at every c in N+(a) ∩ N+(b) via sorted
    adjacency arrays (edge-iterator), and each triangle credits all three
    corners.  The orientation bounds total intersection work at O(E^1.5)
    regardless of id assignment — the power-law-safe compact-forward plan
    (a hub's edges all point AT it, so the hub holds no out-adjacency to
    fan out).  Output is identical to any other total order; only the
    enumeration cost changes.

    Returns (node, degree, n_triangles) with n_triangles = 0 for
    triangle-free nodes.
    """
    # the edge list feeds the degree census + the orientation join —
    # materialized so the upstream that built it runs once (released with
    # the query; entries are (u,v) pairs, not the corpus)
    edges = materialized(edges)
    degree = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # oriented list feeds the adjacency build + both edge roles;
    # materialized so the orientation joins run once
    oriented = materialized(orient_by_degree(edges, degree))
    # Edge-iterator with sorted adjacency instead of the wedge 3-way join:
    # (a,b) closes a triangle at every c in N+(a) ∩ N+(b).  The wedge join
    # (a,b) ⋈ (b,c) ⋈ (a,c) pushes every wedge ROW through two shuffles;
    # attaching each endpoint's out-neighbor array and intersecting
    # in-task moves the same O(E^1.5)-bounded volume as array payloads
    # through ONE join pair and replaces the closing shuffle join with a
    # codegen array intersect.  Orientation bounds out-degrees at
    # O(sqrt(E)), so no adjacency array is hub-sized.  Measured 25-30%
    # faster at sf0.1 with identical output (OPTIMIZATION_r13.md).
    adj = oriented.groupBy("s").agg(
        F.array_sort(F.collect_list("t")).alias("nbrs")
    )
    a1 = adj.select(F.col("s").alias("a"), F.col("nbrs").alias("na"))
    a2 = adj.select(F.col("s").alias("b"), F.col("nbrs").alias("nb"))
    tri = (
        oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
        .join(a1, "a")
        .join(a2, "b")
        .select(
            "a", "b", F.explode(F.array_intersect("na", "nb")).alias("c")
        )
    )
    # each triangle credits its three corners: ONE pass over the wedge
    # join via explode (a 3-way unionAll would execute it three times)
    corners = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return degree.join(corners, on="node", how="left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )


def triangle_stats_sql(
    table: str = "lineitem",
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> str:
    """Oracle twin: identical definitional joins in SQL."""
    return f"""
WITH s AS (SELECT DISTINCT {group_col} AS g, {item_col} AS u FROM {table}),
e AS (
  SELECT a.u AS u, b.u AS v
  FROM s a JOIN s b ON a.g = b.g AND a.u < b.u
  GROUP BY 1, 2
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) all_corners GROUP BY node
),
degree AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) ends GROUP BY node
)
SELECT d.node, d.degree,
       CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles
FROM degree d LEFT JOIN corners c ON c.node = d.node
"""


def common_neighbor_links(
    edges: DataFrame, k: int = 20, max_degree: int | None = None
) -> DataFrame:
    """Link prediction by common-neighbor count: the top-``k`` NON-edges
    (a, c) ranked by how many neighbors they share — the classic
    recommender/graph-completion primitive (people-you-may-know,
    also-bought).  Input is the canonical undirected edge list (u < v);
    output (node_a, node_b, n_common) with node_a < node_b, ordered
    (n_common desc, node_a, node_b), existing edges excluded.

    Scale shape: wedges centered at node b number C(deg(b), 2) — that is
    the size of the ANSWER, not an artifact, so no orientation trick can
    shrink it (unlike triangles).  The wedge self-join runs on the
    symmetrized adjacency (one explode pass, one shuffle on the middle
    key); the candidate census + edge anti-join share the pair
    partitioning; top-k is TakeOrdered.  For power-law graphs pass
    ``max_degree`` to drop super-hub middles — the standard documented
    approximation (a hub shared by everyone carries no ranking signal
    and quadratic cost); default None is exact, and the fixture query
    runs exact.
    """
    # the edge list feeds two plan legs (adjacency explode + the
    # existing-edge anti-join) — materialized so the upstream builds once
    edges = materialized(edges)
    nbrs = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("b"), F.col("v").alias("n")),
                F.struct(F.col("v").alias("b"), F.col("u").alias("n")),
            )
        ).alias("e")
    ).select("e.b", "e.n")
    if max_degree is not None:
        deg = nbrs.groupBy("b").agg(F.count(F.lit(1)).alias("__deg"))
        nbrs = nbrs.join(
            deg.where(F.col("__deg") <= max_degree).select("b"), "b"
        )
    n1 = nbrs.select("b", F.col("n").alias("node_a"))
    n2 = nbrs.select("b", F.col("n").alias("node_b"))
    wedges = n1.join(n2, "b").where(F.col("node_a") < F.col("node_b"))
    cand = wedges.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    non_edges = cand.join(
        edges,
        (cand.node_a == edges.u) & (cand.node_b == edges.v),
        "left_anti",
    )
    return non_edges.orderBy(
        F.desc("n_common"), "node_a", "node_b"
    ).limit(k)


def common_neighbor_links_sql(
    edges_cte: str, k: int = 20, max_degree: int | None = None
) -> str:
    """Oracle twin over a CTE body ``e`` yielding canonical (u, v).
    ``max_degree`` mirrors the Spark-side hub cap IN SQL (VERDICT r04 ask
    #6): middles with symmetrized degree above the cap contribute no
    wedges — the oracle value-gates the path actually run on power-law
    graphs, not just the exact one."""
    cap = (
        f""",
deg AS (SELECT b, count(*) AS d FROM nbrs GROUP BY 1),
kept AS (
  SELECT n.b, n.n FROM nbrs n JOIN deg ON deg.b = n.b
  WHERE deg.d <= {max_degree}
)"""
        if max_degree is not None
        else ""
    )
    wedge_src = "kept" if max_degree is not None else "nbrs"
    return f"""
WITH {edges_cte},
nbrs AS (
  SELECT u AS b, v AS n FROM e
  UNION ALL
  SELECT v AS b, u AS n FROM e
){cap},
cand AS (
  SELECT n1.n AS node_a, n2.n AS node_b, count(*) AS n_common
  FROM {wedge_src} n1 JOIN {wedge_src} n2 ON n1.b = n2.b AND n1.n < n2.n
  GROUP BY 1, 2
)
SELECT node_a, node_b, n_common
FROM cand c
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.node_a AND e.v = c.node_b)
ORDER BY n_common DESC, node_a, node_b
LIMIT {k}
"""


def label_propagation_fixed_rounds(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "a",
    dst: str = "b",
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for a FIXED
    number of rounds over an undirected graph given as a symmetrized
    edge list: every node starts labeled with its own id; each round,
    every node simultaneously takes the most frequent label among its
    neighbors' PREVIOUS-round labels, ties broken by smallest label;
    nodes with no edges keep their label.  Fixing the round count and
    the tie order makes the whole algorithm deterministic — communities
    are oracle-checkable as unrolled CTEs, the same property the
    repo's CC / PageRank iterations are built on.

    Iterative-lineage discipline (same as connected_components /
    pagerank_fixed_point): the edge list is hash-partitioned on the
    label-lookup key and localCheckpoint-ed once, labels re-checkpoint
    each round — every round's plan is one join + one count aggregate +
    one window over materialized blocks, and only the label table (|V|
    rows) moves.  Returns ``(node, lab)``.
    """
    from pyspark.sql import Window

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .repartition(F.col("b"))
        .localCheckpoint()
    )
    # lazy round checkpoints: fixed round count, no per-round driver
    # decision — same rationale and evidence as pagerank_fixed_point
    labels = (
        nodes.select(F.col(node_col).alias("node"))
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("a").orderBy(
        F.col("cnt").desc(), F.col("lab").asc()
    )
    for _ in range(rounds):
        d = (
            e.join(labels, e["b"] == labels["node"])
            .groupBy("a", "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        win = (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("a").alias("node"), F.col("lab").alias("new_lab"))
        )
        labels = (
            labels.join(win, "node", "left")
            .select("node", F.coalesce("new_lab", "lab").alias("lab"))
            .localCheckpoint(eager=False)
        )
    return labels
