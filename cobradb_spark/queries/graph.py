"""Graph analytics over relational data: PageRank and triangle/clustering
statistics on the co-purchase graph (parts co-occurring in an order).

The reference links entities through join tables (reaction_matrix,
gene_reaction_matrix — cobradb/models.py [P]); graph measures over those
link tables (hub metabolites, clustering of reactions) are the natural
read-side analytics, and a training-data pipeline needs the same shapes
for link-graph dedup quality and popularity weighting.

Scale notes:
- The edge list is built ONCE from a distinct projection of the fact
  table; every PageRank iteration joins edges against the |V|-row rank
  vector, so the (huge) edge set is NEVER re-shuffled.  The rank-vector
  join is size-gated (_gated): broadcast while |V| fits the shared
  512 MiB budget, and past it the edge list persists pre-partitioned by
  src once and each iteration shuffle-joins only the rank vector — the
  same gate pattern as operators/knn.py, so vertex growth degrades to
  an extra |V|-row shuffle instead of a driver/executor broadcast OOM.
- Triangle counting uses degree orientation (each undirected edge
  pointed from its lower-degree endpoint): wedge enumeration from the
  oriented list is O(sum outdeg^2) with outdeg bounded by sqrt(2|E|),
  the classic mitigation for skewed degree distributions at scale.
- Floating-point cross-engine parity: per-iteration ranks are rounded
  to 12 decimals on BOTH engines, which absorbs addition-order drift
  (~1e-18 relative) and re-synchronizes the iterates bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobradb_spark.io import load_table
from cobradb_spark.operators.knn import BROADCAST_BYTES_LIMIT
from cobradb_spark.registry import register

_DAMP = 0.85
_TELEPORT = 0.15
_ITERS = 3

# Conservative serialized bytes per row of a broadcast vertex frame
# (long key + 1-2 numeric columns + hash-relation overhead).  With the
# shared 512 MiB budget this gates the broadcast path at ~8M vertices —
# past that the rank/degree vectors shuffle-join instead (r4 verdict:
# an UNGATED O(|V|) broadcast is a driver-OOM cliff at 100x growth).
_VERTEX_ROW_BYTES = 64


def _vertex_budget_rows(limit_bytes: int | None = None) -> int:
    return (BROADCAST_BYTES_LIMIT if limit_bytes is None else limit_bytes) // _VERTEX_ROW_BYTES


def _vertex_count_bound(spark: SparkSession, sf_dir: str) -> int:
    """Upper bound on |V| of the co-purchase graph: the part table's row
    count.  Vertices are part keys, so |part| >= |V|; a plain count on
    parquet answers from footer row-group statistics without scanning
    data (~50 ms vs ~0.4 s for a distinct over the fact table), and an
    over-count only errs toward the (safe) shuffle path."""
    return load_table(spark, sf_dir, "part").count()


def _gated(df: DataFrame, fits: bool) -> DataFrame:
    """Broadcast a vertex-scale frame only while it fits the budget;
    above the gate, return it untouched so Catalyst plans a shuffle
    join on the key — same rows, no driver collect."""
    return F.broadcast(df) if fits else df

_EDGE_SQL = """
lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
edges AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
          FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk <> b.pk)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-symmetric edge list: distinct part pairs sharing an order.

    Built join-free: lineitem's (order, part) pairs group into a sorted
    per-order part set (one partial+final aggregation; collect_set
    dedups within the order, and sets are tiny — at most the order's
    line count), i<j pairs explode from the set, and the symmetric
    closure unions the swap before the final distinct.  2 exchanges
    instead of the 3 the distinct+self-join formulation paid, and no
    join probe — measured 2.0 s vs 3.0 s warm / 3.8 s vs 7.9 s cold at
    sf0.1 (r14), identical 2 392 000-row output.  Per-order sets stay
    bounded at any corpus scale (an order has a handful of lines), so
    the explode never concentrates into hub tasks the way per-NODE
    neighbor sets can."""
    grouped = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
    )
    half = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ps, (x, i) -> "
                        "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS s, y AS d)))"
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.s").alias("src"), F.col("p.d").alias("dst"))
        # dedup BEFORE the symmetric union: the i<j half and its swap are
        # disjoint (i<j is strict), so distinct-ing the half then unioning
        # shuffles half the bytes the old union-then-distinct paid
        .distinct()
    )
    return half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _strong_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered strong part pairs (p1 < p2 sharing >= _CC_MIN_SUPPORT
    orders) — the `strong` CTE shared by the components / label-prop /
    k-core / assortativity ops.

    Built join-free like _copurchase_edges: one partial+final
    aggregation groups lineitem into sorted per-order part sets
    (collect_set dedups within the order, exactly like the old
    distinct() pre-pass), i<j pairs stream from a two-step lateral
    explode, and support counts partial-aggregate map-side.  2
    exchanges instead of the distinct+self-join's 3; identical
    3 573-pair output at sf0.1 (r14 A/B)."""
    grouped = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
    )
    anchored = grouped.select("ps", F.posexplode("ps").alias("i", "p1"))
    pairs = anchored.select(
        "p1", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("p2")
    )
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= _CC_MIN_SUPPORT)
        .select("p1", "p2")
    )


def _strong_edges_both_dirs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-symmetric strong edge list (part pairs sharing >=
    _CC_MIN_SUPPORT orders) — the _CC_EDGE_SQL `edges` CTE in DataFrame
    form, shared by the components/assortativity ops."""
    strong = _strong_pairs(spark, sf_dir)
    return strong.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).union(
        strong.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )


def _pagerank_iter_sql() -> str:
    """Unrolled per-iteration CTEs mirroring the Spark loop exactly."""
    parts = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        parts.append(
            f"""
c{i} AS (SELECT e.dst AS node, sum(r.pr / r.outdeg) AS c
        FROM edges e JOIN {prev} r ON e.src = r.node GROUP BY e.dst),
r{i} AS (SELECT d.node, d.outdeg, round({_TELEPORT} / n.n + {_DAMP} * c.c, 12) AS pr
        FROM deg d JOIN c{i} c USING (node), n)"""
        )
        prev = f"r{i}"
    return ",".join(parts)


@register(
    "graph_pagerank",
    oracle=f"""
WITH {_EDGE_SQL},
deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT node, outdeg, 1.0 / n.n AS pr FROM deg, n),
{_pagerank_iter_sql()}
SELECT node AS part_id, pr AS pagerank FROM r{_ITERS}
""",
    doc=f"PageRank (damping {_DAMP}, {_ITERS} iterations) over the co-purchase "
    "graph. The graph is symmetric, so every node has out-edges (no dangling "
    "mass) and total rank stays 1. Each iteration: join the |V|-row rank "
    "vector into the edge list, partial-agg the contributions by dst, blend "
    "with the teleport term. The rank-vector join is SIZE-GATED: broadcast "
    "while |V| fits the 512 MiB budget (~8M vertices); above it the edge "
    "list persists pre-partitioned by src once and each iteration "
    "shuffle-joins only the rank vector — edges never re-shuffle on either "
    "path, and there is no O(|V|) broadcast cliff at 100x. Ranks rounded to "
    "12 decimals per iteration on both engines for bit-exact parity.",
    tags=("graph",),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Size gate (r4 verdict): the |V|-row rank vector broadcasts every
    # iteration ONLY while it fits the budget (~8M vertices).  Above it,
    # the edge list is persisted pre-partitioned by src ONCE and each
    # iteration shuffle-joins the (small relative to edges) rank vector
    # against that fixed layout — the standard Pregel-ish shape: edges
    # never re-shuffle on either path.
    fits = _vertex_count_bound(spark, sf_dir) <= _vertex_budget_rows()
    if fits:
        # NOT cached on the broadcast path: the unrolled iterations
        # reference an IDENTICAL edge subtree, so Catalyst plans one
        # shuffle and ReusedExchange serves every iteration — persist()
        # was A/B-measured 2-3x SLOWER at sf0.1 (cache serialization +
        # lost codegen/AQE)
        edges = _copurchase_edges(spark, sf_dir)
    else:
        k = spark.sparkContext.defaultParallelism
        edges = _copurchase_edges(spark, sf_dir).repartition(k, "src").persist()
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("outdeg"))
    n_df = deg.agg(F.count("*").cast("double").alias("n"))
    base = deg.crossJoin(F.broadcast(n_df))
    ranks = base.select("node", "outdeg", "n", (F.lit(1.0) / F.col("n")).alias("pr"))
    for _ in range(_ITERS):
        contrib = (
            edges.join(
                _gated(
                    ranks.select("node", (F.col("pr") / F.col("outdeg")).alias("c")),
                    fits,
                ),
                edges["src"] == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            base.join(_gated(contrib, fits), base["node"] == contrib["dst"])
            .select(
                "node",
                "outdeg",
                "n",
                F.round(F.lit(_TELEPORT) / F.col("n") + _DAMP * F.col("c"), 12).alias(
                    "pr"
                ),
            )
        )
    return ranks.select(F.col("node").alias("part_id"), F.col("pr").alias("pagerank"))


@register(
    "graph_triangle_stats",
    oracle=f"""
WITH {_EDGE_SQL},
und AS (SELECT src AS u, dst AS v FROM edges WHERE src < dst),
deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
o AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
      FROM und e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
wedge AS (SELECT x.b AS p, y.b AS q FROM o x JOIN o y ON x.a = y.a AND x.b < y.b),
tri AS (SELECT count(*) AS n_tri FROM wedge w
        WHERE EXISTS (SELECT 1 FROM und e
                      WHERE e.u = least(w.p, w.q) AND e.v = greatest(w.p, w.q))),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
          FROM deg),
edge_n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
SELECT s.n_nodes, e.n_edges, CAST(t.n_tri AS BIGINT) AS n_triangles,
       round((3.0 * t.n_tri) / s.n_wedges, 9) AS transitivity
FROM stats s, edge_n e, tri t
""",
    doc="Triangle count + global clustering coefficient of the co-purchase "
    "graph via degree orientation: each undirected edge points from its "
    "lower-(degree, id) endpoint, so wedge enumeration is bounded by the "
    "oriented out-degree (<= sqrt(2|E|)) instead of raw hub degree — the "
    "standard skew-proof formulation. Wedges close via a semi-join back to "
    "the canonical edge set. transitivity = 3*triangles / open+closed wedges.",
    tags=("graph",),
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT cached: und/o/deg all hang off one identical edge
    # subtree that ReusedExchange dedups inside the single plan;
    # persist() A/B-measured ~2x slower at sf0.1 (2.4M-row cache write
    # + InMemoryTableScan breaking codegen)
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    fits = _vertex_count_bound(spark, sf_dir) <= _vertex_budget_rows()
    o = (
        und.join(_gated(du, fits), "u")
        .join(_gated(dv, fits), "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    # Wedges via the o><o self-join — A/B-measured FASTER here than the
    # collect_list + nested-transform HOF explode that wins in
    # jaccard_neighbors (15s vs 27s at sf0.1): these wedges feed a
    # shuffled semi-join (not a local aggregate), so the join's
    # partitioned probe parallelizes while the HOF variant serializes
    # hub apexes into single skewed explode tasks.
    wedge = (
        o.alias("x")
        .join(o.alias("y"), "a")
        .filter(F.col("x.b") < F.col("y.b"))
        .select(F.col("x.b").alias("p"), F.col("y.b").alias("q"))
    )
    closed = wedge.join(
        und,
        (und["u"] == F.least("p", "q")) & (und["v"] == F.greatest("p", "q")),
        "left_semi",
    )
    tri = closed.agg(F.count("*").alias("n_tri"))
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("long").alias("n_wedges"),
    )
    edge_n = und.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        stats.crossJoin(edge_n)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_tri").cast("long").alias("n_triangles"),
            F.round((F.lit(3.0) * F.col("n_tri")) / F.col("n_wedges"), 9).alias(
                "transitivity"
            ),
        )
    )


@register(
    "graph_khop_reach",
    oracle=f"""
WITH {_EDGE_SQL},
probes AS (SELECT DISTINCT src FROM edges WHERE src % 50 = 0),
h1 AS (SELECT p.src, e.dst FROM probes p JOIN edges e ON e.src = p.src),
h2 AS (SELECT h.src, e2.dst FROM h1 h JOIN edges e2 ON e2.src = h.dst),
reach AS (SELECT src, dst FROM h1 UNION SELECT src, dst FROM h2),
a1 AS (SELECT src, CAST(count(DISTINCT dst) AS BIGINT) AS n_1hop
       FROM h1 GROUP BY src),
a2 AS (SELECT src, CAST(count(*) AS BIGINT) AS n_2hop
       FROM reach WHERE dst <> src GROUP BY src)
SELECT a1.src AS part_id, n_1hop, n_2hop FROM a1 JOIN a2 USING (src)
""",
    doc="Bounded-frontier 2-hop reachability: for a probe set of parts "
    "(src % 50 = 0), the count of distinct parts within 1 and within 2 "
    "co-purchase hops (self excluded). The BFS frontier expands via "
    "self-joins on the PROBE-RESTRICTED edge subset — the probe filter "
    "applies before any expansion, so cost tracks the probe frontier, not "
    "|V|; the distinct reach set partial-aggregates map-side. The same "
    "shape iterates to k hops (one join per hop) for neighborhood features "
    "at 100 TB — the frontier dataframe is what you'd checkpoint per hop.",
    tags=("graph",),
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT cached — ReusedExchange covers the repeated edge subtree
    # (persist A/B-measured ~1.5x slower at sf0.1)
    edges = _copurchase_edges(spark, sf_dir)
    probes = edges.filter(F.col("src") % 50 == 0)
    h1 = probes.select("src", "dst")
    h2 = (
        h1.alias("h")
        .join(edges.alias("e2"), F.col("h.dst") == F.col("e2.src"))
        .select(F.col("h.src").alias("src"), F.col("e2.dst").alias("dst"))
    )
    reach = h1.union(h2).distinct()
    a1 = h1.distinct().groupBy("src").agg(F.count("*").alias("n_1hop"))
    a2 = (
        reach.filter(F.col("dst") != F.col("src"))
        .groupBy("src")
        .agg(F.count("*").alias("n_2hop"))
    )
    return (
        a1.join(a2, "src")
        .select(F.col("src").alias("part_id"), "n_1hop", "n_2hop")
    )


# Hub-degree cap for graph_jaccard_neighbors.  A shared endpoint of
# degree d emits d*(d-1)/2 wedge rows, so wedge volume concentrates in
# the highest-degree endpoints even when (as in this co-purchase graph)
# the distribution has no extreme tail: at sf0.1, endpoints with
# d > 96 are 35% of nodes but 92% of the 147.8M wedges.  Capping bounds
# per-endpoint work at cap^2 regardless of data growth — the standard
# 100-TB posture for common-neighbor similarity, where ubiquitous
# neighbors carry little signal anyway (the same inverse-frequency
# logic as TF-IDF and Adamic-Adar's 1/log(d) weighting).
_JACCARD_HUB_CAP = 96


def _jaccard_neighbors_capped(
    spark: SparkSession, sf_dir: str, cap: int | None
) -> DataFrame:
    """Top-50 part pairs by Jaccard over hub-filtered neighbor sets
    N'(x) = {y in N(x) : deg(y) <= cap}.  cap=None disables the filter
    (exact classical Jaccard) — tests/test_graph_cap.py proves the
    capped pipeline degenerates to the uncapped one when cap exceeds
    the max degree."""
    edges = _copurchase_edges(spark, sf_dir).persist()
    fits = _vertex_count_bound(spark, sf_dir) <= _vertex_budget_rows()
    if cap is not None:
        # |V|-row degree vector; size-gated broadcast like every other
        # vertex-scale join in this module.  The filter runs BEFORE
        # wedge generation, so the d^2 explosion never materializes for
        # hub endpoints.
        keep = (
            edges.groupBy("dst")
            .agg(F.count("*").alias("ddst"))
            .filter(F.col("ddst") <= cap)
            .select("dst")
        )
        fedges = edges.join(_gated(keep, fits), "dst").select("src", "dst")
    else:
        fedges = edges
    deg = fedges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    nbrs = fedges.groupBy("dst").agg(F.sort_array(F.collect_set("src")).alias("ns"))
    # Two-step lateral explode: posexplode anchors each wedge apex, then
    # the tail slice explodes per anchor.  Replaces the one-shot nested
    # transform-of-transforms, which materialized the FULL d^2/2 pair
    # array per neighbor row before exploding it — allocation-bound at
    # 12 M pairs (A/B r14: 7.0 s vs 10.5 s full-query warm; the pair
    # stream itself is identical: ns is sorted, so a < b).
    anchored = nbrs.select("ns", F.posexplode("ns").alias("i", "a"))
    pairs = anchored.select(
        "a", F.explode(F.expr("slice(ns, i + 2, size(ns))")).alias("b")
    )
    inter = pairs.groupBy("a", "b").agg(F.count("*").alias("n_shared"))
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    scored = (
        inter.join(_gated(da, fits), "a")
        .join(_gated(db, fits), "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "n_shared",
            (F.col("da") + F.col("db") - F.col("n_shared")).alias("n_union"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.col("jaccard").desc(), "part_a", "part_b").limit(50)


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
WITH {_EDGE_SQL},
dd AS (SELECT dst, count(*) AS ddst FROM edges GROUP BY dst),
fe AS (SELECT e.src, e.dst FROM edges e
       JOIN dd ON e.dst = dd.dst AND dd.ddst <= {_JACCARD_HUB_CAP}),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM fe GROUP BY src),
inter AS (
  SELECT e1.src AS a, e2.src AS b, CAST(count(*) AS BIGINT) AS n_shared
  FROM fe e1 JOIN fe e2 ON e1.dst = e2.dst AND e1.src < e2.src
  GROUP BY e1.src, e2.src
),
scored AS (
  SELECT i.a, i.b, i.n_shared,
         da.d + db.d - i.n_shared AS n_union,
         round(CAST(i.n_shared AS DOUBLE) / (da.d + db.d - i.n_shared), 6) AS jaccard
  FROM inter i JOIN deg da ON i.a = da.node JOIN deg db ON i.b = db.node
)
SELECT a AS part_a, b AS part_b, n_shared, n_union, jaccard
FROM scored ORDER BY jaccard DESC, a, b LIMIT 50
""",
    doc="Link-prediction similarity: neighbor-set Jaccard for part pairs, "
    f"top-50 most similar, over HUB-FILTERED neighbor sets N'(x) = "
    f"{{y in N(x) : deg(y) <= {_JACCARD_HUB_CAP}}} — shared endpoints above "
    "the cap are excluded from wedge generation AND from the union size, so "
    "the score is the true Jaccard of the filtered sets (not a truncated "
    "estimate of the unfiltered one). Rationale: a degree-d endpoint emits "
    "d(d-1)/2 wedges, so ubiquitous neighbors dominate cost while carrying "
    "the least similarity signal (TF-IDF / Adamic-Adar logic); the cap "
    "bounds per-endpoint work at cap^2 at any scale — measured 12.1x fewer "
    "wedge rows and 6x faster at sf0.1 (147.8M -> 12.25M, 18s -> 3s). "
    "tests/test_graph_cap.py proves cap >= max-degree reproduces the "
    "uncapped classical result bit-for-bit. Wedge generation is JOIN-FREE: "
    "filtered edges group into a sorted neighbor list per shared endpoint "
    "(one shuffle), i<j pairs stream from a two-step lateral explode "
    "(posexplode the apex, explode the tail slice) — faster than both the "
    "edge self-join and the one-shot nested-transform HOF, which had to "
    "materialize the full d^2/2 pair array per row before exploding it "
    "(A/B r14: 7.0 s vs 9.7 s join vs 10.5 s nested HOF). Degrees join "
    "in for the union size via the size-gated broadcast (shuffle join past "
    "~8M vertices); global top-50 is a TakeOrdered heap with deterministic "
    "(a, b) tie-break. The edge list persists across its two uses (degree "
    "vector + neighbor lists are different aggregations, so ReusedExchange "
    "cannot dedup them).",
    tags=("graph",),
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_neighbors_capped(spark, sf_dir, _JACCARD_HUB_CAP)


@register(
    "graph_degree_distribution",
    oracle=f"""
WITH {_EDGE_SQL},
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        FROM edges GROUP BY src),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg)
SELECT d.degree, CAST(count(*) AS BIGINT) AS n_nodes,
       round(count(*) / n.n, 6) AS frac
FROM deg d, n GROUP BY d.degree, n.n
""",
    doc="Degree distribution of the co-purchase graph — the first thing to "
    "look at before choosing graph-operator strategies (a heavy tail says "
    "salt the hot vertices and orient wedge work by degree; see "
    "graph_triangle_stats). Two partial+final aggregations: per-node "
    "degree, then nodes per degree; the 1-row total broadcasts for the "
    "fraction.",
    tags=("graph",),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("degree"))
    n_df = deg.agg(F.count("*").cast("double").alias("n"))
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .crossJoin(F.broadcast(n_df))
        .select("degree", "n_nodes", F.round(F.col("n_nodes") / F.col("n"), 6).alias("frac"))
    )


# Support threshold for the strong-co-purchase edge set: pairs sharing
# >= 2 orders.  At 2+ the graph is sparse (3.6k edges / 5.9k nodes at
# sf0.1) and its components are the "duplicate cluster" shape a dedup
# pipeline consumes (pairs -> groups -> keep one per group).
_CC_MIN_SUPPORT = 2
_CC_MAX_ITERS = 50

_CC_EDGE_SQL = f"""
items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
          FROM items a JOIN items b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
strong AS (SELECT p1, p2 FROM pairs GROUP BY p1, p2
           HAVING count(*) >= {_CC_MIN_SUPPORT}),
nodes AS (SELECT p1 AS n FROM strong UNION SELECT p2 FROM strong),
edges AS (SELECT p1 AS src, p2 AS dst FROM strong
          UNION ALL SELECT p2, p1 FROM strong)
"""


@register(
    "graph_connected_components",
    oracle=f"""
WITH RECURSIVE {_CC_EDGE_SQL},
reach AS (
  SELECT n AS src, n AS dst FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
comp AS (SELECT src AS part_id, min(dst) AS comp_id FROM reach GROUP BY src),
sizes AS (SELECT comp_id, CAST(count(*) AS BIGINT) AS comp_size
          FROM comp GROUP BY comp_id)
SELECT c.part_id, c.comp_id, s.comp_size
FROM comp c JOIN sizes s USING (comp_id)
""",
    doc="Connected components of the strong co-purchase graph (part pairs "
    f"sharing >= {_CC_MIN_SUPPORT} orders) — at sf0.001 one 200-node "
    "component, at sf0.01 an 1860-node sparse giant — via the hash-min "
    "operator shared by the four clustering keys (operators/fixpoint."
    "components): per round one neighbor-min join + partial agg on the "
    "pinned edge list and one path-halving hop, so O(log diameter) rounds, "
    f"labels localCheckpoint'd, loud failure past {_CC_MAX_ITERS} rounds. "
    "The oracle computes the same components via DuckDB's recursive "
    "transitive closure, "
    "feasible because strong edges are sparse. Output: (part_id, min-id "
    "component label, component size) — all integers, hash-exact. At "
    "100 TB the same loop runs unchanged: every round is one shuffle join "
    "+ one hash agg over edge/label tables, no driver state beyond the "
    "convergence flag.",
    tags=("graph",),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.fixpoint import components

    edges = _strong_edges_both_dirs(spark, sf_dir).persist()
    nodes = edges.select("src").distinct()
    labels = components(edges, nodes, max_rounds=_CC_MAX_ITERS, name="graph_connected_components")
    sizes = labels.groupBy("comp").agg(F.count("*").alias("comp_size"))
    return (
        labels.join(sizes, "comp")
        .select(
            F.col("n").alias("part_id"),
            F.col("comp").alias("comp_id"),
            "comp_size",
        )
    )


_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    """Chained-CTE oracle: K synchronous plurality-vote rounds over the
    strong co-purchase edges (fixed K — both engines replay the same
    sequence, so no convergence test is needed for parity)."""
    steps = []
    for t in range(1, _LPA_ROUNDS + 1):
        steps.append(f"""
s{t} AS MATERIALIZED (
  SELECT e.dst AS n, v.lab, count(*) AS c
  FROM edges e JOIN it{t - 1} v ON e.src = v.n GROUP BY e.dst, v.lab
),
it{t} AS MATERIALIZED (
  SELECT n, lab FROM (
    SELECT n, lab,
           row_number() OVER (PARTITION BY n ORDER BY c DESC, lab) AS rn
    FROM s{t}
  ) WHERE rn = 1
),""")
    last = f"it{_LPA_ROUNDS}"
    return f"""
WITH {_CC_EDGE_SQL},
it0 AS (SELECT n, n AS lab FROM nodes),
{"".join(steps)}
sizes AS (SELECT lab, CAST(count(*) AS BIGINT) AS comm_size
          FROM {last} GROUP BY lab)
SELECT v.n AS part_id, v.lab AS community, s.comm_size
FROM {last} v JOIN sizes s USING (lab)
"""


def _lpa_labels(edges: DataFrame) -> DataFrame:
    """(n, lab) after _LPA_ROUNDS plurality-vote rounds over a symmetric
    (src, dst) edge list, ties to the smallest label."""
    from pyspark.sql import Window

    labels = (
        edges.select(F.col("src").alias("n"))
        .distinct()
        .select("n", F.col("n").alias("lab"))
        .localCheckpoint()
    )
    w = Window.partitionBy("n2").orderBy(F.col("c").desc(), F.col("lab"))
    for _ in range(_LPA_ROUNDS):
        counts = (
            edges.join(labels, edges["src"] == labels["n"])
            .groupBy(F.col("dst").alias("n2"), "lab")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("n2").alias("n"), "lab")
            .localCheckpoint()
        )
    return labels


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    doc="Community detection by synchronous label propagation over the "
    "strong co-purchase graph (same edges as graph_connected_components, "
    f"which finds CONNECTIVITY classes; LPA finds DENSITY communities "
    f"inside them). {_LPA_ROUNDS} fixed rounds: every node adopts the "
    "plurality label among its neighbors' current labels, ties broken by "
    "smallest label — fully deterministic, so fixed-round replay is "
    "hash-exact cross-engine with no convergence assumption (the classic "
    "LPA instability under ties is pinned by the (count DESC, label) "
    "rank). Each round is ONE shuffle join of the pinned edge list "
    "against the |V|-row label table + one (node,label) partial-agg + "
    "one per-node window argmax; labels localCheckpoint each round (the "
    "iterative-loop lineage discipline — persist alone lets the logical "
    "plan double per round). At 100 TB: edges never re-shuffle, rounds "
    "are O(|E|) each, and K is a constant.",
    tags=("graph",),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _strong_edges_both_dirs(spark, sf_dir).persist()
    labels = _lpa_labels(edges)
    sizes = labels.groupBy("lab").agg(
        F.count("*").cast("bigint").alias("comm_size")
    )
    return labels.join(sizes, "lab").select(
        F.col("n").alias("part_id"),
        F.col("lab").alias("community"),
        "comm_size",
    )


_BFS_MAX_DEPTH = 64


@register(
    "graph_bfs_levels",
    oracle=f"""
WITH RECURSIVE {_EDGE_SQL},
src0 AS (SELECT src AS s FROM (SELECT src, count(*) AS c FROM edges
         GROUP BY src) ORDER BY c DESC, src LIMIT 1),
walk AS (
  SELECT s AS node, 0 AS dist FROM src0
  UNION
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < {_BFS_MAX_DEPTH}
),
lvl AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node)
SELECT l.node AS part_id, l.dist,
       CAST(count(*) OVER (PARTITION BY l.dist) AS BIGINT) AS level_size
FROM lvl l
""",
    doc="Single-source BFS levels over the (plain) co-purchase graph: "
    "exact hop distance from the maximum-degree node (the hub; ties "
    "broken by id, so the source is deterministic AND sits in a "
    "non-degenerate component at every sf) to every node it reaches, "
    "plus per-level frontier sizes — the distance labeling "
    "that complements reach counts (graph_khop_reach), components "
    "(graph_connected_components), and communities "
    "(graph_label_propagation). Spark runs FRONTIER-based BFS: only the "
    "nodes discovered in round k join the edge list in round k+1 (work "
    "per round tracks the frontier, not |V|), visited set and frontier "
    "localCheckpoint each round (the iterative-lineage discipline), "
    f"loudly bounded at {_BFS_MAX_DEPTH} rounds. The oracle's recursive "
    "closure must carry (node, dist) pairs and min-aggregate at the end "
    f"— cycles would reverberate forever, so the same {_BFS_MAX_DEPTH} "
    "depth bound terminates it; the Spark loop asserts convergence "
    "strictly below the bound, which makes the bound semantics-free. "
    "At 100 TB each round is one frontier-edge equi-join + one anti-join "
    "against visited — the textbook Pregel superstep as DataFrames.",
    tags=("graph",),
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    edges = _copurchase_edges(spark, sf_dir).persist()
    # seed stays IN-PLAN (r14 verdict item 9, the PPR TakeOrdered
    # pattern): the old driver .first() was a separate action before the
    # seed checkpoint — the limit(1) subtree folds hub selection into
    # the checkpoint job itself (and still materializes the edge cache)
    visited = (
        edges.groupBy("src")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("src"))
        .limit(1)
        .select(F.col("src").alias("node"), F.lit(0).cast("int").alias("dist"))
        .localCheckpoint()
    )
    frontier = visited
    # PROBED AND REJECTED (r15, verdict item 1): two frontier hops per
    # round — nxt1 and nxt2 = expand(nxt1) in ONE plan with a single
    # checkpoint + isEmpty, halving round count.  Measured WORSE
    # (interleaved A/B at sf0.1: ref 7.0-14.4 s vs two-hop 20.9-23.3 s):
    # the nxt1 subtree (frontier-edge join + distinct + anti-join) is
    # referenced 3x in the round plan and Catalyst re-executes it — the
    # formatted plan showed 21 Exchanges with only ONE ReusedExchange —
    # so the recompute costs far more than the saved per-round fixed
    # overhead.  Checkpointing nxt1 to stop the recompute re-adds the
    # job the fold was meant to remove.  The one-hop r14 shape stands.
    for depth in range(1, _BFS_MAX_DEPTH + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node").withColumnRenamed("node", "v"),
                  F.col("node") == F.col("v"), "left_anti")
            .select("node", F.lit(depth).alias("dist"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        # union of ALREADY-checkpointed frontiers: the plan stays a flat
        # union over <= _BFS_MAX_DEPTH materialized leaves, so there is
        # no lineage blowup to truncate — re-checkpointing the union
        # re-copied all visited rows every round (r14 A/B: 8.1 -> 7.1 s
        # median at sf0.1 dropping it)
        visited = visited.union(nxt)
        frontier = nxt
    else:
        raise RuntimeError(f"BFS did not converge within {_BFS_MAX_DEPTH} rounds")
    w = Window.partitionBy("dist")
    return visited.select(
        F.col("node").alias("part_id"),
        F.col("dist").cast("bigint").alias("dist"),
        F.count("*").over(w).cast("bigint").alias("level_size"),
    )


def _ppr_iter_sql() -> str:
    """Unrolled personalized-PageRank rounds: teleport mass goes ONLY to
    the source node (seed), not uniformly — contributions LEFT-join so
    zero-rank nodes stay in the vector."""
    parts = []
    prev = "p0"
    for i in range(1, _ITERS + 1):
        parts.append(
            f"""
pc{i} AS (SELECT e.dst AS node, sum(r.pr / r.outdeg) AS c
        FROM edges e JOIN {prev} r ON e.src = r.node AND r.pr > 0
        GROUP BY e.dst),
p{i} AS (SELECT d.node, d.outdeg, d.seed,
        round({_TELEPORT} * d.seed + {_DAMP} * coalesce(c.c, 0), 12) AS pr
        FROM pdeg d LEFT JOIN pc{i} c USING (node))"""
        )
        prev = f"p{i}"
    return ",".join(parts)


@register(
    "graph_personalized_pagerank",
    oracle=f"""
WITH {_EDGE_SQL},
src0 AS (SELECT src AS s FROM (SELECT src, count(*) AS c FROM edges
         GROUP BY src) ORDER BY c DESC, src LIMIT 1),
pdeg AS (SELECT src AS node, count(*) AS outdeg,
                CASE WHEN src = (SELECT s FROM src0) THEN 1.0 ELSE 0.0 END
                  AS seed
         FROM edges GROUP BY src),
p0 AS (SELECT node, outdeg, seed, seed AS pr FROM pdeg),
{{_PPR_ITERS}}
SELECT node AS part_id, pr AS ppr FROM p{_ITERS} WHERE pr > 0
""".replace("{_PPR_ITERS}", _ppr_iter_sql()),
    doc=f"Personalized PageRank (damping {_DAMP}, {_ITERS} iterations, "
    "teleport mass entirely on the max-degree hub — the BFS/SSSP source "
    "rule): random walks restart at the SEED, so scores rank nodes by "
    "proximity-weighted connectivity TO THAT NODE — the related-items / "
    "local-relevance variant of graph_pagerank's global centrality, and "
    "the standard recommendation primitive on co-occurrence graphs.  "
    "Same engine discipline as pagerank: per-iteration 12-decimal "
    "re-sync for cross-engine float parity, contributions LEFT-join so "
    "the vector stays complete (a node can gain rank in round k+1 from "
    "a neighbor that first gained rank in round k), zero-rank sources "
    "are filtered BEFORE the contribution join (frontier sparsity — "
    "early rounds touch only the seed's neighborhood), and the rank "
    "vector is size-gated broadcast with the pre-partitioned shuffle "
    "fallback past ~8M vertices.  Output: nodes with positive mass "
    f"(the seed's {_ITERS}-hop neighborhood).",
    tags=("graph",),
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    fits = _vertex_count_bound(spark, sf_dir) <= _vertex_budget_rows()
    if fits:
        edges = _copurchase_edges(spark, sf_dir)
    else:
        k = spark.sparkContext.defaultParallelism
        edges = _copurchase_edges(spark, sf_dir).repartition(k, "src").persist()
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("outdeg"))
    # seed selection stays IN the plan (a 1-row TakeOrdered subtree
    # broadcast-cross-joined into deg, the oracle's src0 CTE shape)
    # instead of a driver .first(): the old collect was a second action
    # that re-ran the whole edge build before the main query started —
    # on the broadcast path edges are deliberately uncached, so the
    # build was paid twice (r14, guide §5.2)
    src0 = (
        deg.orderBy(F.col("outdeg").desc(), F.col("node"))
        .limit(1)
        .select(F.col("node").alias("s"))
    )
    base = deg.crossJoin(F.broadcast(src0)).select(
        "node",
        "outdeg",
        F.when(F.col("node") == F.col("s"), 1.0).otherwise(0.0).alias("seed"),
    )
    ranks = base.select("node", "outdeg", "seed", F.col("seed").alias("pr"))
    for _ in range(_ITERS):
        contrib = (
            edges.join(
                _gated(
                    ranks.filter(F.col("pr") > 0).select(
                        "node", (F.col("pr") / F.col("outdeg")).alias("c")
                    ),
                    fits,
                ),
                edges["src"] == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = base.join(
            _gated(contrib, fits), base["node"] == contrib["dst"], "left"
        ).select(
            base["node"],
            "outdeg",
            "seed",
            F.round(
                F.lit(_TELEPORT) * F.col("seed")
                + F.lit(_DAMP) * F.coalesce(F.col("c"), F.lit(0.0)),
                12,
            ).alias("pr"),
        )
    return ranks.filter(F.col("pr") > 0).select(
        F.col("node").alias("part_id"), F.col("pr").alias("ppr")
    )


_SSSP_MAX_ROUNDS = 12
_SSSP_INF = 1 << 60  # sentinel far above any reachable distance (w <= 7)

_WEIGHTED_EDGE_SQL = """
lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
ew AS (SELECT a.pk AS src, b.pk AS dst, count(*) AS c
       FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk <> b.pk
       GROUP BY a.pk, b.pk),
edges AS (SELECT src, dst, CAST(greatest(1, 8 - c) AS BIGINT) AS w FROM ew)
"""


def _sssp_iter_sql() -> str:
    """Unrolled synchronous Bellman-Ford rounds.  MATERIALIZED is load-
    bearing (the embed_pca_power lesson): d_i is referenced twice (by
    c_{i+1} and d_{i+1}) and a non-materialized chain re-evaluates
    exponentially."""
    parts = []
    for i in range(1, _SSSP_MAX_ROUNDS + 1):
        p = f"d{i - 1}"
        parts.append(
            f"""
c{i} AS (SELECT e.dst AS node, min(d.dist + e.w) AS nd
        FROM edges e JOIN {p} d ON e.src = d.node GROUP BY e.dst),
d{i} AS MATERIALIZED (
  SELECT coalesce(a.node, b.node) AS node,
         least(coalesce(a.dist, {_SSSP_INF}), coalesce(b.nd, {_SSSP_INF}))
           AS dist
  FROM {p} a FULL JOIN c{i} b ON a.node = b.node)"""
        )
    return ",".join(parts)


@register(
    "graph_sssp_weighted",
    oracle=f"""
WITH {_WEIGHTED_EDGE_SQL},
src0 AS (SELECT src AS s FROM (SELECT src, count(*) AS c FROM edges
         GROUP BY src) ORDER BY c DESC, src LIMIT 1),
d0 AS MATERIALIZED (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src0),
{_sssp_iter_sql()}
SELECT node AS part_id, CAST(dist AS BIGINT) AS dist
FROM d{_SSSP_MAX_ROUNDS} ORDER BY part_id
""",
    doc="Weighted single-source shortest paths over the co-purchase "
    "graph: edge weight w = max(1, 8 - shared_orders) in [1, 7], so "
    "frequently co-purchased parts are 'closer' — the weighted "
    "completion of graph_bfs_levels (hop distance) and the substrate "
    "for related-item ranking.  Source = the max-degree hub (ties by "
    "id, the BFS rule).  Spark runs FRONTIER Bellman-Ford: each round "
    "relaxes edges out of only the nodes whose distance improved last "
    "round (work tracks the changing frontier, not |V|), merges via a "
    "full-outer least(), and localCheckpoints both frames (the "
    "iterative-lineage discipline); convergence is asserted strictly "
    f"below the {_SSSP_MAX_ROUNDS}-round bound, which makes the bound "
    "semantics-free.  The oracle unrolls the same relaxation as "
    "synchronous rounds (frontier relaxation at round r equals "
    "synchronous round r, and min-relaxation is idempotent past the "
    "fixed point, so the fixed round count is exact) over MATERIALIZED "
    "chained CTEs.  All arithmetic is BIGINT — no float drift.  Scale: "
    "the weighted edge list builds once (one groupBy over the pair "
    "join, degree-bounded like every co-purchase op) and is pinned "
    "pre-partitioned by src; each round shuffle-joins only the "
    "frontier, and the frontier/distance frames are size-gated "
    "broadcasts (pagerank's _gated rule) with the pre-partitioned "
    "shuffle fallback past ~8M vertices.",
    tags=("graph",),
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    lp = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    ew = (
        lp.alias("a")
        .join(lp.alias("b"), "ok")
        .filter(F.col("a.pk") != F.col("b.pk"))
        .groupBy(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .agg(F.count("*").alias("c"))
        .select(
            "src",
            "dst",
            F.greatest(F.lit(1), F.lit(8) - F.col("c")).cast("bigint").alias("w"),
        )
    )
    fits = _vertex_count_bound(spark, sf_dir) <= _vertex_budget_rows()
    # pinned (unlike pagerank's broadcast path): localCheckpoint makes
    # every round a separate action, so without the pin the edge
    # subtree would recompute once per round
    k = spark.sparkContext.defaultParallelism
    edges = (ew if fits else ew.repartition(k, "src")).persist()
    # seed stays IN-PLAN (r14 verdict item 9, the PPR TakeOrdered
    # pattern): hub selection folds into the seed checkpoint job — one
    # action instead of a driver .first() plus the checkpoint
    dist = (
        edges.groupBy("src")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("src"))
        .limit(1)
        .select(F.col("src").alias("node"), F.lit(0).cast("long").alias("dist"))
        .localCheckpoint()
    )
    improved = dist
    for _ in range(1, _SSSP_MAX_ROUNDS + 1):
        cand = (
            edges.join(_gated(improved, fits), edges["src"] == F.col("node"))
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        # ONE checkpoint per round: improved and dist are a plain filter /
        # projection over the checkpointed merge, so re-materializing them
        # bought nothing — the old three-checkpoint round paid two extra
        # materialization jobs per round (r14, the CC convergence-fold
        # pattern; lineage still truncates at m every round)
        m = dist.join(cand, "node", "full_outer").localCheckpoint()
        improved = m.filter(
            F.col("dist").isNull() | (F.col("nd") < F.col("dist"))
        ).select("node", F.col("nd").alias("dist"))
        if improved.isEmpty():
            break
        dist = m.select(
            "node",
            F.least(
                F.coalesce(F.col("dist"), F.col("nd")),
                F.coalesce(F.col("nd"), F.col("dist")),
            ).alias("dist"),
        )
    else:
        raise RuntimeError(
            f"SSSP did not converge within {_SSSP_MAX_ROUNDS} rounds"
        )
    return dist.select(
        F.col("node").alias("part_id"), F.col("dist").cast("bigint").alias("dist")
    ).orderBy("part_id")


_WALK_STEPS = 8


def _walk_hash_sql(walk: str, step: int, node: str, spark_side: bool) -> str:
    """Deterministic 60-bit step hash from (walk_id, step, node) — the
    md5-bucket trick, so 'randomness' is reproducible and engine-equal."""
    concat = f"concat('wk', CAST({walk} AS VARCHAR), ':', CAST({step} AS VARCHAR), ':', CAST({node} AS VARCHAR))"
    if spark_side:
        concat = concat.replace("AS VARCHAR", "AS STRING")
        return f"CAST(conv(substring(md5({concat}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(CAST(concat('0x', substr(md5({concat}), 1, 15)) AS UBIGINT) AS BIGINT)"


def _walks_oracle() -> str:
    steps = []
    for t in range(1, _WALK_STEPS + 1):
        h = _walk_hash_sql("w.walk_id", t, "w.node", spark_side=False)
        steps.append(f"""
w{t} AS MATERIALIZED (
  SELECT w.walk_id, {t} AS step,
         a.nbrs[CAST({h} % len(a.nbrs) AS BIGINT) + 1] AS node
  FROM w{t - 1} w JOIN adj a ON a.src = w.node
),""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM w{t}" for t in range(_WALK_STEPS + 1)
    )
    return f"""
WITH {_EDGE_SQL},
adj AS MATERIALIZED (
  SELECT src, list(dst ORDER BY dst) AS nbrs FROM edges GROUP BY src
),
w0 AS (SELECT src AS walk_id, 0 AS step, src AS node FROM adj
       WHERE src % 50 = 0),
{"".join(steps)}
all_steps AS ({union})
SELECT walk_id, CAST(step AS BIGINT) AS step, node FROM all_steps
"""


@register(
    "graph_random_walks",
    oracle=_walks_oracle(),
    doc=f"Deterministic random walks ({_WALK_STEPS} steps from every "
    "probe node, src % 50 = 0) over the co-purchase graph — the "
    "DeepWalk/node2vec corpus-generation step that feeds graph "
    "embeddings. 'Random' is a reproducible 60-bit md5 hash of "
    "(walk_id, step, current node) indexing into the SORTED neighbor "
    "list — no RNG state, so re-runs, both engines, and resumed jobs "
    "agree exactly (the same property as the deterministic samplers). "
    "Execution: adjacency lists build once (one groupBy with "
    "sort_array canonicalizing collect_list's nondeterministic order); "
    "each step is ONE equi-join of the walker frontier against "
    "adjacency — walkers never enumerate neighborhoods, they "
    "element_at into them. At 100 TB walkers partition by current "
    "node, the join co-locates with adjacency, and steps are the "
    "Pregel supersteps; the symmetric graph has no dead ends "
    "(every node keeps degree >= 1 by construction).",
    tags=("graph", "llm"),
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    adj = (
        edges.groupBy("src").agg(
            F.sort_array(F.collect_list("dst")).alias("nbrs")
        )
    ).persist()
    walks = (
        adj.filter(F.col("src") % 50 == 0)
        .select(
            F.col("src").alias("walk_id"),
            F.lit(0).alias("step"),
            F.col("src").alias("node"),
        )
        .localCheckpoint()
    )
    frontier = walks
    for t in range(1, _WALK_STEPS + 1):
        h = _walk_hash_sql("walk_id", t, "node", spark_side=True)
        nxt = (
            frontier.join(adj, frontier["node"] == adj["src"])
            .select(
                "walk_id",
                F.lit(t).alias("step"),
                F.expr(
                    f"nbrs[CAST({h} % size(nbrs) AS INT)]"
                ).alias("node"),
            )
            .localCheckpoint()
        )
        walks = walks.unionByName(nxt)
        frontier = nxt
    return walks.select(
        "walk_id", F.col("step").cast("bigint").alias("step"), "node"
    )


_HITS_ITERS = 3


def _hits_iter_sql() -> str:
    parts = []
    for i in range(1, _HITS_ITERS + 1):
        parts.append(f"""
ar{i} AS MATERIALIZED (
  SELECT b.pk AS pk, CAST(sum(h.s) AS BIGINT) AS raw FROM bip b
  JOIN h{i - 1} h ON h.ck = b.ck GROUP BY b.pk
),
a{i} AS MATERIALIZED (
  SELECT pk, (raw * 1000000) // (SELECT max(raw) FROM ar{i}) AS s FROM ar{i}
),
hr{i} AS MATERIALIZED (
  SELECT b.ck AS ck, CAST(sum(a.s) AS BIGINT) AS raw FROM bip b
  JOIN a{i} a ON a.pk = b.pk GROUP BY b.ck
),
h{i} AS MATERIALIZED (
  SELECT ck, (raw * 1000000) // (SELECT max(raw) FROM hr{i}) AS s FROM hr{i}
),""")
    return "".join(parts)


@register(
    "graph_hits_scores",
    oracle=f"""
WITH bip AS (
  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
h0 AS (SELECT DISTINCT ck, CAST(1000000 AS BIGINT) AS s FROM bip),
{_hits_iter_sql()}
sel AS (
  SELECT 'customer' AS side, ck AS id, s FROM h{_HITS_ITERS}
  UNION ALL
  SELECT 'part', pk, s FROM a{_HITS_ITERS}
)
SELECT side, id, CAST(s AS DOUBLE) / 1000000.0 AS score FROM sel
""",
    doc=f"HITS hubs-and-authorities ({_HITS_ITERS} iterations) on the "
    "DIRECTED bipartite customer->part purchase graph — the classic "
    "formulation where the two scores mean different things: customers "
    "are hubs (breadth of purchasing), parts are authorities (bought by "
    "strong hubs). On the undirected co-purchase graph HITS would "
    "degenerate to one eigenvector, which is why this op directs the "
    "edges (and why it complements graph_pagerank rather than repeating "
    "it). Each half-iteration is one shuffle join of the score vector "
    "into the pinned edge list + a partial agg — the pagerank shape — "
    "with the EXACT-INTEGER discipline end-to-end: scores live as "
    "1e6-scale integers, sums are exact BIGINT (order-independent — "
    "round-12 double re-sync was measured insufficient here: 9/35k "
    "rows flipped a low bit at sf0.1), and max-normalization is a "
    "truncating integer division (max-norm instead of L2 because max "
    "is order-free while an L2 sum is not). Overflow-safe while "
    "max-degree x 1e12 < 2^63 (~9M peers), documented bound.",
    tags=("graph",),
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    bip = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    ).persist()
    h = bip.select("ck").distinct().select(
        "ck", F.lit(1000000).cast("bigint").alias("s")
    )
    a = None
    # One checkpoint per half-iteration, placed on the RAW aggregate
    # (r14 verdict item 8): the old shape checkpointed the normalized
    # scores, so the join+agg subtree executed TWICE per half-iteration
    # — once inside the max-broadcast build and once inside the
    # checkpoint job.  Checkpointing `raw` first makes the max a tiny
    # agg over materialized rows and leaves the normalization a lazy
    # projection (recomputing a div over cached rows is free); lineage
    # still truncates every half-iteration.  (The r14 probe that
    # dropped a checkpoint ENTIRELY measured worse, 6.1-6.5 -> 8.2+ s —
    # this keeps both checkpoints, only moves them below the norm.)
    for _ in range(_HITS_ITERS):
        ar = (
            bip.join(h, "ck")
            .groupBy("pk")
            .agg(F.sum("s").cast("bigint").alias("raw"))
            .localCheckpoint()
        )
        amax = ar.agg(F.max("raw").alias("m"))
        a = ar.crossJoin(F.broadcast(amax)).select(
            "pk", F.expr("div(raw * 1000000, m)").alias("s")
        )
        hr = (
            bip.join(a, "pk")
            .groupBy("ck")
            .agg(F.sum("s").cast("bigint").alias("raw"))
            .localCheckpoint()
        )
        hmax = hr.agg(F.max("raw").alias("m"))
        h = hr.crossJoin(F.broadcast(hmax)).select(
            "ck", F.expr("div(raw * 1000000, m)").alias("s")
        )
    score = (F.col("s").cast("double") / F.lit(1000000.0)).alias("score")
    return h.select(
        F.lit("customer").alias("side"), F.col("ck").alias("id"), score
    ).unionByName(
        a.select(F.lit("part").alias("side"), F.col("pk").alias("id"), score)
    )


_KCORE_K = 2       # peel threshold: the 2-core (iterative leaf stripping)
_KCORE_ROUNDS = 8  # fixed synchronous rounds; fixpoint at <=6 on all sfs


def _kcore_oracle() -> str:
    """Chained-CTE oracle: fixed synchronous peel rounds over the strong
    co-purchase graph; every round keeps nodes with >= K surviving
    neighbors.  MATERIALIZED per the iteration-oracle discipline (DuckDB
    otherwise re-inlines the chain exponentially)."""
    steps = []
    for t in range(1, _KCORE_ROUNDS + 1):
        steps.append(f"""
s{t} AS MATERIALIZED (
  SELECT e.src AS n FROM edges e
  JOIN s{t - 1} a ON e.src = a.n JOIN s{t - 1} b ON e.dst = b.n
  GROUP BY e.src HAVING count(*) >= {_KCORE_K}
),""")
    last = f"s{_KCORE_ROUNDS}"
    return f"""
WITH {_CC_EDGE_SQL},
s0 AS (SELECT n FROM nodes),
{"".join(steps)}
fin AS MATERIALIZED (
  SELECT e.src AS n, CAST(count(*) AS BIGINT) AS core_deg
  FROM edges e
  JOIN {last} a ON e.src = a.n JOIN {last} b ON e.dst = b.n
  GROUP BY e.src
)
SELECT n AS part_id, core_deg,
       CAST(count(*) OVER () AS BIGINT) AS core_size
FROM fin
"""


def _survivor_degrees(edges: DataFrame, surv: DataFrame) -> DataFrame:
    """(src, deg): each surviving node's degree counted over edges whose
    BOTH endpoints survive."""
    return (
        edges.join(surv, edges["src"] == surv["n"], "left_semi")
        .join(
            surv.select(F.col("n").alias("n2")),
            edges["dst"] == F.col("n2"),
            "left_semi",
        )
        .groupBy("src")
        .agg(F.count("*").alias("deg"))
    )


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
    doc=f"k-core decomposition by synchronous peeling (Matula-Beck "
    f"iterative degree pruning) of the strong co-purchase graph, k="
    f"{_KCORE_K}: every round simultaneously removes nodes whose degree "
    "within the surviving subgraph is below k; survivors after "
    f"{_KCORE_ROUNDS} fixed rounds report their in-core degree and the "
    "core size.  Complements graph_connected_components (connectivity) "
    "and graph_label_propagation (communities) with the density spine: "
    "the 2-core is the graph minus its recursively-stripped tree "
    "fringe.  Fixed-round synchronous semantics make the replay "
    "hash-exact cross-engine with no convergence assumption; a pytest "
    "asserts the peel actually reaches its fixpoint within the bound "
    "at every test sf (<=6 rounds observed), so the bound is "
    "semantics-free there.  Each Spark round is two semi-joins of the "
    "pinned edge list against the survivor set (src AND dst surviving) "
    "+ one partial-agg degree count; survivors localCheckpoint per "
    "round (iterative-lineage discipline — persist alone doubles the "
    "plan per round).  At 100 TB: edges never re-shuffle after the "
    "pin, rounds cost O(|E_surviving|) and shrink monotonically, and "
    "the survivor set is the only cross-round state.",
    tags=("graph",),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _strong_edges_both_dirs(spark, sf_dir).persist()
    surv = edges.select(F.col("src").alias("n")).distinct().localCheckpoint()
    for _ in range(_KCORE_ROUNDS):
        surv = (
            _survivor_degrees(edges, surv)
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("n"))
            .localCheckpoint()
        )
    fin = _survivor_degrees(edges, surv)
    size = fin.agg(F.count("*").cast("bigint").alias("core_size"))
    return fin.crossJoin(F.broadcast(size)).select(
        F.col("src").alias("part_id"), F.col("deg").alias("core_deg"), "core_size"
    )


_FC_ROUNDS = 16  # pointer-doubling window 2^16 = 65536 >= N at every test sf


def _fc_oracle() -> str:
    ctes = ["d0 AS MATERIALIZED (SELECT v, s AS g, s AS m FROM base)"]
    for i in range(1, _FC_ROUNDS + 1):
        p = f"d{i - 1}"
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT a.v, b.g AS g, least(a.m, b.m) AS m\n"
            f"  FROM {p} a JOIN {p} b ON b.v = a.g)"
        )
    body = ",\n".join(ctes)
    return f"""
WITH base AS (
  SELECT c_custkey AS v,
         CAST(CAST(concat('0x', substr(md5(concat('succ',
              CAST(c_custkey AS VARCHAR))), 1, 15)) AS UBIGINT) AS BIGINT)
           % (SELECT count(*) FROM customer) AS s
  FROM customer),
{body},
cyc AS (
  SELECT d.m AS rep, CAST(count(*) AS BIGINT) AS cycle_len
  FROM (SELECT DISTINCT g FROM d{_FC_ROUNDS}) c JOIN d{_FC_ROUNDS} d ON d.v = c.g
  GROUP BY 1),
basin AS (
  SELECT d2.m AS rep, CAST(count(*) AS BIGINT) AS basin_n
  FROM d{_FC_ROUNDS} d JOIN d{_FC_ROUNDS} d2 ON d2.v = d.g
  GROUP BY 1)
SELECT rep AS cycle_rep, cycle_len, basin_n
FROM cyc JOIN basin USING (rep)
"""


@register(
    "graph_functional_cycles",
    oracle=_fc_oracle(),
    doc="Rho-decomposition of a FUNCTIONAL graph (every node has exactly "
    "one out-edge) by pointer doubling — the out-degree-1 special case "
    "where full SCC machinery collapses to O(log N) rounds: "
    "g_{i+1}(v) = g_i(g_i(v)) advances 2^i steps per round while "
    "m_{i+1}(v) = min(m_i(v), m_i(g_i(v))) tracks the minimum node id "
    "over the advanced window, so after ceil(log2 N) rounds every "
    "node's pointer has entered its cycle and every on-cycle node's "
    "window covers the whole cycle (window 2^16 = 65536 >= N, asserted "
    "at runtime; one more round per doubling of N).  The on-cycle set "
    "is exactly the IMAGE of g_16, each cycle is named by its minimum "
    "member, and basins (tree nodes draining into each cycle) come from "
    "one composition join.  This is the successor-function shape of "
    "linked-list / next-pointer data (parent chains, redirect chains, "
    "symlink graphs) where cycle detection IS the integrity check.  "
    "The successor is the shared md5 convention (a uniform random map: "
    "tails O(sqrt N), a handful of cycles — verified against a "
    "pure-Python walk in tests).  Scale posture: 16 self-joins of N "
    "rows with localCheckpoint per round (the iterative-DataFrame "
    "discipline), partition-count-stable; contrast graph_connected_"
    "components (path halving on general undirected graphs).  Oracle "
    "replays the identical doubling as 16 MATERIALIZED chained CTEs "
    "(the embed_pca_power precedent).",
    tags=("graph",),
)
def graph_functional_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    cnt = c.agg(F.count("*").alias("n"))
    base = c.crossJoin(F.broadcast(cnt)).select(
        F.col("c_custkey").alias("v"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("succ"), F.col("c_custkey").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n")
        ).alias("s"),
        "n",
    )
    n_nodes = base.select(F.max("n")).first()[0]
    if n_nodes > (1 << _FC_ROUNDS):
        raise ValueError(
            f"graph_functional_cycles: N={n_nodes} exceeds the 2^{_FC_ROUNDS} "
            "doubling window; raise _FC_ROUNDS (one round per doubling of N)"
        )
    d = base.select("v", F.col("s").alias("g"), F.col("s").alias("m"))
    for _ in range(_FC_ROUNDS):
        d2 = d.select(
            F.col("v").alias("v2"), F.col("g").alias("g2"), F.col("m").alias("m2")
        )
        d = (
            d.join(d2, d["g"] == d2["v2"])
            .select("v", F.col("g2").alias("g"), F.least("m", "m2").alias("m"))
            .localCheckpoint()
        )
    on_cycle = d.select("g").distinct().withColumnRenamed("g", "w")
    cyc = (
        on_cycle.join(d, d["v"] == on_cycle["w"])
        .groupBy(F.col("m").alias("cycle_rep"))
        .agg(F.count("*").cast("bigint").alias("cycle_len"))
    )
    d2 = d.select(F.col("v").alias("v2"), F.col("m").alias("m2"))
    basin = (
        d.join(d2, d["g"] == d2["v2"])
        .groupBy(F.col("m2").alias("cycle_rep"))
        .agg(F.count("*").cast("bigint").alias("basin_n"))
    )
    return cyc.join(basin, "cycle_rep")


@register(
    "graph_brand_assortativity",
    oracle=f"""
WITH {_CC_EDGE_SQL},
lbl AS (
  SELECT p_partkey AS n, p_brand AS brand FROM part
), deg AS (
  SELECT src AS n, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM strong
), intra AS (
  SELECT a.brand, CAST(count(*) AS BIGINT) AS e_in
  FROM strong s
  JOIN lbl a ON a.n = s.p1 JOIN lbl b ON b.n = s.p2
  WHERE a.brand = b.brand GROUP BY a.brand
), dsum AS (
  SELECT l.brand, CAST(sum(d.d) AS BIGINT) AS d_tot,
         CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg d JOIN lbl l USING (n) GROUP BY l.brand
)
SELECT ds.brand, ds.n_nodes, ds.d_tot,
       coalesce(i.e_in, 0) AS e_in,
       CAST((4 * m.m * coalesce(i.e_in, 0)
             - CAST(ds.d_tot AS HUGEINT) * ds.d_tot) * 1000000
            // (CAST(4 AS HUGEINT) * m.m * m.m) AS BIGINT) AS q_contrib_ppm
FROM dsum ds LEFT JOIN intra i USING (brand) CROSS JOIN m
""",
    doc="Attribute assortativity via Newman modularity: does the strong "
    "co-purchase graph cluster by part BRAND? Per brand community c, "
    "the modularity contribution e_c/m - (d_c/2m)^2 measures intra-"
    "brand edge excess over the degree-preserving null model — summed "
    "over brands it is the partition's modularity Q, the quantity "
    "community detection maximizes (here evaluated for a GIVEN labeling "
    "— the assortativity readout; LPA/CC provide discovered labelings "
    "elsewhere in the family). Exactness: Q's terms are rationals with "
    "denominator 4m^2, so each contribution is the exact 128-bit "
    "integer floor((4*m*e_c - d_c^2) * 1e6 / (4*m^2)) — no float "
    "division. Scale: degrees and intra-edges are two partial-final "
    "aggregations over the edge list joined to a broadcast-size label "
    "dim; the 25-row result carries all counts so the hash pins every "
    "input to Q.",
    tags=("graph",),
)
def graph_brand_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    strong = _strong_pairs(spark, sf_dir)
    lbl = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("n"), F.col("p_brand").alias("brand")
    )
    edges = strong.select(F.col("p1").alias("src")).unionAll(
        strong.select(F.col("p2").alias("src"))
    )
    deg = edges.groupBy(F.col("src").alias("n")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    m = strong.agg(F.count("*").cast("bigint").alias("m"))
    la, lb = lbl.alias("la"), lbl.alias("lb")
    intra = (
        strong.join(la, F.col("la.n") == F.col("p1"))
        .join(lb, F.col("lb.n") == F.col("p2"))
        .filter(F.col("la.brand") == F.col("lb.brand"))
        .groupBy(F.col("la.brand").alias("brand"))
        .agg(F.count("*").cast("bigint").alias("e_in"))
    )
    dsum = (
        deg.join(F.broadcast(lbl), "n")
        .groupBy("brand")
        .agg(
            F.sum("d").cast("bigint").alias("d_tot"),
            F.count("*").cast("bigint").alias("n_nodes"),
        )
    )
    out = (
        dsum.join(intra, "brand", "left")
        .crossJoin(F.broadcast(m))
        .withColumn("e_in", F.coalesce("e_in", F.lit(0)).cast("bigint"))
        .withColumn(
            "_num",
            (
                F.lit(4).cast("decimal(38,0)") * F.col("m") * F.col("e_in")
                - F.col("d_tot").cast("decimal(19,0)") * F.col("d_tot").cast("decimal(19,0)")
            )
            * F.lit(1000000),
        )
        .withColumn(
            "_den",
            F.lit(4).cast("decimal(38,0)") * F.col("m") * F.col("m"),
        )
    )
    return out.select(
        "brand",
        "n_nodes",
        "d_tot",
        "e_in",
        F.expr("CAST(div(_num, _den) AS BIGINT)").alias("q_contrib_ppm"),
    )


@register(
    "graph_degree_assortativity",
    oracle=f"""
WITH {_CC_EDGE_SQL},
deg AS (
  SELECT src AS n, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src
), de AS (
  SELECT da.d AS x, db.d AS y
  FROM edges e JOIN deg da ON da.n = e.src JOIN deg db ON db.n = e.dst
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM de
)
SELECT n AS n_directed_edges, sx AS deg_sum,
       CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_num,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS assortativity
FROM m
""",
    doc="Degree assortativity coefficient (Newman): the Pearson "
    "correlation of endpoint degrees over the directed-symmetric edge "
    "list of the strong co-purchase graph — do hubs attach to hubs "
    "(r > 0, social-network-like) or to leaves (r < 0, "
    "technological/dependency-like)? The structural summary that "
    "decides whether degree-oriented algorithms (triangle counting's "
    "sqrt-bound, the jaccard hub cap) will pay off. Exactness: all "
    "five moment sums are exact BIGINTs over integer degrees; the "
    "final correlation is one double expression over identical "
    "operand trees (IEEE correctly-rounded, engine-identical "
    "unrounded — the power-MDE discipline). Scale: one degree "
    "aggregate + two broadcast-size joins back to the edge list + a "
    "1-row moment rollup; no window, no iteration.",
    tags=("graph",),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _strong_edges_both_dirs(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("n")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    da = deg.select(F.col("n").alias("src"), F.col("d").alias("x"))
    db = deg.select(F.col("n").alias("dst"), F.col("d").alias("y"))
    de = edges.join(da, "src").join(db, "dst").select("x", "y")
    # r8 overflow audit: hub-degree squares summed over the edge list
    # can cross 2^63 on skewed graphs — 128-bit moment accumulation on
    # both engines (DECIMAL here, HUGEINT in the oracle); the doubles
    # below convert the same exact integers, so parity is unchanged.
    m = de.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    vx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    vy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return m.select(
        F.col("n").alias("n_directed_edges"),
        F.col("sx").alias("deg_sum"),
        num.alias("cov_num"),
        (num / F.sqrt(vx * vy)).alias("assortativity"),
    )


def _modularity_oracle() -> str:
    """LPA fixed-round replay (the _lpa_oracle chain) extended with the
    Newman-Girvan modularity algebra, all exact integers."""
    steps = []
    for t in range(1, _LPA_ROUNDS + 1):
        steps.append(f"""
s{t} AS MATERIALIZED (
  SELECT e.dst AS n, v.lab, count(*) AS c
  FROM edges e JOIN it{t - 1} v ON e.src = v.n GROUP BY e.dst, v.lab
),
it{t} AS MATERIALIZED (
  SELECT n, lab FROM (
    SELECT n, lab,
           row_number() OVER (PARTITION BY n ORDER BY c DESC, lab) AS rn
    FROM s{t}
  ) WHERE rn = 1
),""")
    last = f"it{_LPA_ROUNDS}"
    return f"""
WITH {_CC_EDGE_SQL},
it0 AS (SELECT n, n AS lab FROM nodes),
{"".join(steps)}
deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
        FROM edges GROUP BY src),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM strong),
dsum AS (
  SELECT v.lab, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d.deg) AS BIGINT) AS degree_sum
  FROM {last} v JOIN deg d USING (n) GROUP BY v.lab),
intra AS (
  SELECT va.lab, CAST(count(*) AS BIGINT) AS intra_edges
  FROM strong s
  JOIN {last} va ON va.n = s.p1
  JOIN {last} vb ON vb.n = s.p2
  WHERE va.lab = vb.lab GROUP BY va.lab)
SELECT d.lab AS community, d.n_nodes,
       CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       d.degree_sum,
       CAST((4 * CAST(mm.m AS HUGEINT) * coalesce(i.intra_edges, 0)
             - CAST(d.degree_sum AS HUGEINT) * d.degree_sum) * 1000000
            // (4 * CAST(mm.m AS HUGEINT) * mm.m) AS BIGINT) AS contrib_ppm
FROM dsum d LEFT JOIN intra i USING (lab) CROSS JOIN mm
"""


@register(
    "graph_modularity_score",
    oracle=_modularity_oracle(),
    doc="Newman-Girvan modularity of the label-propagation communities "
    "— the quality score that tells a pipeline whether its community "
    "structure is real (Q near 0: no better than random given the "
    "degree sequence).  Communities replay graph_label_propagation's "
    f"deterministic {_LPA_ROUNDS}-round LPA; then per community c, "
    "Q_c = e_c/m - (d_c/2m)^2 is pinned as the EXACT integer "
    "(4*m*e_c - d_c^2)*1e6 // (4*m^2) — 128-bit products, truncating "
    "division identical on both engines (negative contributions "
    "truncate toward zero on both — r8-verified), total modularity = "
    "sum of contributions.  Emits per-community (size, intra-edge "
    "count, degree mass, contribution) rows.  Scale posture: degrees "
    "and memberships are |V|-row rollups; the intra-edge count joins "
    "the undirected edge list against the membership table twice by "
    "node key (never all-pairs); m is one bounded count; the LPA "
    "rounds are O(|E|) each with the pinned edge list never "
    "re-shuffled.",
    tags=("graph",),
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _strong_edges_both_dirs(spark, sf_dir).persist()
    m = edges.count() // 2  # undirected edge count (list is symmetric)
    labels = _lpa_labels(edges)
    deg = edges.groupBy(F.col("src").alias("n")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    dsum = (
        labels.join(deg, "n")
        .groupBy("lab")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("degree_sum"),
        )
    )
    und = edges.filter(F.col("src") < F.col("dst"))
    la, lb = labels.alias("la"), labels.alias("lb")
    intra = (
        und.join(la, und["src"] == F.col("la.n"))
        .join(lb, und["dst"] == F.col("lb.n"))
        .filter(F.col("la.lab") == F.col("lb.lab"))
        .groupBy(F.col("la.lab").alias("lab"))
        .agg(F.count("*").cast("bigint").alias("intra_edges"))
    )
    out = (
        dsum.join(intra, "lab", "left")
        .select(
            F.col("lab").alias("community"),
            "n_nodes",
            F.coalesce(F.col("intra_edges"), F.lit(0)).cast("bigint").alias("intra_edges"),
            "degree_sum",
            F.expr(
                f"CAST(div((4 * CAST({m} AS DECIMAL(38,0)) * coalesce(intra_edges, 0)"
                " - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum) * 1000000,"
                f" 4 * CAST({m} AS DECIMAL(38,0)) * {m}) AS BIGINT)"
            ).alias("contrib_ppm"),
        )
    )
    return out
