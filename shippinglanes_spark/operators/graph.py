"""Iterative graph algorithms over derived relations (SURVEY §2.9).

`graph_pagerank` runs weighted PageRank on the nation-level trade graph
(customer nation -> supplier nation, weighted by lineitem count). The
point is the EXECUTION PATTERN for iterative algorithms on Spark:

- each iteration is one broadcast-joined aggregation (contributions
  keyed by destination), so an iteration is a single keyed shuffle;
- `localCheckpoint()` after each iteration keeps the plan flat —
  without it the lineage doubles per round and Catalyst analysis time
  grows exponentially (same lesson as connected_components, text.py);
- the node/rank table is small by construction (graphs aggregate), so
  it broadcasts against the edge list, which is the big side and never
  moves.

The DuckDB oracle is the same recurrence with the iterations unrolled
into chained CTEs (generated, fixed at import time), making this fully
value-checked — rare for an iterative algorithm.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import table
from ..registry import register

_DAMP = 0.85
_ITERS = 5

_EDGES_SQL = """
    e AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                 CAST(COUNT(*) AS BIGINT) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2),
    ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY src),
    n AS (SELECT n_nationkey AS id FROM nation),
    cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM n)
"""


def _pagerank_oracle() -> str:
    """Unroll the PageRank recurrence into chained CTEs."""
    ctes = [
        "fr AS (SELECT e.src, e.dst, e.w / ow.outw AS frac "
        "FROM e JOIN ow ON e.src = ow.src)",
        "r0 AS (SELECT id, 1.0 / n_nodes AS r FROM n CROSS JOIN cnt)",
    ]
    for i in range(1, _ITERS + 1):
        # float association mirrors the Spark side exactly:
        # contribution = r * (w / outw), summed per destination
        ctes.append(
            f"""m{i} AS (
      SELECT fr.dst AS id, SUM(p.r * fr.frac) AS mass
      FROM r{i - 1} p JOIN fr ON p.id = fr.src
      GROUP BY fr.dst)"""
        )
        ctes.append(
            f"""r{i} AS (
      SELECT n.id,
             (1.0 - {_DAMP}) / cnt.n_nodes +
             {_DAMP} * COALESCE(m.mass, 0.0) AS r
      FROM n CROSS JOIN cnt LEFT JOIN m{i} m ON m.id = n.id)"""
        )
    return (
        "WITH "
        + _EDGES_SQL.strip().rstrip()
        + ",\n    "
        + ",\n    ".join(ctes)
        + f"\n    SELECT id AS nation_id, ROUND(r, 6) AS pagerank FROM r{_ITERS}"
    )


@register(
    "graph_pagerank",
    section="2.9",
    oracle=_pagerank_oracle(),
    notes=f"weighted PageRank (d={_DAMP}, {_ITERS} iterations) on the "
    "nation-level trade graph derived from lineitem->orders->customer/"
    "supplier; oracle is the identical recurrence unrolled into chained "
    "CTEs, so the iterative algorithm is fully value-checked. ROUND 6 dp "
    "(float-sum order)",
)
def graph_pagerank(spark, sf_dir):
    """Iterative PageRank where each iteration is ONE keyed aggregation:
    contributions = ranks x edge fraction, grouped by destination. Ranks
    are node-count-sized (tiny — broadcast); edges are the data-sized
    side and are computed once, cached implicitly via localCheckpoint,
    and never reshuffled after their first groupBy."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            c.c_nationkey.alias("src"), s.s_nationkey.alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint()
    )
    nodes = n.select(F.col("n_nationkey").alias("id"))
    edge_rows = _dir_local_edges(edges)
    if edge_rows is not None:
        ids = _local_node_ids(nodes)
        if ids is not None and edge_rows:
            return _pagerank_local(spark, nodes, edge_rows, ids)
    return _pagerank_distributed(spark, edges, nodes)


def _pagerank_local(spark, nodes, edge_rows, ids):
    """Driver-side exact replica of the distributed iteration for the
    size-gated fast path (the betweenness discipline): outw is an exact
    integer sum, frac the same long/long double division, each mass is
    the per-destination float fold in (src, dst) order, and the damping
    expression mirrors the Spark literals op for op. ROUND 6dp absorbs
    fold-order ulps exactly as it does between Spark and the oracle."""
    from pyspark.sql import types as T

    es = sorted((r["src"], r["dst"], r["w"]) for r in edge_rows)
    n_nodes = len(ids)
    outw: dict[int, int] = {}
    for src, _dst, w in es:
        outw[src] = outw.get(src, 0) + w
    frac = [(src, dst, w / outw[src]) for src, dst, w in es]
    r = {i: 1.0 / n_nodes for i in ids}
    base = (1.0 - _DAMP) / n_nodes
    for _ in range(_ITERS):
        mass: dict[int, float] = {}
        for src, dst, fr_ in frac:
            mass[dst] = mass.get(dst, 0.0) + r[src] * fr_
        r = {i: base + _DAMP * mass.get(i, 0.0) for i in ids}
    ntype = nodes.schema["id"].dataType
    schema = T.StructType(
        [
            T.StructField("nation_id", ntype, True),
            T.StructField("pagerank", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(
        [(i, _round6(r[i])) for i in ids], schema
    )


def _pagerank_distributed(spark, edges, nodes):
    """The original iterative plan — the over-cap fallback."""
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("outw"))
    frac = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("outw")).alias("frac")
    ).localCheckpoint()

    n_nodes = nodes.count()
    ranks = nodes.select("id", F.lit(1.0 / n_nodes).alias("r"))
    for _ in range(_ITERS):
        contrib = (
            frac.join(F.broadcast(ranks), frac.src == ranks.id)
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("frac")).alias("mass"))
        )
        ranks = (
            nodes.join(contrib, nodes.id == contrib.dst, "left")
            .select(
                "id",
                (
                    F.lit((1.0 - _DAMP) / n_nodes)
                    + F.lit(_DAMP) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        F.col("id").alias("nation_id"), F.round("r", 6).alias("pagerank")
    )


@register(
    "graph_triangles",
    section="2.9",
    oracle="""
    WITH e AS (
      SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM e WHERE src <> dst),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    pernode AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT x AS id FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
      GROUP BY id)
    SELECT n.n_nationkey AS nation_id,
           CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM nation n LEFT JOIN pernode p ON p.id = n.n_nationkey
    """,
    notes="per-node triangle counts on the undirected nation trade graph "
    "via the oriented-edge (a<b) two-join enumeration: each triangle is "
    "produced exactly once as (x<y<z), then exploded back to its three "
    "corners. Orientation bounds the join fanout (the classic distributed "
    "triangle-counting trick; at real scale orient by degree instead of "
    "id); the edge list is the only data-sized relation",
)
def graph_triangles(spark, sf_dir):
    """Triangle counting with oriented edges: direct every undirected
    edge low-id -> high-id, join path a->b->c against closing edge a->c,
    so each triangle materializes once. Per-corner counts come from one
    explode + keyed count; nations without triangles are kept via a
    broadcast left join of the 25-row nation list."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .select(c.c_nationkey.alias("src"), s.s_nationkey.alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )
    ab = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    # the aggregated edge list is graph-sized (nations^2 ceiling), far
    # below any broadcast threshold — hint it so the enumeration never
    # falls back to sort-merge before AQE kicks in
    tri = ab.join(F.broadcast(bc), "y").join(F.broadcast(ac), ["x", "z"])
    pernode = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        n.select(F.col("n_nationkey").alias("nation_id"))
        .join(pernode, F.col("nation_id") == F.col("id"), "left")
        .select(
            "nation_id",
            F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"),
        )
    )


_SP_HOPS = 4
_SP_SRC = 0  # single-source: nation 0


@register(
    "graph_weighted_path",
    section="2.9",
    oracle=f"""
    WITH RECURSIVE
    {_EDGES_SQL.strip()},
    ce AS (SELECT src, dst, CAST(1000000 // w AS BIGINT) AS cost
           FROM e WHERE src <> dst),
    walk(id, cost, hops) AS (
      SELECT CAST({_SP_SRC} AS BIGINT), CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT ce.dst, w.cost + ce.cost, w.hops + 1
      FROM walk w JOIN ce ON ce.src = w.id
      WHERE w.hops < {_SP_HOPS})
    SELECT id AS nation_id, CAST(MIN(cost) AS BIGINT) AS min_cost
    FROM walk GROUP BY id
    """,
    notes=f"single-source weighted shortest path (<= {_SP_HOPS} hops) on "
    "the nation trade graph, edge cost = 1000000 // trade-volume (strong "
    "links are cheap). Spark side is bounded Bellman–Ford: each round "
    "relaxes the frontier with one broadcast join against the "
    "checkpointed edge list and folds with a keyed MIN — the distance "
    "table is graph-sized (<= |V| rows) so it broadcasts for free, and "
    "the data-sized work (edge aggregation) runs exactly once. The "
    "oracle enumerates all <= 4-hop walks with a recursive CTE and "
    "takes MIN — exponential in hops, fine on the 25-node graph, which "
    "is exactly why the engine side relaxes instead of enumerating. "
    "Integer costs make path sums engine-exact",
)
def graph_weighted_path(spark, sf_dir):
    """Bounded Bellman–Ford: dist_r(v) = min cost over paths with <= r
    edges. Each round is frontier-join-edges + union + keyed min;
    localCheckpoint keeps the iterative plan flat (same discipline as
    pagerank/connected_components)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(c.c_nationkey != s.s_nationkey)
        .groupBy(c.c_nationkey.alias("src"), s.s_nationkey.alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .select("src", "dst", (F.lit(1000000) / F.col("w")).cast("long").alias("cost"))
        .localCheckpoint()
    )
    dist = (
        table(spark, sf_dir, "nation")
        .where(F.col("n_nationkey") == _SP_SRC)
        .select(
            F.col("n_nationkey").cast("long").alias("id"),
            F.lit(0).cast("long").alias("cost"),
        )
    )
    for _ in range(_SP_HOPS):
        relax = (
            F.broadcast(dist)
            .join(edges, dist.id == edges.src)
            .select(edges.dst.alias("id"), (dist.cost + edges.cost).alias("cost"))
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("id")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint()
        )
    return dist.select(F.col("id").alias("nation_id"), F.col("cost").alias("min_cost"))


@register(
    "graph_link_prediction",
    section="2.9",
    oracle="""
    -- Pre-aggregated edge build (round-8): the old single 4-way join
    -- peaked DuckDB's hash tables at tens of GB at sf0.1 during the
    -- full-registry ritual. Collapsing lineitem to (orderkey, supplier
    -- nation, count) BEFORE the orders/customer side joins in is
    -- value-identical — each orderkey maps to exactly one customer
    -- nation, so regrouping the SUM reproduces the per-(src,dst) COUNT
    -- and the src<>dst filter commutes — but keeps every intermediate
    -- near orders-sized.
    WITH ls AS (
      SELECT l.l_orderkey AS okey, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    oc AS (
      SELECT o.o_orderkey AS okey, c.c_nationkey AS src
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    e AS (
      SELECT oc.src, ls.dst, CAST(SUM(ls.w) AS BIGINT) AS w
      FROM ls JOIN oc ON ls.okey = oc.okey
      WHERE oc.src <> ls.dst
      GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw,
                   CAST(COUNT(*) AS BIGINT) AS ne FROM e),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM e, tot WHERE w * ne >= tw),
    nbr AS (SELECT a AS v, b AS w FROM und
            UNION ALL SELECT b AS v, a AS w FROM und),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM nbr GROUP BY v),
    cn AS (SELECT x.v AS a, y.v AS b, CAST(COUNT(*) AS BIGINT) AS common
           FROM nbr x JOIN nbr y ON x.w = y.w AND x.v < y.v
           GROUP BY x.v, y.v),
    nonedge AS (
      SELECT cn.a, cn.b, cn.common FROM cn
      LEFT JOIN und ON und.a = cn.a AND und.b = cn.b
      WHERE und.a IS NULL)
    SELECT n.a AS node_a, n.b AS node_b,
           n.common AS common_neighbors,
           CAST(n.common * 1000000 // (da.d + db.d - n.common) AS BIGINT)
             AS jaccard_ppm,
           CAST(da.d * db.d AS BIGINT) AS pref_attachment
    FROM nonedge n
    JOIN deg da ON da.v = n.a
    JOIN deg db ON db.v = n.b
    """,
    notes="link prediction on the undirected nation trade graph: for "
    "every NON-adjacent pair sharing at least one neighbor, emit the "
    "three classic scores — common-neighbor count, neighborhood "
    "Jaccard (integer ppm via BIGINT floor-division, engine-exact), "
    "and preferential attachment deg_a*deg_b. Edges are the "
    "ABOVE-AVERAGE trade links (w * n_edges >= total_w — an exact "
    "integer cross-multiply, no float average), which keeps the graph "
    "mid-density at every SF; the raw nation graph saturates to a "
    "complete graph as data grows and link prediction degenerates. "
    "The wedge enumeration (neighbor-list self-join on the shared "
    "endpoint) is the same bounded-fanout shape as graph_triangles; "
    "existing edges drop via a left-anti join. All integer math — no "
    "float tolerance anywhere",
)
def graph_link_prediction(spark, sf_dir):
    """Who *should* be trading but isn't: wedge-join link prediction.
    Neighbor lists come from one distinct over the aggregated edge
    list (graph-sized, broadcastable); candidate pairs are wedges
    (v-w-u with v<u) counted per endpoint pair; known edges are
    removed with a broadcast anti-join. Degrees attach via two
    broadcast joins of the |V|-row degree table. At real scale the
    wedge join is the standard two-path enumeration bounded by
    orienting on degree; every relation after the first groupBy is
    graph-sized, so nothing here grows with the fact table."""
    und = _trade_und(spark, sf_dir)
    nbr = und.select(F.col("a").alias("v"), F.col("b").alias("w")).unionByName(
        und.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    deg = nbr.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
    x = nbr.select(F.col("v").alias("pa"), F.col("w").alias("via"))
    y = nbr.select(F.col("v").alias("pb"), F.col("w").alias("via"))
    cn = (
        x.join(F.broadcast(y), "via")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    nonedge = cn.join(
        F.broadcast(und),
        (cn.pa == und.a) & (cn.pb == und.b),
        "left_anti",
    )
    da = deg.select(F.col("v").alias("pa"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("v").alias("pb"), F.col("d").alias("deg_b"))
    return (
        nonedge.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .select(
            F.col("pa").alias("node_a"),
            F.col("pb").alias("node_b"),
            F.col("common").alias("common_neighbors"),
            F.expr(
                "CAST(common * 1000000 div (deg_a + deg_b - common) AS BIGINT)"
            ).alias("jaccard_ppm"),
            (F.col("deg_a") * F.col("deg_b")).cast("long").alias("pref_attachment"),
        )
    )


def _trade_und(spark, sf_dir):
    """Above-average-weight undirected nation trade edges (a, b), a < b —
    the single data-sized pass shared by graph_kcore / graph_closeness /
    graph_link_prediction. Returns a localCheckpointed graph-sized
    relation."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")

    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(c.c_nationkey != s.s_nationkey)
        .groupBy(c.c_nationkey.alias("src"), s.s_nationkey.alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint()
    )
    tot = e.agg(
        F.sum("w").cast("long").alias("tw"),
        F.count(F.lit(1)).cast("long").alias("ne"),
    )
    return (
        e.join(F.broadcast(tot))
        # above-average links via exact integer cross-multiply: w >= tw/ne
        .where(F.col("w") * F.col("ne") >= F.col("tw"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )


_KCORE_K = 3
_KCORE_MAX_ROUNDS = 25  # >= |V|: peeling removes >= 1 node per live round

_KCORE_BASE_SQL = """
    e AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw,
                   CAST(COUNT(*) AS BIGINT) AS ne FROM e),
    und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM e, tot WHERE w * ne >= tw),
    s0 AS MATERIALIZED (SELECT a AS v FROM und UNION SELECT b AS v FROM und)
"""


def _kcore_oracle() -> str:
    """Unroll the peeling fixpoint: after |V| rounds the surviving set
    is stable by construction (each non-converged round removes a node),
    so a fixed unroll is exact — no recursion needed."""
    ctes = []
    for i in range(1, _KCORE_MAX_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u.a AS v FROM und u
        JOIN s{i - 1} x ON x.v = u.a JOIN s{i - 1} y ON y.v = u.b
        UNION ALL
        SELECT u.b AS v FROM und u
        JOIN s{i - 1} x ON x.v = u.a JOIN s{i - 1} y ON y.v = u.b)
      GROUP BY v)"""
        )
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE d >= {_KCORE_K})"
        )
    last = f"s{_KCORE_MAX_ROUNDS}"
    return (
        "WITH "
        + _KCORE_BASE_SQL.strip()
        + ",\n    "
        + ",\n    ".join(ctes)
        + f"""
    SELECT v AS nation_id, CAST(d AS BIGINT) AS deg_in_core FROM (
      SELECT v, COUNT(*) AS d FROM (
        SELECT u.a AS v FROM und u
        JOIN {last} x ON x.v = u.a JOIN {last} y ON y.v = u.b
        UNION ALL
        SELECT u.b AS v FROM und u
        JOIN {last} x ON x.v = u.a JOIN {last} y ON y.v = u.b)
      GROUP BY v)"""
    )


@register(
    "graph_kcore",
    section="2.9",
    oracle=_kcore_oracle(),
    notes=f"{_KCORE_K}-core of the above-average trade graph (the "
    "densely-interlocked trading bloc): iteratively peel nodes with "
    f"degree < {_KCORE_K} until fixpoint, emit survivors with their "
    "in-core degree. The oracle unrolls |V| peel rounds into chained "
    "CTEs — exact without recursion because a non-converged round "
    "removes at least one node, so |V| rounds always reach the "
    "fixpoint. All integer math, no tolerance anywhere",
)
def graph_kcore(spark, sf_dir):
    """Iterative peeling with an early-exit driver loop: each round is
    two broadcast semi-joins (edges among survivors) + one keyed
    degree count — all graph-sized relations after the single
    data-sized edge aggregation. The convergence check compares
    per-round survivor counts (bounded metadata, same discipline as
    connected_components); localCheckpoint keeps the loop's plan
    flat. At 100 TB the peeling operates on the aggregated graph, so
    rounds cost O(|E_graph|), not O(|fact|)."""
    und = _trade_und(spark, sf_dir)

    def _deg_among(surv):
        alive = (
            und.join(F.broadcast(surv), und.a == surv.v, "left_semi")
            .join(F.broadcast(surv), und.b == surv.v, "left_semi")
        )
        return (
            alive.select(F.col("a").alias("v"))
            .unionByName(alive.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )

    surv = und.select(F.col("a").alias("v")).unionByName(
        und.select(F.col("b").alias("v"))
    ).distinct().localCheckpoint()
    prev = surv.count()
    for _ in range(_KCORE_MAX_ROUNDS):
        surv = (
            _deg_among(surv)
            .where(F.col("d") >= _KCORE_K)
            .select("v")
            .localCheckpoint()
        )
        cur = surv.count()
        if cur == prev:
            break
        prev = cur
    return _deg_among(surv).select(
        F.col("v").alias("nation_id"), F.col("d").alias("deg_in_core")
    )


_CL_ITERS = 6  # >= graph diameter (dense small graph; test asserts converged)


def _closeness_oracle() -> str:
    """Unroll the multi-source BFS min-plus recurrence into chained
    CTEs (the pagerank/kcore oracle pattern). Fixed at _CL_ITERS rounds
    on BOTH engines, so the comparison is exact even before asserting
    the frontier actually converged (a unit test does)."""
    ctes = [
        "bidir AS (SELECT a AS x, b AS y FROM und"
        " UNION ALL SELECT b AS x, a AS y FROM und)",
        "r0 AS (SELECT v AS s, v, 0 AS d FROM s0)",
    ]
    for i in range(1, _CL_ITERS + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
      SELECT s, v, CAST(MIN(d) AS BIGINT) AS d FROM (
        SELECT s, v, d FROM r{i - 1}
        UNION ALL
        SELECT r.s, e.y AS v, r.d + 1 AS d
        FROM r{i - 1} r JOIN bidir e ON r.v = e.x)
      GROUP BY s, v)"""
        )
    return (
        "WITH "
        + _KCORE_BASE_SQL.strip()
        + ",\n    "
        + ",\n    ".join(ctes)
        + f"""
    SELECT s AS nation_id,
           CAST(COUNT(*) - 1 AS BIGINT) AS reachable,
           CAST(SUM(d) AS BIGINT) AS dist_sum,
           (COUNT(*) - 1) * 1.0 / SUM(d) AS closeness,
           SUM(CASE WHEN d > 0 THEN CAST(60 // d AS BIGINT) ELSE 0 END)
             / 60.0 AS harmonic
    FROM r{_CL_ITERS} GROUP BY s"""
    )


@register(
    "graph_closeness",
    section="2.9",
    oracle=_closeness_oracle(),
    notes="closeness + harmonic centrality of every nation in the "
    "above-average trade graph via multi-source BFS (min-plus "
    f"iteration, {_CL_ITERS} rounds >= diameter, fixed on both "
    "engines). Distances are exact integers; closeness is ONE "
    "division of two BIGINTs; harmonic sums n_d * (60 div d) — 60 is "
    "lcm(1..6), so every reciprocal-distance term is an exact integer "
    "and the final /60.0 is a single exact division. No rounding, no "
    "tolerance, for an iterative float-free centrality",
)
def graph_closeness(spark, sf_dir):
    """Multi-source BFS as iterated relational min-plus: the frontier
    table (s, v, d) stays graph-sized (|V|^2 worst case — the nation
    graph aggregates the fact table down to <= 25 nodes), each round
    is one broadcast join against the edge list + a keyed MIN, and
    localCheckpoint keeps the looped plan flat. At 100 TB only the
    one-time edge aggregation touches the corpus; the BFS cost is
    independent of data volume."""
    und = _trade_und(spark, sf_dir)
    edge_rows = _und_local_edges(und)
    if edge_rows is not None:
        return _closeness_local(spark, und, edge_rows)
    return _closeness_distributed(spark, und)


def _closeness_local(spark, und, edge_rows):
    """Driver-side exact replica of the distributed min-plus loop for
    the size-gated fast path (the betweenness discipline): all-integer
    distances, and the only floats are the same two single divisions
    the Spark aggregate performs ((n-1)*1.0/sum and hsum/60.0, exact
    long->double casts)."""
    from pyspark.sql import types as T

    adj = _local_adj(edge_rows)
    dist = _local_bfs_dist(adj)
    per_s: dict[int, list[int]] = {s: [] for s in adj}
    for (s, _v), d in dist.items():
        per_s[s].append(d)
    out = []
    for s in sorted(adj):
        ds = per_s[s]
        reachable = len(ds) - 1
        dist_sum = sum(ds)
        closeness = (
            float(reachable) / float(dist_sum)
            if dist_sum
            else float("nan")
        )
        hsum = sum(60 // d for d in ds if d > 0)
        out.append((s, reachable, dist_sum, closeness, float(hsum) / 60.0))
    ntype = und.schema["a"].dataType
    schema = T.StructType(
        [
            T.StructField("nation_id", ntype, True),
            T.StructField("reachable", T.LongType(), True),
            T.StructField("dist_sum", T.LongType(), True),
            T.StructField("closeness", T.DoubleType(), True),
            T.StructField("harmonic", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)


def _closeness_distributed(spark, und):
    bidir = und.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    ).unionByName(und.select(F.col("b").alias("x"), F.col("a").alias("y")))
    nodes = und.select(F.col("a").alias("v")).unionByName(
        und.select(F.col("b").alias("v"))
    ).distinct()
    dist = nodes.select(
        F.col("v").alias("s"), "v", F.lit(0).cast("long").alias("d")
    ).localCheckpoint()
    for _ in range(_CL_ITERS):
        grown = dist.join(F.broadcast(bidir), dist.v == bidir.x).select(
            "s", F.col("y").alias("v"), (F.col("d") + 1).alias("d")
        )
        dist = (
            dist.unionByName(grown)
            .groupBy("s", "v")
            .agg(F.min("d").cast("long").alias("d"))
            .localCheckpoint()
        )
    return dist.groupBy(F.col("s").alias("nation_id")).agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("reachable"),
        F.sum("d").cast("long").alias("dist_sum"),
        ((F.count(F.lit(1)) - 1) * F.lit(1.0) / F.sum("d")).alias(
            "closeness"
        ),
        (
            F.sum(
                F.when(
                    F.col("d") > 0, F.expr("CAST(60 div d AS BIGINT)")
                ).otherwise(F.lit(0))
            )
            / 60.0
        ).alias("harmonic"),
    )


@register(
    "graph_modularity",
    section="2.9",
    oracle="""
    WITH e AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2),
    u AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                 CAST(SUM(w) AS BIGINT) AS uw
          FROM e GROUP BY 1, 2),
    deg AS (SELECT v, CAST(SUM(uw) AS BIGINT) AS k FROM (
              SELECT a AS v, uw FROM u UNION ALL SELECT b, uw FROM u)
            GROUP BY v),
    m2 AS (SELECT CAST(2 * SUM(uw) AS BIGINT) AS m2 FROM u),
    com AS (SELECT n_nationkey AS v, CAST(n_regionkey AS BIGINT) AS c
            FROM nation),
    inw AS (SELECT ca.c, CAST(SUM(2 * uw) AS BIGINT) AS in2
            FROM u JOIN com ca ON ca.v = u.a
                   JOIN com cb ON cb.v = u.b AND cb.c = ca.c
            GROUP BY ca.c),
    tot AS (SELECT com.c, CAST(SUM(deg.k) AS BIGINT) AS degree_sum
            FROM deg JOIN com ON com.v = deg.v GROUP BY com.c),
    rows_ AS (
      SELECT tot.c AS region_id,
             CAST(COALESCE(inw.in2, 0) AS BIGINT) AS internal_2w,
             tot.degree_sum,
             CAST(COALESCE(inw.in2, 0) * m2.m2
                  - tot.degree_sum * tot.degree_sum AS BIGINT)
               AS contrib_num,
             m2.m2
      FROM tot LEFT JOIN inw ON inw.c = tot.c CROSS JOIN m2)
    SELECT region_id, internal_2w, degree_sum, contrib_num,
           CAST(contrib_num AS DOUBLE) / (m2 * m2) AS contribution,
           CAST(SUM(contrib_num) OVER () AS DOUBLE) / (m2 * m2)
             AS q_total
    FROM rows_
    """,
    notes="Newman modularity of the REGION partition of the weighted "
    "nation trade graph, per community and in total. Scaled by (2m)^2 "
    "the whole statistic is integer: contrib_num = in2w*2m - tot^2 "
    "(max ~6e14, inside BIGINT and < 2^53 so even the final single "
    "division is exact), and Q totals by an integer window SUM — an "
    "exact-arithmetic community-quality metric with zero tolerance. "
    "The usual float formulation sums per-community doubles in "
    "nondeterministic order; the integer numerator sidesteps it",
)
def graph_modularity(spark, sf_dir):
    """Partition-quality scoring, the evaluation half of community
    detection: one data-sized edge aggregation, then everything is
    graph-sized (undirected weights, degrees, per-community sums)
    with the 5-row community table broadcast. The exact integer
    numerator makes Q reproducible across partitionings and engines —
    the property you need when a 100 TB nightly job diffs community
    quality day over day."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(c.c_nationkey != s.s_nationkey)
        .groupBy(c.c_nationkey.alias("src"), s.s_nationkey.alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint()
    )
    u = (
        e.groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .agg(F.sum("w").cast("long").alias("uw"))
        .localCheckpoint()
    )
    deg = (
        u.select(F.col("a").alias("v"), "uw")
        .unionByName(u.select(F.col("b").alias("v"), "uw"))
        .groupBy("v")
        .agg(F.sum("uw").cast("long").alias("k"))
    )
    m2 = u.agg((2 * F.sum("uw")).cast("long").alias("m2"))
    com = n.select(
        F.col("n_nationkey").alias("v"),
        F.col("n_regionkey").cast("long").alias("c"),
    )
    ca = com.select(F.col("v").alias("va"), F.col("c").alias("comm"))
    cb = com.select(F.col("v").alias("vb"), F.col("c").alias("comm_b"))
    inw = (
        u.join(F.broadcast(ca), u.a == ca.va)
        .join(
            F.broadcast(cb),
            (u.b == cb.vb) & (F.col("comm_b") == F.col("comm")),
        )
        .groupBy(F.col("comm").alias("c"))
        .agg((2 * F.sum("uw")).cast("long").alias("in2"))
    )
    tot = (
        deg.join(F.broadcast(com), "v")
        .groupBy("c")
        .agg(F.sum("k").cast("long").alias("degree_sum"))
    )
    rows = (
        tot.join(inw, "c", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            F.col("c").alias("region_id"),
            F.coalesce(F.col("in2"), F.lit(0)).cast("long").alias(
                "internal_2w"
            ),
            "degree_sum",
            (
                F.coalesce(F.col("in2"), F.lit(0)) * F.col("m2")
                - F.col("degree_sum") * F.col("degree_sum")
            )
            .cast("long")
            .alias("contrib_num"),
            "m2",
        )
    )
    denom = (F.col("m2") * F.col("m2")).cast("double")
    return rows.select(
        "region_id",
        "internal_2w",
        "degree_sum",
        "contrib_num",
        (F.col("contrib_num").cast("double") / denom).alias("contribution"),
        (
            F.sum("contrib_num")
            .over(Window.partitionBy())
            .cast("double")
            / denom
        ).alias("q_total"),
    )


@register(
    "graph_assortativity",
    section="2.9",
    oracle="WITH " + _KCORE_BASE_SQL.strip() + """,
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS k FROM (
              SELECT a AS v FROM und UNION ALL SELECT b FROM und)
            GROUP BY v),
    pairs AS (
      SELECT da.k AS j, db.k AS k FROM und
        JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b
      UNION ALL
      SELECT db.k, da.k FROM und
        JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS bm,
                 CAST(SUM(j * k) AS BIGINT) AS sjk,
                 CAST(SUM(j) AS BIGINT) AS sj,
                 CAST(SUM(j * j) AS BIGINT) AS sjj
          FROM pairs)
    SELECT bm // 2 AS n_edges,
           CAST(bm * sjk - sj * sj AS BIGINT) AS r_num,
           CAST(bm * sjj - sj * sj AS BIGINT) AS r_den,
           CASE WHEN bm * sjj - sj * sj = 0 THEN NULL
                ELSE CAST(bm * sjk - sj * sj AS DOUBLE)
                     / (bm * sjj - sj * sj) END AS assortativity
    FROM m
    """,
    notes="Newman degree assortativity of the above-average trade "
    "graph (the raw graph is COMPLETE at sf>=0.01 — zero degree "
    "variance, undefined r — the link-prediction gotcha again): "
    "the Pearson correlation of endpoint degrees over ordered edge "
    "pairs collapses (by endpoint symmetry) to r = (M*Sjk - Sj^2) / "
    "(M*Sjj - Sj^2) over both orientations — THREE exact integer "
    "moments and one final division of < 2^53 integers, so the "
    "negative-or-positive-mixing verdict carries no float tolerance. "
    "Complements graph_modularity (community quality) with the "
    "degree-mixing diagnostic",
)
def graph_assortativity(spark, sf_dir):
    """Do high-degree trade hubs link to other hubs or to the
    periphery? One data-sized distinct-edge pass; degrees, pair
    moments, and the statistic are all graph-sized with the degree
    table broadcast into the edge join. The moment formulation means
    NO per-edge floats ever materialize."""
    und = _trade_und(spark, sf_dir)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    da = deg.select(F.col("v").alias("va"), F.col("k").alias("ka"))
    db = deg.select(F.col("v").alias("vb"), F.col("k").alias("kb"))
    joined = und.join(F.broadcast(da), und.a == da.va).join(
        F.broadcast(db), und.b == db.vb
    )
    pairs = joined.select(
        F.col("ka").alias("j"), F.col("kb").alias("k")
    ).unionByName(joined.select(F.col("kb").alias("j"), F.col("ka").alias("k")))
    m = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("bm"),
        F.sum(F.col("j") * F.col("k")).cast("long").alias("sjk"),
        F.sum("j").cast("long").alias("sj"),
        F.sum(F.col("j") * F.col("j")).cast("long").alias("sjj"),
    )
    num = F.col("bm") * F.col("sjk") - F.col("sj") * F.col("sj")
    den = F.col("bm") * F.col("sjj") - F.col("sj") * F.col("sj")
    return m.select(
        F.expr("bm div 2").alias("n_edges"),
        num.cast("long").alias("r_num"),
        den.cast("long").alias("r_den"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(num.cast("double") / den)
        .alias("assortativity"),
    )


_WALK_STEPS = 4


def _walks_cte_and_union() -> tuple[str, str]:
    """The unrolled walk CTE chain and the step-union select — shared
    by the graph_random_walks oracle and the node2vec-pairs oracle
    built on top of it."""
    ctes = [
        """bidir AS (SELECT a AS u, b AS v FROM und
                 UNION ALL SELECT b AS u, a AS v FROM und),
    nbr AS (SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY v)
                 AS rn FROM bidir),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM bidir
            GROUP BY u),
    w0 AS (SELECT v AS walk_id, v AS cur FROM s0)"""
    ]
    for t in range(1, _WALK_STEPS + 1):
        ctes.append(
            f"""w{t} AS (
      SELECT w.walk_id, n.v AS cur
      FROM w{t - 1} w
      JOIN deg ON deg.u = w.cur
      JOIN nbr n ON n.u = w.cur
       AND n.rn = 1 + (('0x' || substr(md5('walk:' ||
             CAST(w.walk_id AS VARCHAR) || ':{t}'), 1, 13))::BIGINT
             % deg.d))"""
        )
    selects = [
        f"SELECT CAST(walk_id AS BIGINT) AS walk_id, "
        f"CAST({t} AS BIGINT) AS step, CAST(cur AS BIGINT) AS node "
        f"FROM w{t}"
        for t in range(_WALK_STEPS + 1)
    ]
    return (
        "WITH "
        + _KCORE_BASE_SQL.strip()
        + ",\n    "
        + ",\n    ".join(ctes),
        "\n    UNION ALL ".join(selects),
    )


def _walks_oracle() -> str:
    """Unrolled walk steps: each step is one deterministic neighbor
    pick (md5-derandomized index into the sorted adjacency list)."""
    ctes, union = _walks_cte_and_union()
    return ctes + "\n    " + union


def _node2vec_pairs_oracle() -> str:
    ctes, union = _walks_cte_and_union()
    return (
        ctes
        + ",\n    walks AS (\n    "
        + union
        + """)
    SELECT wa.node AS center, wb.node AS context,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM walks wa JOIN walks wb
      ON wa.walk_id = wb.walk_id
     AND abs(wa.step - wb.step) BETWEEN 1 AND 2
    GROUP BY 1, 2
    """
    )


@register(
    "graph_random_walks",
    section="2.9",
    oracle=_walks_oracle(),
    notes="node2vec-style walk generation for graph-embedding training "
    "data: one fixed-length walk per node over the above-average trade "
    "graph, each step picking a neighbor by a CONTENT-ADDRESSED md5 "
    "index into the sorted adjacency list (md5('walk:'||id||':'||step) "
    "% degree) — never rand(), so walks are reproducible across "
    "engines, runs, and corpus growth. Each step is one equi-join of "
    "the frontier against the graph-sized adjacency relation; at "
    "100 TB node count the picture is unchanged (frontier and "
    "adjacency shuffle on the node key; the walk-length loop is fixed, "
    "not data-dependent)",
)
def graph_random_walks(spark, sf_dir):
    """The corpus reduces to the edge list once (shared _trade_und
    pass); each of the 4 unrolled steps is a frontier->adjacency
    equi-join with a derandomized pick — the skip-gram pair generator
    for graph embeddings, minus any RNG state. The walk domain is the
    nation graph (fixed ~25 nodes at ANY corpus size), so below the
    64-node gate the 4-step recurrence runs driver-side over the
    collected (capped, fenced) edge list — the betweenness/pagerank
    discipline; the distributed loop is unchanged as the over-cap
    fallback."""
    und = _trade_und(spark, sf_dir)
    edge_rows = _und_local_edges(und)
    if edge_rows is not None:
        return _walks_local_df(spark, edge_rows)
    return _walks_distributed(spark, und)


def _walks_local_df(spark, edge_rows):
    """The gated local-walks entry shared by graph_random_walks and any
    future walk consumer: one schema, one createDataFrame."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("walk_id", T.LongType(), True),
            T.StructField("step", T.LongType(), True),
            T.StructField("node", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(_walks_local_rows(edge_rows), schema)


def _walks_local_rows(edge_rows):
    """Driver-side replica of the distributed walk loop: sorted
    adjacency, pick = ('0x'+md5('walk:'+id+':'+t)[:13]) % degree.
    All-integer — no float divergence surface at all."""
    import hashlib

    adj = _local_adj(edge_rows)
    for v in adj:
        adj[v].sort()
    out = []
    for v in sorted(adj):
        cur = v
        out.append((v, 0, cur))
        for t in range(1, _WALK_STEPS + 1):
            nb = adj[cur]
            h = hashlib.md5(f"walk:{v}:{t}".encode()).hexdigest()[:13]
            cur = nb[int(h, 16) % len(nb)]
            out.append((v, t, cur))
    return out


def _walks_distributed(spark, und):
    bidir = und.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionByName(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
    nbr = bidir.withColumn(
        "rn", F.row_number().over(Window.partitionBy("u").orderBy("v"))
    ).localCheckpoint()
    deg = nbr.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    frontier = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .distinct()
        .select(F.col("v").alias("walk_id"), F.col("v").alias("cur"))
    )
    parts = [
        frontier.select(
            F.col("walk_id").cast("long"),
            F.lit(0).cast("long").alias("step"),
            F.col("cur").cast("long").alias("node"),
        )
    ]
    for t in range(1, _WALK_STEPS + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("walk:"),
                            F.col("walk_id").cast("string"),
                            F.lit(f":{t}"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % F.col("d")
        )
        frontier = (
            frontier.join(F.broadcast(deg), frontier.cur == deg.u)
            .withColumn("pick", pick)
            .join(
                F.broadcast(
                    nbr.select(
                        F.col("u").alias("nu"),
                        F.col("v").alias("nxt"),
                        "rn",
                    )
                ),
                (F.col("cur") == F.col("nu"))
                & (F.col("rn") == F.col("pick") + 1),
            )
            .select("walk_id", F.col("nxt").alias("cur"))
        )
        parts.append(
            frontier.select(
                F.col("walk_id").cast("long"),
                F.lit(t).cast("long").alias("step"),
                F.col("cur").cast("long").alias("node"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "graph_node2vec_pairs",
    section="2.9",
    oracle=_node2vec_pairs_oracle(),
    notes="skip-gram (center, context) pair extraction from the "
    "derandomized random walks — the actual training-example "
    "generator for node2vec/DeepWalk graph embeddings (window "
    "size 2). The walk table is node-count-sized (walks are fixed "
    "length), so the within-walk self-join is tiny and keyed on "
    "walk_id; pair counts aggregate with map-side combine. At 100 TB "
    "the corpus cost is the single edge-derivation pass inherited "
    "from graph_random_walks; everything after is graph-sized",
)
def graph_node2vec_pairs(spark, sf_dir):
    """walks x walks within a walk_id, |step gap| in [1, 2]. Under the
    same 64-node gate as graph_random_walks the pair extraction is a
    driver-side integer count over the locally generated walks (25
    walks x 5 steps); over the cap, the distributed self-join runs on
    the checkpointed distributed walk table."""
    und = _trade_und(spark, sf_dir)
    edge_rows = _und_local_edges(und)
    if edge_rows is not None:
        from pyspark.sql import types as T

        bywalk: dict[int, list[tuple[int, int]]] = {}
        for wid, step, node in _walks_local_rows(edge_rows):
            bywalk.setdefault(wid, []).append((step, node))
        counts: dict[tuple[int, int], int] = {}
        for sn in bywalk.values():
            for sa, na in sn:
                for sb, nb in sn:
                    if 1 <= abs(sa - sb) <= 2:
                        counts[(na, nb)] = counts.get((na, nb), 0) + 1
        schema = T.StructType(
            [
                T.StructField("center", T.LongType(), True),
                T.StructField("context", T.LongType(), True),
                T.StructField("n_pairs", T.LongType(), True),
            ]
        )
        rows = [(c, x, n) for (c, x), n in sorted(counts.items())]
        return spark.createDataFrame(rows, schema)
    walks = _walks_distributed(spark, und).localCheckpoint()
    wa = walks.alias("wa")
    wb = walks.alias("wb")
    gap = F.abs(F.col("wa.step") - F.col("wb.step"))
    return (
        wa.join(
            wb,
            (F.col("wa.walk_id") == F.col("wb.walk_id"))
            & gap.between(1, 2),
        )
        .groupBy(
            F.col("wa.node").alias("center"),
            F.col("wb.node").alias("context"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def _betweenness_oracle() -> str:
    """Distances via the closeness BFS chain, then shortest-path
    counts sigma(s, v) level by level (exact integers), then the
    all-triples Brandes identity folded in (s, t) order per vertex."""
    ctes = [
        "bidir AS (SELECT a AS x, b AS y FROM und"
        " UNION ALL SELECT b AS x, a AS y FROM und)",
        "r0 AS (SELECT v AS s, v, 0 AS d FROM s0)",
    ]
    for i in range(1, _CL_ITERS + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
      SELECT s, v, CAST(MIN(d) AS BIGINT) AS d FROM (
        SELECT s, v, d FROM r{i - 1}
        UNION ALL
        SELECT r.s, e.y AS v, r.d + 1 AS d
        FROM r{i - 1} r JOIN bidir e ON r.v = e.x)
      GROUP BY s, v)"""
        )
    ctes.append(
        f"dd AS MATERIALIZED (SELECT s, v, d FROM r{_CL_ITERS})"
    )
    ctes.append(
        "sg0 AS (SELECT v AS s, v, CAST(1 AS BIGINT) AS sig,"
        " CAST(0 AS BIGINT) AS d FROM s0)"
    )
    for l in range(1, _CL_ITERS + 1):
        ctes.append(
            f"""sg{l} AS MATERIALIZED (
      SELECT s, v, sig, d FROM sg{l - 1}
      UNION ALL
      SELECT p.s, e.y AS v, CAST(SUM(p.sig) AS BIGINT) AS sig,
             CAST({l} AS BIGINT) AS d
      FROM sg{l - 1} p
      JOIN bidir e ON p.v = e.x
      JOIN dd ON dd.s = p.s AND dd.v = e.y AND dd.d = {l}
      WHERE p.d = {l - 1}
      GROUP BY p.s, e.y)"""
        )
    return (
        "WITH "
        + _KCORE_BASE_SQL.strip()
        + ",\n    "
        + ",\n    ".join(ctes)
        + f""",
    sig AS (SELECT s, v, sig FROM sg{_CL_ITERS}),
    terms AS (
      SELECT m.v AS vid, dsv.s AS s, dvt.s AS t,
             (ssv.sig / sst.sig) * svt.sig AS term
      FROM s0 m
      JOIN dd dsv ON dsv.v = m.v
      JOIN dd dvt ON dvt.v = m.v AND dsv.s < dvt.s
      JOIN dd dst ON dst.s = dsv.s AND dst.v = dvt.s
      JOIN sig ssv ON ssv.s = dsv.s AND ssv.v = m.v
      JOIN sig svt ON svt.s = dvt.s AND svt.v = m.v
      JOIN sig sst ON sst.s = dsv.s AND sst.v = dvt.s
      WHERE dsv.s <> m.v AND dvt.s <> m.v
        AND dsv.d + dvt.d = dst.d)
    SELECT s0.v AS nation_id,
           CAST(COALESCE(f.np, 0) AS BIGINT) AS n_pair_terms,
           COALESCE(f.bt, 0.0) AS betweenness
    FROM s0 LEFT JOIN (
      SELECT vid, CAST(COUNT(*) AS BIGINT) AS np,
             FLOOR(list_reduce(
               list_prepend(0.0, list(term ORDER BY s, t)),
               (a, b) -> a + b) * 1e6) / 1e6 AS bt
      FROM terms GROUP BY vid) f ON f.vid = s0.v"""
    )


# Driver fast-path gate for the BFS-family centralities: the trade
# graph's node domain is nation keys (fixed ~25 at any corpus size).
# 64 nodes bounds betweenness's all-triples fold at ~131k Python
# iterations; the edge probe cap is the complete graph on that many
# nodes. Over either cap the distributed loops run unchanged.
_BT_LOCAL_MAX_NODES = 64
_BT_LOCAL_MAX_EDGES = _BT_LOCAL_MAX_NODES * (_BT_LOCAL_MAX_NODES - 1) // 2
# graph_connected_components' probe sees DIRECTED nation pairs, and its
# local work is O(E) union-find (no V^3 stage), so the cap is just the
# directed complete graph on the same node bound.
_CC_LOCAL_MAX_EDGES = _BT_LOCAL_MAX_NODES * (_BT_LOCAL_MAX_NODES - 1)


def _und_local_edges(und):
    """Capped edge probe shared by the nation-graph driver fast paths:
    returns the collected edge list when the graph fits the local gate,
    None when the distributed path must run. The collect is bounded by
    construction (limit cap+1) — see tests/test_driver_fence.py."""
    rows = und.limit(_BT_LOCAL_MAX_EDGES + 1).collect()
    if len(rows) > _BT_LOCAL_MAX_EDGES:
        return None
    nodes = {r["a"] for r in rows} | {r["b"] for r in rows}
    if len(nodes) > _BT_LOCAL_MAX_NODES:
        return None
    return rows


def _local_adj(edge_rows):
    adj: dict[int, list[int]] = {}
    for r in edge_rows:
        adj.setdefault(r["a"], []).append(r["b"])
        adj.setdefault(r["b"], []).append(r["a"])
    return adj


def _local_bfs_dist(adj):
    """(s, v) -> d for all pairs within _CL_ITERS hops — the exact
    replica of the distributed min-plus loop (which also never sees a
    pair past _CL_ITERS iterations)."""
    dist: dict[tuple[int, int], int] = {}
    for s in adj:
        dist[(s, s)] = 0
        frontier = [s]
        for lvl in range(1, _CL_ITERS + 1):
            nxt = []
            for p in frontier:
                for y in adj[p]:
                    if (s, y) not in dist:
                        dist[(s, y)] = lvl
                        nxt.append(y)
            if not nxt:
                break
            frontier = nxt
    return dist


# Directed-edge flavor of the gate for the score-iteration family
# (pagerank / HITS): their edge relation is DIRECTED nation pairs with
# self-loops allowed, so the cap is the full directed square.
_DIR_LOCAL_MAX_EDGES = _BT_LOCAL_MAX_NODES * _BT_LOCAL_MAX_NODES


def _dir_local_edges(edges):
    """Capped DIRECTED edge probe for the pagerank/HITS driver fast
    paths: the collected (src, dst, w) list when the graph fits the
    local gate, None when the distributed loop must run. Bounded by
    construction (limit cap+1) — see tests/test_driver_fence.py."""
    rows = edges.limit(_DIR_LOCAL_MAX_EDGES + 1).collect()
    if len(rows) > _DIR_LOCAL_MAX_EDGES:
        return None
    nodes = {r["src"] for r in rows} | {r["dst"] for r in rows}
    if len(nodes) > _BT_LOCAL_MAX_NODES:
        return None
    return rows


def _local_node_ids(nodes):
    """Capped node-domain probe (the nation table): sorted id list, or
    None over the gate. Bounded by construction (limit cap+1)."""
    rows = nodes.limit(_BT_LOCAL_MAX_NODES + 1).collect()
    if len(rows) > _BT_LOCAL_MAX_NODES:
        return None
    return sorted(r["id"] for r in rows)


def _round6(x: float) -> float:
    """Spark ROUND(double, 6) replica for the driver fast paths:
    HALF_UP on the shortest decimal representation (Spark rounds
    BigDecimal.valueOf(d) = new BigDecimal(Double.toString(d)), and
    Python's repr() produces the same shortest round-trip digits)."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


@register(
    "graph_betweenness",
    section="2.9",
    oracle=_betweenness_oracle(),
    notes="exact betweenness centrality on the above-average trade "
    "graph via the all-triples Brandes identity: bt(v) = sum over "
    "unordered pairs s<t (v not an endpoint, pair connected) of "
    "sigma(s,v) * sigma(v,t) / sigma(s,t) where d(s,v) + d(v,t) = "
    "d(s,t). Distances come from the closeness multi-source BFS "
    "(exact integer min-plus), path counts sigma build level by "
    "level as EXACT BIGINTs (sigma(s,v) = sum of sigma over "
    "predecessors on shortest paths), and the only floats are the "
    "per-triple ratios, folded per vertex in (s, t) order with a 0.0 "
    "seed so the sum is order-pinned (floored 6 dp). Everything "
    "after the one corpus-sized edge aggregation is graph-sized: "
    "the all-triples stage is |V|^3 on the AGGREGATED nation graph "
    "— the right trade for exactness here; at billion-node scale "
    "you'd swap in Brandes' backward accumulation over the same "
    "sigma table or sampled pivots (documented, not needed at "
    "nation granularity)",
)
def graph_betweenness(spark, sf_dir):
    """BFS distances + level-synchronous sigma counting + triple
    join. The trade graph is nation-keyed — a FIXED domain (~25 nodes
    at any corpus size) — so after the one corpus-sized aggregation in
    _trade_und everything is metadata. Below _BT_LOCAL_MAX_NODES the
    exact all-triples fold runs on the driver in one pass (the
    connected_components union-find discipline: a size-bounded driver
    branch, not a scale leak — the 12 per-iteration checkpoint jobs of
    the distributed loop cost ~7 s of pure scheduling at any SF); over
    the cap the distributed level-synchronous path below runs
    unchanged. Float semantics are replicated operation for operation
    (long->double casts, per-vid (s,t)-ordered fold from a 0.0 seed),
    so the result is bit-identical — certified by the DuckDB hash
    oracle and the independent Brandes reference test."""
    und = _trade_und(spark, sf_dir)
    edge_rows = _und_local_edges(und)
    if edge_rows is not None:
        return _betweenness_local(spark, und, edge_rows)
    return _betweenness_distributed(spark, und)


def _betweenness_local(spark, und, edge_rows):
    """Driver-side exact replica of the distributed plan below, for the
    size-gated fast path: BFS to _CL_ITERS levels, level-synchronous
    sigma, all-triples Brandes identity with the (s, t)-ordered float
    fold. Every float op mirrors the Spark expression (float() = the
    long->double cast; sums accumulate in the same order)."""
    import math

    from pyspark.sql import types as T

    adj = _local_adj(edge_rows)
    nodes_sorted = sorted(adj)
    dist: dict[tuple[int, int], int] = {}
    sig: dict[tuple[int, int], int] = {}
    for s in nodes_sorted:
        dist[(s, s)] = 0
        sig[(s, s)] = 1
        frontier = [s]
        for lvl in range(1, _CL_ITERS + 1):
            counts: dict[int, int] = {}
            for p in frontier:
                sp = sig[(s, p)]
                for y in adj[p]:
                    if (s, y) not in dist:
                        counts[y] = counts.get(y, 0) + sp
            if not counts:
                break
            for y, c in counts.items():
                dist[(s, y)] = lvl
                sig[(s, y)] = c
            frontier = list(counts)
    out = []
    for vid in nodes_sorted:
        np_ = 0
        acc = 0.0
        for s in nodes_sorted:
            if s == vid:
                continue
            dsv = dist.get((s, vid))
            if dsv is None:
                continue
            for t in nodes_sorted:
                if t <= s or t == vid:
                    continue
                dvt = dist.get((t, vid))
                if dvt is None:
                    continue
                dst = dist.get((s, t))
                if dst is None or dsv + dvt != dst:
                    continue
                # (sig(s,v) / sig(s,t)) * sig(t,v), longs cast to
                # double first exactly as Spark's `/` does; s asc then
                # t asc IS the array_sort(struct(s, t, term)) order
                acc += (
                    float(sig[(s, vid)]) / float(sig[(s, t)])
                ) * float(sig[(t, vid)])
                np_ += 1
        bt = math.floor(acc * 1e6) / 1e6 if np_ else 0.0
        out.append((vid, np_, bt))
    ntype = und.schema["a"].dataType
    schema = T.StructType(
        [
            T.StructField("nation_id", ntype, True),
            T.StructField("n_pair_terms", T.LongType(), True),
            T.StructField("betweenness", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)


def _betweenness_distributed(spark, und):
    bidir = und.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    ).unionByName(und.select(F.col("b").alias("x"), F.col("a").alias("y")))
    nodes = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    dist = nodes.select(
        F.col("v").alias("s"), "v", F.lit(0).cast("long").alias("d")
    ).localCheckpoint()
    for _ in range(_CL_ITERS):
        grown = dist.join(F.broadcast(bidir), dist.v == bidir.x).select(
            "s", F.col("y").alias("v"), (F.col("d") + 1).alias("d")
        )
        dist = (
            dist.unionByName(grown)
            .groupBy("s", "v")
            .agg(F.min("d").cast("long").alias("d"))
            .localCheckpoint()
        )
    sig = nodes.select(
        F.col("v").alias("s"),
        "v",
        F.lit(1).cast("long").alias("sig"),
        F.lit(0).cast("long").alias("d"),
    ).localCheckpoint()
    for lvl in range(1, _CL_ITERS + 1):
        frontier = (
            sig.where(F.col("d") == lvl - 1)
            .join(F.broadcast(bidir), sig.v == bidir.x)
            .join(
                F.broadcast(
                    dist.where(F.col("d") == lvl).select(
                        F.col("s").alias("ds"), F.col("v").alias("dv")
                    )
                ),
                (F.col("s") == F.col("ds")) & (F.col("y") == F.col("dv")),
            )
            .groupBy("s", F.col("y").alias("v"))
            .agg(F.sum("sig").cast("long").alias("sig"))
            .select("s", "v", "sig", F.lit(lvl).cast("long").alias("d"))
        )
        sig = sig.unionByName(frontier).localCheckpoint()
    dsv = dist.select(F.col("s"), F.col("v").alias("vid"), F.col("d").alias("dsv"))
    dvt = dist.select(
        F.col("s").alias("t"), F.col("v").alias("vid2"), F.col("d").alias("dvt")
    )
    dst = dist.select(
        F.col("s").alias("s2"), F.col("v").alias("t2"), F.col("d").alias("dst")
    )
    ssv = sig.select(F.col("s").alias("a1"), F.col("v").alias("b1"), F.col("sig").alias("sigsv"))
    svt = sig.select(F.col("s").alias("a2"), F.col("v").alias("b2"), F.col("sig").alias("sigvt"))
    sst = sig.select(F.col("s").alias("a3"), F.col("v").alias("b3"), F.col("sig").alias("sigst"))
    terms = (
        dsv.join(dvt, (F.col("vid") == F.col("vid2")) & (F.col("s") < F.col("t")))
        .where((F.col("s") != F.col("vid")) & (F.col("t") != F.col("vid")))
        .join(dst, (F.col("s2") == F.col("s")) & (F.col("t2") == F.col("t")))
        .where(F.col("dsv") + F.col("dvt") == F.col("dst"))
        .join(ssv, (F.col("a1") == F.col("s")) & (F.col("b1") == F.col("vid")))
        .join(svt, (F.col("a2") == F.col("t")) & (F.col("b2") == F.col("vid")))
        .join(sst, (F.col("a3") == F.col("s")) & (F.col("b3") == F.col("t")))
        .select(
            "vid",
            "s",
            "t",
            ((F.col("sigsv") / F.col("sigst")) * F.col("sigvt")).alias("term"),
        )
    )
    folded = terms.groupBy("vid").agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        (
            F.floor(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct("s", "t", F.col("term")))
                    ),
                    F.lit(0.0),
                    lambda acc, r: acc + r["term"],
                )
                * 1e6
            )
            / 1e6
        ).alias("bt"),
    )
    return nodes.join(folded, nodes.v == folded.vid, "left").select(
        F.col("v").alias("nation_id"),
        F.coalesce(F.col("np"), F.lit(0)).cast("long").alias("n_pair_terms"),
        F.coalesce(F.col("bt"), F.lit(0.0)).alias("betweenness"),
    )


def _eccentricity_oracle() -> str:
    ctes = [
        "bidir AS (SELECT a AS x, b AS y FROM und"
        " UNION ALL SELECT b AS x, a AS y FROM und)",
        "r0 AS (SELECT v AS s, v, 0 AS d FROM s0)",
    ]
    for i in range(1, _CL_ITERS + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
      SELECT s, v, CAST(MIN(d) AS BIGINT) AS d FROM (
        SELECT s, v, d FROM r{i - 1}
        UNION ALL
        SELECT r.s, e.y AS v, r.d + 1 AS d
        FROM r{i - 1} r JOIN bidir e ON r.v = e.x)
      GROUP BY s, v)"""
        )
    return (
        "WITH "
        + _KCORE_BASE_SQL.strip()
        + ",\n    "
        + ",\n    ".join(ctes)
        + f""",
    ecc AS (SELECT s AS nation_id, CAST(MAX(d) AS BIGINT) AS ecc
            FROM r{_CL_ITERS} GROUP BY s),
    gl AS (SELECT CAST(MAX(ecc) AS BIGINT) AS diameter,
                  CAST(MIN(ecc) AS BIGINT) AS radius FROM ecc)
    SELECT nation_id, ecc, diameter, radius,
           CAST(ecc = diameter AS BIGINT) AS is_peripheral,
           CAST(ecc = radius AS BIGINT) AS is_central
    FROM ecc CROSS JOIN gl
    """
    )


@register(
    "graph_eccentricity",
    section="2.9",
    oracle=_eccentricity_oracle(),
    notes="per-node eccentricity (max BFS distance), graph diameter "
    "and radius, and the periphery/center flags — the structural "
    "companion to graph_closeness, computed from the SAME multi-"
    "source min-plus BFS (exact integer distances, fixed rounds >= "
    "diameter on both engines). Every number is an exact BIGINT; the "
    "diameter/radius roll-up is a 1-row broadcast back over the "
    "node-sized eccentricity table. Corpus cost is the one-time edge "
    "aggregation inherited from _trade_und",
)
def graph_eccentricity(spark, sf_dir):
    und = _trade_und(spark, sf_dir)
    edge_rows = _und_local_edges(und)
    if edge_rows is not None:
        return _eccentricity_local(spark, und, edge_rows)
    return _eccentricity_distributed(spark, und)


def _eccentricity_local(spark, und, edge_rows):
    """Driver-side exact replica for the size-gated fast path (the
    betweenness discipline): every output is an exact integer."""
    from pyspark.sql import types as T

    adj = _local_adj(edge_rows)
    dist = _local_bfs_dist(adj)
    ecc: dict[int, int] = {s: 0 for s in adj}
    for (s, _v), d in dist.items():
        if d > ecc[s]:
            ecc[s] = d
    diameter = max(ecc.values())
    radius = min(ecc.values())
    out = [
        (
            s,
            e,
            diameter,
            radius,
            1 if e == diameter else 0,
            1 if e == radius else 0,
        )
        for s, e in sorted(ecc.items())
    ]
    ntype = und.schema["a"].dataType
    schema = T.StructType(
        [
            T.StructField("nation_id", ntype, True),
            T.StructField("ecc", T.LongType(), True),
            T.StructField("diameter", T.LongType(), True),
            T.StructField("radius", T.LongType(), True),
            T.StructField("is_peripheral", T.LongType(), True),
            T.StructField("is_central", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)


def _eccentricity_distributed(spark, und):
    bidir = und.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    ).unionByName(und.select(F.col("b").alias("x"), F.col("a").alias("y")))
    nodes = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .distinct()
    )
    dist = nodes.select(
        F.col("v").alias("s"), "v", F.lit(0).cast("long").alias("d")
    ).localCheckpoint()
    for _ in range(_CL_ITERS):
        grown = dist.join(F.broadcast(bidir), dist.v == bidir.x).select(
            "s", F.col("y").alias("v"), (F.col("d") + 1).alias("d")
        )
        dist = (
            dist.unionByName(grown)
            .groupBy("s", "v")
            .agg(F.min("d").cast("long").alias("d"))
            .localCheckpoint()
        )
    ecc = dist.groupBy(F.col("s").alias("nation_id")).agg(
        F.max("d").cast("long").alias("ecc")
    )
    glob = ecc.agg(
        F.max("ecc").cast("long").alias("diameter"),
        F.min("ecc").cast("long").alias("radius"),
    )
    return ecc.crossJoin(F.broadcast(glob)).select(
        "nation_id",
        "ecc",
        "diameter",
        "radius",
        (F.col("ecc") == F.col("diameter")).cast("long").alias("is_peripheral"),
        (F.col("ecc") == F.col("radius")).cast("long").alias("is_central"),
    )


@register(
    "graph_rich_club",
    section="2.9",
    oracle="WITH "
    + _KCORE_BASE_SQL.strip()
    + """,
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
              SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
            GROUP BY v),
    ks AS (SELECT DISTINCT d AS k FROM deg),
    rich AS (SELECT ks.k, deg.v
             FROM ks JOIN deg ON deg.d > ks.k),
    nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_rich FROM rich
           GROUP BY k),
    ek AS (SELECT r1.k, CAST(COUNT(*) AS BIGINT) AS e_rich
           FROM und
           JOIN rich r1 ON r1.v = und.a
           JOIN rich r2 ON r2.v = und.b AND r2.k = r1.k
           GROUP BY r1.k)
    SELECT nk.k, nk.n_rich,
           CAST(COALESCE(ek.e_rich, 0) AS BIGINT) AS e_rich,
           CAST(COALESCE(ek.e_rich, 0) * 2000000
                // (nk.n_rich * (nk.n_rich - 1)) AS BIGINT) AS phi_ppm
    FROM nk LEFT JOIN ek ON ek.k = nk.k
    WHERE nk.n_rich >= 2
    """,
    notes="rich-club coefficient phi(k) = 2 E_k / (N_k (N_k - 1)) for "
    "every observed degree threshold k: do the best-connected nations "
    "trade preferentially with each other? Every quantity is an exact "
    "BIGINT (edge counts among the >k-degree subgraph, reported as "
    "integer ppm via a single floor-division), so the whole curve is "
    "float-free. The threshold sweep is a degree-table self-join — "
    "graph-sized, never corpus-sized; the corpus appears only in the "
    "one edge-aggregation pass shared with the rest of §2.9",
)
def graph_rich_club(spark, sf_dir):
    und = _trade_und(spark, sf_dir)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint()
    )
    ks = deg.select(F.col("d").alias("k")).distinct()
    # broadcast the (graph-sized) threshold list: the inequality join
    # plans as BroadcastNestedLoopJoin, never CartesianProduct
    rich = deg.join(F.broadcast(ks), deg.d > ks.k).select("k", "v")
    nk = rich.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_rich"))
    r1 = rich.select(F.col("k").alias("k1"), F.col("v").alias("va"))
    r2 = rich.select(F.col("k").alias("k2"), F.col("v").alias("vb"))
    ek = (
        und.join(F.broadcast(r1), und.a == r1.va)
        .join(
            F.broadcast(r2),
            (und.b == r2.vb) & (F.col("k2") == F.col("k1")),
        )
        .groupBy(F.col("k1").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_rich"))
    )
    j = nk.join(ek, "k", "left").where(F.col("n_rich") >= 2)
    e = F.coalesce(F.col("e_rich"), F.lit(0)).cast("long")
    return j.select(
        "k",
        "n_rich",
        e.alias("e_rich"),
        F.expr(
            "CAST(coalesce(e_rich, 0) * 2000000"
            " div (n_rich * (n_rich - 1)) AS BIGINT)"
        ).alias("phi_ppm"),
    )


def _bridges_oracle() -> str:
    """Per-edge-removal multi-source BFS, keyed by the removed edge:
    the frontier relation is (ea, eb, v) and each round joins the
    bidirectional adjacency EXCLUDING that row's own removed edge."""
    ctes = [
        "bidir AS (SELECT a AS x, b AS y FROM und"
        " UNION ALL SELECT b AS x, a AS y FROM und)",
        "f0 AS (SELECT a AS ea, b AS eb, a AS v FROM und)",
    ]
    for i in range(1, _CL_ITERS + 1):
        ctes.append(
            f"""f{i} AS MATERIALIZED (
      SELECT ea, eb, v FROM (
        SELECT ea, eb, v FROM f{i - 1}
        UNION ALL
        SELECT f.ea, f.eb, e.y AS v
        FROM f{i - 1} f JOIN bidir e ON f.v = e.x
        WHERE NOT ((e.x = f.ea AND e.y = f.eb)
                   OR (e.x = f.eb AND e.y = f.ea)))
      GROUP BY ea, eb, v)"""
        )
    return (
        "WITH "
        + _KCORE_BASE_SQL.strip()
        + ",\n    "
        + ",\n    ".join(ctes)
        + f"""
    SELECT und.a, und.b,
           CAST(r.v IS NULL AS BIGINT) AS is_bridge
    FROM und LEFT JOIN f{_CL_ITERS} r
      ON r.ea = und.a AND r.eb = und.b AND r.v = und.b"""
    )


@register(
    "graph_bridges",
    section="2.9",
    oracle=_bridges_oracle(),
    notes="bridge (cut-edge) detection on the trade graph: an edge is "
    "a bridge iff removing it disconnects its endpoints. Every edge's "
    "removal is tested SIMULTANEOUSLY by one multi-source BFS keyed "
    "on the removed edge — the frontier relation (edge, node) stays "
    "|E| x |V| (graph-sized), each round is one join against the "
    "shared adjacency with the row's own edge excluded by predicate, "
    "and the rounds are fixed >= diameter. No per-edge loop, no "
    "recomputation: the classic what-if analysis (which trade link's "
    "loss fragments the network) as set-at-a-time relational "
    "iteration. All integers; the flag is a NULL-check on the "
    "endpoint's reachability row",
)
def graph_bridges(spark, sf_dir):
    und = _trade_und(spark, sf_dir)
    edge_rows = _und_local_edges(und)
    if edge_rows is not None:
        return _bridges_local(spark, und, edge_rows)
    return _bridges_distributed(spark, und)


def _bridges_local(spark, und, edge_rows):
    """Driver-side exact replica for the size-gated fast path (the
    betweenness discipline): per edge, BFS from its a-endpoint with
    that one edge excluded in BOTH directions, capped at _CL_ITERS
    levels exactly like the distributed loop; all-integer output."""
    from pyspark.sql import types as T

    adj = _local_adj(edge_rows)
    out = []
    for r in edge_rows:
        ea, eb = r["a"], r["b"]
        seen = {ea}
        frontier = [ea]
        for _ in range(_CL_ITERS):
            nxt = []
            for p in frontier:
                for y in adj[p]:
                    if (p == ea and y == eb) or (p == eb and y == ea):
                        continue
                    if y not in seen:
                        seen.add(y)
                        nxt.append(y)
            if not nxt:
                break
            frontier = nxt
        out.append((ea, eb, 0 if eb in seen else 1))
    ntype = und.schema["a"].dataType
    schema = T.StructType(
        [
            T.StructField("a", ntype, True),
            T.StructField("b", ntype, True),
            T.StructField("is_bridge", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)


def _bridges_distributed(spark, und):
    bidir = und.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    ).unionByName(und.select(F.col("b").alias("x"), F.col("a").alias("y")))
    frontier = und.select(
        F.col("a").alias("ea"), F.col("b").alias("eb"), F.col("a").alias("v")
    ).localCheckpoint()
    not_removed = ~(
        ((F.col("x") == F.col("ea")) & (F.col("y") == F.col("eb")))
        | ((F.col("x") == F.col("eb")) & (F.col("y") == F.col("ea")))
    )
    for _ in range(_CL_ITERS):
        grown = (
            frontier.join(F.broadcast(bidir), frontier.v == bidir.x)
            .where(not_removed)
            .select("ea", "eb", F.col("y").alias("v"))
        )
        frontier = (
            frontier.unionByName(grown)
            .groupBy("ea", "eb", "v")
            .agg(F.count(F.lit(1)).alias("_c"))
            .drop("_c")
            .localCheckpoint()
        )
    reached = frontier.where(F.col("v") == F.col("eb")).select(
        F.col("ea").alias("ra"), F.col("eb").alias("rb"), F.lit(1).alias("hit")
    )
    return und.join(
        reached, (und.a == reached.ra) & (und.b == reached.rb), "left"
    ).select(
        "a",
        "b",
        F.col("hit").isNull().cast("long").alias("is_bridge"),
    )


@register(
    "graph_transitivity",
    section="2.9",
    oracle="WITH "
    + _KCORE_BASE_SQL.strip()
    + """,
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
              SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
            GROUP BY v),
    wed AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
            FROM deg)
    SELECT n_tri, n_wedges,
           CAST(3 * n_tri * 1000000 // n_wedges AS BIGINT)
             AS transitivity_ppm
    FROM tri CROSS JOIN wed
    WHERE n_wedges > 0
    """,
    notes="global clustering coefficient (transitivity) of the trade "
    "graph: C = 3 * triangles / wedges, where triangles come from the "
    "oriented-edge enumeration shared with graph_triangles (each "
    "counted once as a<b<c) and wedges are sum d(d-1)/2 over the "
    "degree table. Exact BIGINTs end to end, reported as integer ppm "
    "via one floor-division — the one-number answer to 'how cliquish "
    "is this network' next to the per-node triangle counts. d(d-1)/2 "
    "is exact integer arithmetic in both engines (d(d-1) is always "
    "even). Graph-sized after the shared edge pass",
)
def graph_transitivity(spark, sf_dir):
    und = _trade_und(spark, sf_dir)
    edge_rows = _und_local_edges(und)
    if edge_rows is not None:
        return _transitivity_local(spark, edge_rows)
    return _transitivity_distributed(und)


def _transitivity_local(spark, edge_rows):
    """Driver-side exact replica for the size-gated fast path (the
    betweenness discipline): ALL-INTEGER — triangles enumerated exactly
    as the oracle's a<b<c oriented-edge join, wedges as sum d(d-1)/2,
    ppm as one floor-division of positive BIGINTs (Spark `div` truncates
    toward zero == Python // for positive operands). No float surface.
    The distributed triangle join scheduled 3 broadcast exchanges + a
    cross join on a fixed ~25-node relation at ANY corpus size."""
    from pyspark.sql import types as T

    edges = {(r["a"], r["b"]) for r in edge_rows}
    adj_gt: dict[int, list[int]] = {}
    deg: dict[int, int] = {}
    for a, b in edges:
        adj_gt.setdefault(a, []).append(b)
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    n_tri = 0
    for x, y in edges:
        for z in adj_gt.get(y, ()):
            if (x, z) in edges:
                n_tri += 1
    n_wedges = sum(d * (d - 1) // 2 for d in deg.values())
    schema = T.StructType(
        [
            T.StructField("n_tri", T.LongType(), True),
            T.StructField("n_wedges", T.LongType(), True),
            T.StructField("transitivity_ppm", T.LongType(), True),
        ]
    )
    if n_wedges <= 0:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        [(n_tri, n_wedges, 3 * n_tri * 1000000 // n_wedges)], schema
    )


def _transitivity_distributed(und):
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(F.broadcast(e2), F.col("y") == F.col("y2"))
        .join(
            F.broadcast(e3),
            (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    wed = deg.agg(
        F.sum(F.expr("d * (d - 1) / 2")).cast("long").alias("n_wedges")
    )
    return (
        tri.crossJoin(F.broadcast(wed))
        .where(F.col("n_wedges") > 0)
        .select(
            "n_tri",
            "n_wedges",
            F.expr(
                "CAST(3 * n_tri * 1000000 div n_wedges AS BIGINT)"
            ).alias("transitivity_ppm"),
        )
    )


_HITS_ITERS = 4


def _hits_oracle() -> str:
    """Unroll the HITS mutual recurrence into chained CTEs (the
    graph_pagerank discipline). Normalization divides by the MAX score
    (order-independent, unlike a float SUM), so the only float sums are
    the per-node neighbor folds — the same ~25-term aggregations the
    pagerank oracle has certified green, absorbed by ROUND 6dp."""
    ctes = ["h0 AS (SELECT id, 1.0 AS h FROM n)"]
    for i in range(1, _HITS_ITERS + 1):
        ctes.append(
            f"""a{i}r AS (
      SELECT e.dst AS id, SUM(p.h * e.w) AS v
      FROM h{i - 1} p JOIN e ON p.id = e.src GROUP BY e.dst)"""
        )
        ctes.append(f"a{i}m AS (SELECT MAX(v) AS mx FROM a{i}r)")
        ctes.append(
            f"""a{i} AS (
      SELECT n.id, COALESCE(r.v, 0.0) / t.mx AS a
      FROM n CROSS JOIN a{i}m t LEFT JOIN a{i}r r ON r.id = n.id)"""
        )
        ctes.append(
            f"""h{i}r AS (
      SELECT e.src AS id, SUM(p.a * e.w) AS v
      FROM a{i} p JOIN e ON p.id = e.dst GROUP BY e.src)"""
        )
        ctes.append(f"h{i}m AS (SELECT MAX(v) AS mx FROM h{i}r)")
        ctes.append(
            f"""h{i} AS (
      SELECT n.id, COALESCE(r.v, 0.0) / t.mx AS h
      FROM n CROSS JOIN h{i}m t LEFT JOIN h{i}r r ON r.id = n.id)"""
        )
    return (
        "WITH "
        + _EDGES_SQL.strip()
        + ",\n    "
        + ",\n    ".join(ctes)
        + f"""
    SELECT h.id AS nation_id,
           ROUND(h.h, 6) AS hub,
           ROUND(a.a, 6) AS authority
    FROM h{_HITS_ITERS} h JOIN a{_HITS_ITERS} a ON a.id = h.id"""
    )


@register(
    "graph_hits",
    section="2.9",
    oracle=_hits_oracle(),
    notes=f"HITS hubs & authorities ({_HITS_ITERS} iterations) on the "
    "weighted nation trade graph: authority(j) = sum of hub(i)*w over "
    "in-edges, hub(i) = sum of authority(j)*w over out-edges, "
    "max-normalized each half-step — MAX is order-independent (unlike "
    "a float SUM), so the normalizer is engine-deterministic and the "
    "only float folds are the per-node ~25-term sums the pagerank "
    "oracle already certifies under ROUND 6dp. Oracle = the identical "
    "recurrence unrolled into chained CTEs — a fully value-checked "
    "iterative algorithm. Each iteration is two broadcast-joined keyed "
    "aggregations over the edge list; ranks stay node-sized. The "
    "directional complement of graph_pagerank: pagerank finds "
    "endorsement flow, HITS separates 'big importers' (hubs) from "
    "'big exporters' (authorities) in one pass",
)
def graph_hits(spark, sf_dir):
    """HITS where each half-step is ONE keyed aggregation against a
    broadcast score table; localCheckpoint keeps the plan flat across
    iterations (the graph_pagerank/connected_components lesson)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(c.c_nationkey.alias("src"), s.s_nationkey.alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint()
    )
    nodes = n.select(F.col("n_nationkey").alias("id"))
    edge_rows = _dir_local_edges(edges)
    if edge_rows is not None:
        ids = _local_node_ids(nodes)
        if ids is not None and edge_rows:
            return _hits_local(spark, nodes, edge_rows, ids)
    return _hits_distributed(spark, edges, nodes)


def _hits_local(spark, nodes, edge_rows, ids):
    """Driver-side exact replica of the distributed HITS iteration for
    the size-gated fast path: per-node float folds in (src, dst) edge
    order, max normalizers (order-independent), the same
    coalesce(v, 0.0)/mx divisions, ROUND 6dp at the end (absorbs
    fold-order ulps exactly as between Spark and the oracle)."""
    from pyspark.sql import types as T

    es = sorted((r["src"], r["dst"], r["w"]) for r in edge_rows)
    h = {i: 1.0 for i in ids}
    a: dict[int, float] = {}
    for _ in range(_HITS_ITERS):
        ar: dict[int, float] = {}
        for src, dst, w in es:
            ar[dst] = ar.get(dst, 0.0) + h[src] * w
        mx = max(ar.values())
        a = {i: ar.get(i, 0.0) / mx for i in ids}
        hr: dict[int, float] = {}
        for src, dst, w in es:
            hr[src] = hr.get(src, 0.0) + a[dst] * w
        hmx = max(hr.values())
        h = {i: hr.get(i, 0.0) / hmx for i in ids}
    ntype = nodes.schema["id"].dataType
    schema = T.StructType(
        [
            T.StructField("nation_id", ntype, True),
            T.StructField("hub", T.DoubleType(), True),
            T.StructField("authority", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(
        [(i, _round6(h[i]), _round6(a[i])) for i in ids], schema
    )


def _hits_distributed(spark, edges, nodes):
    """The original iterative plan — the over-cap fallback."""
    hub = nodes.select("id", F.lit(1.0).alias("h"))
    auth = None
    for _ in range(_HITS_ITERS):
        ar = (
            edges.join(F.broadcast(hub), edges.src == hub.id)
            .groupBy("dst")
            .agg(F.sum(F.col("h") * F.col("w")).alias("v"))
        )
        amx = ar.agg(F.max("v").alias("mx"))
        auth = (
            nodes.crossJoin(F.broadcast(amx))
            .join(ar, nodes.id == ar.dst, "left")
            .select(
                "id",
                (F.coalesce(F.col("v"), F.lit(0.0)) / F.col("mx")).alias("a"),
            )
            .localCheckpoint()
        )
        hr = (
            edges.join(F.broadcast(auth), edges.dst == auth.id)
            .groupBy("src")
            .agg(F.sum(F.col("a") * F.col("w")).alias("v"))
        )
        hmx = hr.agg(F.max("v").alias("mx"))
        hub = (
            nodes.crossJoin(F.broadcast(hmx))
            .join(hr, nodes.id == hr.src, "left")
            .select(
                "id",
                (F.coalesce(F.col("v"), F.lit(0.0)) / F.col("mx")).alias("h"),
            )
            .localCheckpoint()
        )
    return (
        hub.join(F.broadcast(auth), "id")
        .select(
            F.col("id").alias("nation_id"),
            F.round("h", 6).alias("hub"),
            F.round("a", 6).alias("authority"),
        )
    )


_LPA_ITERS = 3

# MATERIALIZED: the label-propagation CTE chain references u/adj once
# per iteration; without it DuckDB INLINES the 4-table corpus join into
# every reference and the oracle goes combinatorial at sf0.1 (the
# _KCORE_BASE_SQL lesson).
# The raw trade graph is near-complete (every nation trades with every
# other), and LPA on a dense weighted graph collapses to ONE community
# at every SF (the known epidemic failure mode — certified green on a
# degenerate answer until the row-value audit caught it). Communities
# only exist on the BACKBONE: keep each node's top-K strongest edges
# (mutual union), the standard k-NN sparsification.
_LPA_TOPK = 3

_LPA_BASE_SQL = """
    e AS MATERIALIZED (
          SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                 CAST(COUNT(*) AS BIGINT) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          WHERE c.c_nationkey <> s.s_nationkey
          GROUP BY 1, 2),
    u0 AS MATERIALIZED (
          SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                 CAST(SUM(w) AS BIGINT) AS uw
          FROM e GROUP BY 1, 2),
    dirn AS (SELECT a AS v, b AS nb, uw FROM u0
             UNION ALL SELECT b, a, uw FROM u0),
    topk AS (SELECT v, nb FROM (
               SELECT v, nb,
                      ROW_NUMBER() OVER (PARTITION BY v
                                         ORDER BY uw DESC, nb) AS rn
               FROM dirn) WHERE rn <= {topk}),
    u AS MATERIALIZED (
          SELECT DISTINCT LEAST(v, nb) AS a, GREATEST(v, nb) AS b
          FROM topk),
    uw2 AS MATERIALIZED (
          SELECT u.a, u.b, u0.uw FROM u
          JOIN u0 ON u0.a = u.a AND u0.b = u.b),
    adj AS MATERIALIZED (
            SELECT a AS v, b AS nb, uw FROM uw2
            UNION ALL SELECT b, a, uw FROM uw2),
    nodes AS MATERIALIZED (SELECT DISTINCT v FROM adj)
""".replace("{topk}", str(_LPA_TOPK))


def _lpa_backbone(spark, sf_dir):
    """Top-K-strongest-edge (mutual union) sparsification of the nation
    trade graph: (a, b, uw) localCheckpointed — the Spark mirror of
    _LPA_BASE_SQL's uw2 relation."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(c.c_nationkey != s.s_nationkey)
        .groupBy(c.c_nationkey.alias("src"), s.s_nationkey.alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    u0 = e.groupBy(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).agg(F.sum("w").cast("long").alias("uw"))
    dirn = u0.select(F.col("a").alias("v"), F.col("b").alias("nb"), "uw").unionByName(
        u0.select(F.col("b").alias("v"), F.col("a").alias("nb"), "uw")
    )
    rk = W.partitionBy("v").orderBy(F.col("uw").desc(), "nb")
    topk = (
        dirn.withColumn("rn", F.row_number().over(rk))
        .where(F.col("rn") <= _LPA_TOPK)
        .select(
            F.least("v", "nb").alias("a"), F.greatest("v", "nb").alias("b")
        )
        .distinct()
    )
    return topk.join(u0, ["a", "b"]).localCheckpoint()


def _lpa_oracle() -> str:
    """Unroll synchronous weighted label propagation: each node adopts
    the label with the largest incident weight sum, ties to the SMALLEST
    label — every step is exact integer arithmetic + a deterministic
    rank, so the oracle is a full value check of the iterative
    algorithm (the graph_pagerank discipline, with no floats at all)."""
    ctes = ["l0 AS (SELECT v, v AS lbl FROM nodes)"]
    for i in range(1, _LPA_ITERS + 1):
        ctes.append(
            f"""w{i} AS (
      SELECT adj.v, p.lbl, CAST(SUM(adj.uw) AS BIGINT) AS ws
      FROM adj JOIN l{i - 1} p ON p.v = adj.nb
      GROUP BY adj.v, p.lbl)"""
        )
        ctes.append(
            f"""r{i} AS (
      SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v
                                        ORDER BY ws DESC, lbl) AS rn
      FROM w{i})"""
        )
        ctes.append(
            f"""l{i} AS (
      SELECT n.v, COALESCE(r.lbl, n.v) AS lbl
      FROM nodes n LEFT JOIN r{i} r ON r.v = n.v AND r.rn = 1)"""
        )
    return (
        "WITH "
        + _LPA_BASE_SQL.strip()
        + ",\n    "
        + ",\n    ".join(ctes)
        + f"""
    SELECT v AS nation_id, CAST(lbl AS BIGINT) AS community
    FROM l{_LPA_ITERS}"""
    )


@register(
    "graph_label_propagation",
    section="2.9",
    oracle=_lpa_oracle(),
    notes=f"community DETECTION by synchronous weighted label "
    f"propagation ({_LPA_ITERS} iterations) on the undirected nation "
    "trade graph: every node adopts the label with the largest "
    "incident edge-weight sum, ties broken to the smallest label — "
    "all exact integer arithmetic, so unlike pagerank/HITS there is "
    "not a single float anywhere and the unrolled-CTE oracle is "
    "bit-exact. Runs on the top-3-strongest-edge backbone: the raw "
    "trade graph is near-complete and dense-graph LPA collapses to "
    "one community (the epidemic failure mode) — sparsify first, "
    "the standard practice. "
    "bit-exact. Complements graph_modularity, which only SCORES a "
    "given partition (region); LPA finds one from the topology. Each "
    "iteration is one keyed aggregate over the adjacency plus a "
    "keyed rank — label tables stay node-sized and broadcast; the "
    "edge list never reshuffles after its first groupBy",
)
def graph_label_propagation(spark, sf_dir):
    u = _lpa_backbone(spark, sf_dir)
    u_rows = _lpa_local_rows(u)
    if u_rows is not None:
        from pyspark.sql import types as T

        labels = _lpa_local_labels(u_rows)
        ntype = u.schema["a"].dataType
        schema = T.StructType(
            [
                T.StructField("nation_id", ntype, True),
                T.StructField("community", T.LongType(), True),
            ]
        )
        return spark.createDataFrame(sorted(labels.items()), schema)
    return _lpa_distributed(spark, u)


def _lpa_local_rows(u):
    """Capped backbone probe for the LPA-family driver fast paths (the
    betweenness discipline): the sparsified nation graph has a fixed
    key domain at any corpus size."""
    rows = u.limit(_BT_LOCAL_MAX_EDGES + 1).collect()
    if len(rows) > _BT_LOCAL_MAX_EDGES:
        return None
    nodes = {r["a"] for r in rows} | {r["b"] for r in rows}
    if len(nodes) > _BT_LOCAL_MAX_NODES:
        return None
    return rows


def _lpa_local_labels(u_rows):
    """Driver-side exact replica of the distributed LPA loop below:
    synchronous weighted label propagation, all exact integers, ties to
    the smallest label — v -> final label after _LPA_ITERS rounds."""
    adj: dict[int, list[tuple[int, int]]] = {}
    for r in u_rows:
        adj.setdefault(r["a"], []).append((r["b"], r["uw"]))
        adj.setdefault(r["b"], []).append((r["a"], r["uw"]))
    labels = {v: v for v in adj}
    for _ in range(_LPA_ITERS):
        nxt = {}
        for v, nbrs in adj.items():
            ws: dict[int, int] = {}
            for nb, uw in nbrs:
                lbl = labels[nb]
                ws[lbl] = ws.get(lbl, 0) + uw
            # ROW_NUMBER over (ws DESC, lbl ASC): max weight, ties to
            # the smallest label; a node with no neighbors would keep
            # its own id (the distributed LEFT-join coalesce)
            nxt[v] = min(ws, key=lambda l: (-ws[l], l)) if ws else v
        labels = nxt
    return labels


def _lpa_distributed(spark, u):
    from pyspark.sql import Window as W

    adj = (
        u.select(F.col("a").alias("v"), F.col("b").alias("nb"), "uw")
        .unionByName(
            u.select(F.col("b").alias("v"), F.col("a").alias("nb"), "uw")
        )
        .localCheckpoint()
    )
    nodes = adj.select("v").distinct().localCheckpoint()
    labels = nodes.select("v", F.col("v").alias("lbl"))
    rnk = W.partitionBy("v").orderBy(F.col("ws").desc(), "lbl")
    for _ in range(_LPA_ITERS):
        wsum = (
            adj.join(
                F.broadcast(labels.select(F.col("v").alias("nb"), "lbl")),
                "nb",
            )
            .groupBy("v", "lbl")
            .agg(F.sum("uw").cast("long").alias("ws"))
        )
        best = (
            wsum.withColumn("rn", F.row_number().over(rnk))
            .where(F.col("rn") == 1)
            .select("v", "lbl")
        )
        labels = (
            nodes.join(best.withColumnRenamed("lbl", "newl"), "v", "left")
            .select("v", F.coalesce("newl", "v").alias("lbl"))
            .localCheckpoint()
        )
    return labels.select(
        F.col("v").alias("nation_id"), F.col("lbl").cast("long").alias("community")
    )


def _conductance_oracle() -> str:
    """The LPA recurrence (shared generator) extended with the
    community-quality readout: conductance = cut / min(vol, 2m - vol),
    every quantity an exact BIGINT."""
    ctes = ["l0 AS (SELECT v, v AS lbl FROM nodes)"]
    for i in range(1, _LPA_ITERS + 1):
        ctes.append(
            f"""w{i} AS (
      SELECT adj.v, p.lbl, CAST(SUM(adj.uw) AS BIGINT) AS ws
      FROM adj JOIN l{i - 1} p ON p.v = adj.nb
      GROUP BY adj.v, p.lbl)"""
        )
        ctes.append(
            f"""r{i} AS (
      SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v
                                        ORDER BY ws DESC, lbl) AS rn
      FROM w{i})"""
        )
        ctes.append(
            f"""l{i} AS (
      SELECT n.v, COALESCE(r.lbl, n.v) AS lbl
      FROM nodes n LEFT JOIN r{i} r ON r.v = n.v AND r.rn = 1)"""
        )
    return (
        "WITH "
        + _LPA_BASE_SQL.strip()
        + ",\n    "
        + ",\n    ".join(ctes)
        + f""",
    lab AS (SELECT v, lbl FROM l{_LPA_ITERS}),
    vol AS (SELECT lab.lbl,
                   CAST(COUNT(DISTINCT adj.v) AS BIGINT) AS n_members,
                   CAST(SUM(adj.uw) AS BIGINT) AS vol_w
            FROM adj JOIN lab ON lab.v = adj.v
            GROUP BY lab.lbl),
    m2 AS (SELECT CAST(SUM(uw) AS BIGINT) * 2 AS total FROM uw2),
    cut AS (SELECT la.lbl, CAST(SUM(uw2.uw) AS BIGINT) AS cut_w
            FROM uw2 JOIN lab la ON la.v = uw2.a
                   JOIN lab lb ON lb.v = uw2.b AND lb.lbl <> la.lbl
            GROUP BY la.lbl
            UNION ALL
            SELECT lb.lbl, CAST(SUM(uw2.uw) AS BIGINT)
            FROM uw2 JOIN lab la ON la.v = uw2.a
                   JOIN lab lb ON lb.v = uw2.b AND lb.lbl <> la.lbl
            GROUP BY lb.lbl),
    cutg AS (SELECT lbl, CAST(SUM(cut_w) AS BIGINT) AS cut_w
             FROM cut GROUP BY lbl)
    SELECT v.lbl AS community, v.n_members, v.vol_w,
           CAST(COALESCE(c.cut_w, 0) AS BIGINT) AS cut_w,
           CAST(COALESCE(c.cut_w, 0) * 1000000
                // LEAST(v.vol_w, m2.total - v.vol_w) AS BIGINT)
             AS conductance_ppm
    FROM vol v CROSS JOIN m2 LEFT JOIN cutg c ON c.lbl = v.lbl
    WHERE LEAST(v.vol_w, m2.total - v.vol_w) > 0
    ORDER BY community"""
    )


@register(
    "graph_conductance",
    section="2.9",
    oracle=_conductance_oracle(),
    notes="conductance of every community graph_label_propagation "
    "detects: phi(C) = cut(C) / min(vol(C), 2m - vol(C)) — the "
    "standard 'is this a real community or an artifact' score (low = "
    "well-separated), closing the detect -> evaluate loop next to "
    "graph_modularity (which scores the region partition instead). "
    "Composes the LPA labels with two graph-sized keyed aggregates; "
    "every quantity is an exact BIGINT (weighted degrees, cut "
    "weights), conductance reported as integer ppm via one floor "
    "division. Zero floats end to end, like LPA itself",
)
def graph_conductance(spark, sf_dir):
    # ONE backbone pass serves both the LPA labels and the vol/cut
    # readout (the former composition built it twice); below the local
    # gate the whole labels -> vol/cut/ppm chain is exact-integer
    # driver arithmetic, else the distributed composition runs on the
    # shared relation.
    u = _lpa_backbone(spark, sf_dir)
    u_rows = _lpa_local_rows(u)
    if u_rows is not None:
        return _conductance_local(spark, u, u_rows)
    labels = _lpa_distributed(spark, u).select(
        F.col("nation_id").alias("v"), F.col("community").alias("lbl")
    )
    return _conductance_distributed(spark, u, labels)


def _conductance_local(spark, u, u_rows):
    from pyspark.sql import types as T

    labels = _lpa_local_labels(u_rows)
    vol_w: dict[int, int] = {}
    members: dict[int, set] = {}
    cut_w: dict[int, int] = {}
    total = 0
    for r in u_rows:
        a, b, uw = r["a"], r["b"], r["uw"]
        la, lb = labels[a], labels[b]
        total += 2 * uw
        vol_w[la] = vol_w.get(la, 0) + uw
        vol_w[lb] = vol_w.get(lb, 0) + uw
        members.setdefault(la, set()).add(a)
        members.setdefault(lb, set()).add(b)
        if la != lb:
            cut_w[la] = cut_w.get(la, 0) + uw
            cut_w[lb] = cut_w.get(lb, 0) + uw
    out = []
    for lbl in sorted(vol_w):
        den = min(vol_w[lbl], total - vol_w[lbl])
        if den <= 0:
            continue
        cw = cut_w.get(lbl, 0)
        out.append(
            (
                lbl,
                len(members[lbl]),
                vol_w[lbl],
                cw,
                cw * 1_000_000 // den,
            )
        )
    schema = T.StructType(
        [
            T.StructField("community", T.LongType(), True),
            T.StructField("n_members", T.LongType(), True),
            T.StructField("vol_w", T.LongType(), True),
            T.StructField("cut_w", T.LongType(), True),
            T.StructField("conductance_ppm", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)


def _conductance_distributed(spark, u, labels):
    adj = u.select(F.col("a").alias("v"), "uw").unionByName(
        u.select(F.col("b").alias("v"), "uw")
    )
    vol = (
        adj.join(F.broadcast(labels), "v")
        .groupBy("lbl")
        .agg(
            F.countDistinct("v").cast("long").alias("n_members"),
            F.sum("uw").cast("long").alias("vol_w"),
        )
    )
    m2 = u.agg((F.sum("uw") * 2).cast("long").alias("total"))
    la = labels.select(F.col("v").alias("a"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("v").alias("b"), F.col("lbl").alias("lb"))
    crossing = (
        u.join(F.broadcast(la), "a")
        .join(F.broadcast(lb), "b")
        .where(F.col("la") != F.col("lb"))
    )
    cut = (
        crossing.select(F.col("la").alias("lbl"), "uw")
        .unionByName(crossing.select(F.col("lb").alias("lbl"), "uw"))
        .groupBy("lbl")
        .agg(F.sum("uw").cast("long").alias("cut_w"))
    )
    j = (
        vol.crossJoin(F.broadcast(m2))
        .join(cut, "lbl", "left")
        .select(
            F.col("lbl").alias("community"),
            "n_members",
            "vol_w",
            F.coalesce(F.col("cut_w"), F.lit(0)).cast("long").alias("cut_w"),
            F.least(
                F.col("vol_w"), F.col("total") - F.col("vol_w")
            ).alias("_den"),
        )
    )
    return (
        j.where(F.col("_den") > 0)
        .select(
            "community",
            "n_members",
            "vol_w",
            "cut_w",
            F.expr(
                "CAST(cut_w * 1000000 div _den AS BIGINT)"
            ).alias("conductance_ppm"),
        )
        .orderBy("community")
    )


def _trade_cc_edges(spark, sf_dir):
    """The one corpus-sized pass of graph_connected_components: the
    directed nation-pair trade weights, checkpointed."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    ls = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("l_orderkey").alias("okey"),
                 F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    oc = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_orderkey").alias("okey"), F.col("c_nationkey").alias("src")
    )
    return (
        ls.join(oc, "okey")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
        .localCheckpoint()
    )


@register(
    "graph_connected_components",
    section="2.9",
    oracle="""
    WITH ls AS (
      SELECT l.l_orderkey AS okey, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    oc AS (
      SELECT o.o_orderkey AS okey, c.c_nationkey AS src
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    e AS (
      SELECT oc.src, ls.dst, CAST(SUM(ls.w) AS BIGINT) AS w
      FROM ls JOIN oc ON ls.okey = oc.okey
      WHERE oc.src <> ls.dst
      GROUP BY 1, 2),
    u AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                 CAST(SUM(w) AS BIGINT) AS w
          FROM e GROUP BY 1, 2),
    topk AS (SELECT a, b FROM (
        SELECT a, b, ROW_NUMBER() OVER (ORDER BY w DESC, a, b) AS rn
        FROM u) WHERE rn <= 30),
    nations AS (SELECT DISTINCT src AS v FROM e
                UNION SELECT DISTINCT dst FROM e),
    nbr AS (SELECT a AS v, b AS n FROM topk
            UNION ALL SELECT b, a FROM topk),
    -- reachability closure, NOT per-node label relaxation: a recursive
    -- CTE's working table holds only the PREVIOUS iteration's new rows,
    -- so a node whose label is already locally minimal drops out and
    -- never hears about smaller labels arriving later (bug caught
    -- during round-8 development — the relaxation form returned
    -- impossible singleton components). Accumulating (v, reachable
    -- label) pairs is immune: rows propagate hop by hop regardless of
    -- any per-node state, and MIN per v over the closure IS the
    -- component minimum.
    lab AS (WITH RECURSIVE cc(v, lbl) AS (
        SELECT v, v FROM nations
        UNION
        SELECT nbr.v, c.lbl FROM nbr JOIN cc c ON c.v = nbr.n)
      SELECT v, MIN(lbl) AS lbl FROM cc GROUP BY v)
    SELECT lab.v AS nation_id, CAST(lab.lbl AS BIGINT) AS component,
           CAST(COUNT(*) OVER (PARTITION BY lab.lbl) AS BIGINT)
             AS comp_size
    FROM lab ORDER BY nation_id
    """,
    notes="connected components over the 30 strongest undirected trade "
    "lanes (symmetrized weights, w-desc (a,b)-asc tiebreak): min-label "
    "propagation to convergence, labels = the smallest nation id in "
    "each component, isolated nations legitimately form their own "
    "singletons — the trade-bloc detector. The global top-K edge rule "
    "fragments at every SF (13/12/12 components at the three "
    "fixtures) where a weight-threshold backbone saturates to one "
    "component past sf0.001 and the mutual-top-partner rule leaves 24 "
    "singletons (both shapes probed and rejected during design). "
    "Engine iterates label relaxation with localCheckpoint per round "
    "(graph-sized frames, diameter-bounded trips); oracle is a "
    "recursive reachability closure (see the inline comment for why "
    "NOT label relaxation). All exact integers",
)
def graph_connected_components(spark, sf_dir):
    """Trade blocs via min-label propagation on the top-30-lane graph.
    The edge build reuses the pre-aggregated shape of
    graph_link_prediction (lineitem collapses to orderkey x supplier
    nation BEFORE the orders/customer join); the top-K pick is one
    ROW_NUMBER over the ~|V|^2-row symmetrized edge list (metadata-
    sized at any corpus scale). The label loop is driver-paced but
    every frame is GRAPH-sized (<= 25 rows here; |V| rows in
    general), and the convergence check is BATCHED — 3 lazy
    relaxations per checkpoint+count round-trip (labels decrease
    monotonically, so a no-change batch IS the fixpoint): at
    billion-edge scale the same loop runs with the alternating
    large-star/small-star optimization — the per-iteration plan
    (join edges to labels, min per vertex) is unchanged."""
    e = _trade_cc_edges(spark, sf_dir)
    # Size-gated driver fast path (the betweenness discipline): e is
    # nation-pair-sized (fixed key domain at any corpus size), and
    # everything after it — symmetrize, top-30 pick, min-label fixpoint,
    # component sizes — is exact integer arithmetic on <= a few hundred
    # rows, while the distributed loop below costs ~6 checkpoint/count
    # driver round-trips of pure scheduling. Over the cap the
    # distributed path runs unchanged.
    e_rows = e.limit(_CC_LOCAL_MAX_EDGES + 1).collect()
    if len(e_rows) <= _CC_LOCAL_MAX_EDGES:
        return _trade_cc_local(spark, e, e_rows)
    return _trade_cc_distributed(spark, e)


def _trade_cc_local(spark, e, e_rows):
    from pyspark.sql import types as T

    u: dict[tuple[int, int], int] = {}
    nations = set()
    for r in e_rows:
        nations.add(r["src"])
        nations.add(r["dst"])
        k = (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        u[k] = u.get(k, 0) + r["w"]
    top = sorted(u.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    parent = {v: v for v in nations}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), _w in top:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label = {v: find(v) for v in nations}
    sizes: dict[int, int] = {}
    for lbl in label.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    out = [(v, label[v], sizes[label[v]]) for v in sorted(nations)]
    ntype = e.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("nation_id", ntype, True),
            T.StructField("component", T.LongType(), True),
            T.StructField("comp_size", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)


def _trade_cc_distributed(spark, e):
    u = (
        e.groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .agg(F.sum("w").cast("long").alias("w"))
    )
    from pyspark.sql import Window as _W

    rn = F.row_number().over(
        _W.orderBy(F.col("w").desc(), F.col("a"), F.col("b"))
    )
    topk = u.withColumn("rn", rn).where(F.col("rn") <= 30).select("a", "b")
    nations = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    nbr = topk.select(F.col("a").alias("v"), F.col("b").alias("n")).unionByName(
        topk.select(F.col("b").alias("v"), F.col("a").alias("n"))
    ).localCheckpoint()
    lab = nations.select("v", F.col("v").alias("lbl")).localCheckpoint()
    # BATCHED convergence: k relaxations compose lazily per driver
    # round-trip, then ONE checkpoint + ONE changed-count. Labels only
    # DECREASE (monotone min-lattice), so "no change across the whole
    # batch" is exactly the fixpoint, and a batch that overshoots
    # convergence by up to k-1 iterations recomputes the same labels.
    # Cuts per-iteration driver actions ~3x; iterations stay
    # diameter-bounded.
    batch = 3
    while True:
        new_lab = lab
        for _ in range(batch):
            from_nbrs = (
                nbr.join(new_lab.withColumnRenamed("v", "n"), "n")
                .groupBy("v")
                .agg(F.min("lbl").alias("nlbl"))
            )
            new_lab = new_lab.join(from_nbrs, "v", "left").select(
                "v",
                F.least(
                    "lbl", F.coalesce("nlbl", F.col("lbl"))
                ).alias("lbl"),
            )
        new_lab = new_lab.localCheckpoint()
        changed = (
            new_lab.withColumnRenamed("lbl", "lbl2")
            .join(lab, "v")
            .where(F.col("lbl2") != F.col("lbl"))
            .count()
        )
        lab = new_lab
        if changed == 0:
            break
    wsize = _W.partitionBy("lbl")
    return lab.select(
        F.col("v").alias("nation_id"),
        F.col("lbl").cast("long").alias("component"),
        F.count(F.lit(1)).over(wsize).cast("long").alias("comp_size"),
    ).orderBy("nation_id")
