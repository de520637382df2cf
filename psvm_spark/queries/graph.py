"""Graph analytics over a deterministic sparse graph derived from keys.

Round-4 additions (SURVEY.md section 2, B71-B73): degree profile,
triangle counting, and PageRank.  The graph is derived from the
lineitem fact: every row of a deterministic quarter of the orders
(``l_orderkey % 4 = 0`` — whole orders kept, so the shared-order hub
structure survives) contributes one undirected edge between two
hash-bucketed vertices (salted md5 of l_orderkey / l_partkey into a
fixed ``N_NODES`` id space), deduplicated and canonicalized a < b.
The derivation is the same md5-bucket rule the sampling/split queries
use, so both engines build bit-identical edge sets.

Scale notes (100 TB):
- Edge building is a narrow map + one distinct (shuffle on the edge
  pair, map-side combined).  The salted-md5 vertex hash is the
  dominant per-row cost and runs entirely in whole-stage codegen.
- Each query materializes the edge set ONCE (``localCheckpoint``) and
  reuses it — the naive form recomputed the md5 scan 2-6x per query
  (measured 12s/13s/41s at sf0.1; ~3/6/9s after reuse).
- Triangle counting orients every edge low->high and joins wedges
  (a<b<c) back to the edge set: two shuffle joins whose size is
  sum-of-squared-out-degrees, the standard distributed formulation
  (orienting bounds out-degree by ~sqrt(2m) on skewed graphs, far
  smaller than deg^2 of hubs).  No cartesian anywhere.
- PageRank is the canonical iterative DataFrame loop: the rank vector
  (|V| rows — O(V), NOT broadcastable at billions of vertices) is
  SHUFFLE-joined against the checkpointed link table on src each
  iteration, then the contributions aggregate on dst.  5 fixed
  iterations, ``localCheckpoint`` per iteration keeps lineage flat
  (same pattern as operators/components.py).  Driver traffic is zero
  data rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psvm_spark.catalog import load_table
from psvm_spark.registry import query
from psvm_spark.session import SCALE_CONFS, scale_conf

# Vertex-space size.  At real scale vertex ids are real entities and
# grow with the data; on the fixture they are hash-derived into a fixed
# id space.  The scale harness raises the ``graph.n_nodes`` scale conf
# by the amplification factor, so the amplified graph keeps base density
# (20x edges over 20x vertices) instead of densifying a constant-size
# graph.  The oracles pin the default.
N_NODES = SCALE_CONFS["graph.n_nodes"]


# Salted md5 -> vertex id, identical in both engines (established
# conv/substr twin pattern, see llm.py split_stable_hash).
def _u_spark(n: int) -> str:
    return (
        "pmod(cast(conv(substring(md5(concat('gu:', l_orderkey)), 1, 8), 16, 10)"
        f" as bigint), {n})"
    )


def _v_spark(n: int) -> str:
    return (
        "pmod(cast(conv(substring(md5(concat('gv:', l_partkey)), 1, 8), 16, 10)"
        f" as bigint), {n})"
    )
_U_DUCK = f"(('0x' || substr(md5('gu:' || l_orderkey), 1, 8))::BIGINT % {N_NODES})"
_V_DUCK = f"(('0x' || substr(md5('gv:' || l_partkey), 1, 8))::BIGINT % {N_NODES})"

_EDGES_DUCK = f"""
  SELECT DISTINCT least({_U_DUCK}, {_V_DUCK}) AS a,
                  greatest({_U_DUCK}, {_V_DUCK}) AS b
  FROM lineitem
  WHERE l_orderkey % 4 = 0 AND {_U_DUCK} <> {_V_DUCK}
"""


def edge_set(spark: SparkSession, sf_dir: str, *, materialize: bool = False) -> DataFrame:
    """Canonical undirected edge set (a < b), deduplicated.

    ``materialize=True`` local-checkpoints the result so callers that
    traverse it several times (wedge joins, rank iterations) pay the
    md5 scan + distinct exactly once.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    n = scale_conf(spark, "graph.n_nodes")
    uv = li.select(
        F.expr(_u_spark(n)).cast("bigint").alias("u"),
        F.expr(_v_spark(n)).cast("bigint").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    e = uv.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    return e.localCheckpoint(eager=True) if materialize else e


# --------------------------------------------------------------------------
# B71 — degree profile: per-vertex degree, histogrammed.  A single pass:
# explode both endpoints of each edge (2 rows/edge, no second scan),
# then two skinny aggregations on 8-byte keys.


@query(
    "graph_degree_stats",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK}),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges)
  GROUP BY node)
SELECT degree, COUNT(*) AS n_nodes
FROM deg GROUP BY degree ORDER BY degree
""",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir)
    nodes = e.select(F.explode(F.array("a", "b")).alias("node"))
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


# --------------------------------------------------------------------------
# B72 — triangle counting by edge orientation: every edge is stored
# a < b, so wedges (a,b) x (b,c) with b < c give each candidate triangle
# exactly once as a < b < c; joining (a,c) back to the edge set confirms
# closure.  Join volume = sum of squared out-degrees — bounded, never
# all-pairs.  Returns one row (n_nodes, n_edges, n_triangles).


@query(
    "graph_triangle_count",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK})
SELECT (SELECT COUNT(DISTINCT node)
        FROM (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT COUNT(*)
        FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    n_nodes = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .agg(F.countDistinct("node").alias("n_nodes"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    e1 = e.select(F.col("a").alias("w_a"), F.col("b").alias("w_b"))
    e2 = e.select(F.col("a").alias("x_b"), F.col("b").alias("w_c"))
    wedges = e1.join(e2, e1.w_b == e2.x_b).select("w_a", "w_c")
    closed = wedges.join(
        e, (wedges.w_a == e.a) & (wedges.w_c == e.b), "left_semi"
    )
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    # The wedge/closure joins above are equi-joins; only this final
    # 1-row x 1-row x 1-row combine is a (whitelisted) broadcast NL.
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


# --------------------------------------------------------------------------
# B73 — PageRank, 5 fixed iterations, damping 0.85, uniform init 1/n
# over the undirected edge set (each edge contributes both directions,
# so every vertex has out-degree >= 1: no dangling mass).
# Oracle-EXACT (round 6): the iteration runs in FIXED-POINT integer
# arithmetic — ranks carry mass scaled by 10^15, per-edge contribution
# is rank DIV outdeg, damping is (17 * inflow) DIV 20 + (3 * SCALE)
# DIV (20 * n) — so every step is exact, commutative integer math that
# any engine reproduces bit-for-bit in any accumulation order (the
# float formulation was rows-only precisely because double sums differ
# across engines in the last ulps; deterministic fixed-point is also
# how production rank systems get reproducible incremental runs).
# Truncation loses < n*5 units of 10^-15 mass per iteration — invisible
# at the round-9 output grid.  tests/test_properties.py checks mass
# conservation and parity vs a NumPy power-iteration reference.

_PR_SCALE = 10**15
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    s = _PR_SCALE
    return f"""
WITH RECURSIVE edges AS ({_EDGES_DUCK}),
oe AS (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b AS src, a AS dst FROM edges),
deg AS (SELECT src, COUNT(*) AS outdeg FROM oe GROUP BY src),
nv AS (SELECT COUNT(*) AS n FROM deg),
it AS (
  SELECT 0 AS step, src, CAST({s} // (SELECT n FROM nv) AS BIGINT) AS rank
  FROM deg
  UNION ALL
  SELECT r.step + 1, o.dst AS src,
         CAST((3 * {s}) // (20 * (SELECT n FROM nv))
              + (17 * SUM(r.rank // d.outdeg)) // 20 AS BIGINT) AS rank
  FROM it r
  JOIN deg d ON d.src = r.src
  JOIN oe o ON o.src = r.src
  WHERE r.step < {_PR_ITERS}
  GROUP BY r.step + 1, o.dst
)
SELECT src, round(CAST(rank AS DOUBLE) / 1e15, 9) AS rank
FROM (SELECT src, rank FROM it WHERE step = {_PR_ITERS}
      ORDER BY rank DESC, src LIMIT 20)
"""


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    out = (
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    )
    deg = out.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    links = out.join(deg, "src").localCheckpoint(eager=True)
    n = deg.count()
    base = (3 * _PR_SCALE) // (20 * n)
    ranks = deg.select("src", F.lit(_PR_SCALE // n).cast("bigint").alias("rank"))
    for _ in range(_PR_ITERS):
        # Plain shuffle join on src: ranks is O(V) — one row per vertex —
        # so broadcasting it each iteration would ship the whole rank
        # vector to every executor (a driver/executor-memory killer at
        # billions of vertices).  A hash join co-partitions both sides on
        # src; links is localCheckpoint'd so only ranks (the small side
        # by bytes) re-shuffles per iteration.
        contrib = (
            links.join(ranks, "src")
            .select(
                F.col("dst").alias("src"),
                F.expr("rank div outdeg").alias("c"),
            )
            .groupBy("src")
            .agg(F.sum("c").alias("inflow"))
        )
        # No degree-spine left join: the edge set is symmetric (both
        # orientations in `links`), so every vertex with out-degree also
        # receives mass — contrib's vertex set IS deg's vertex set, and
        # coalesce(inflow, 0) can never fire.  Dropping the spine removes
        # one join + one O(E) degree re-aggregation per iteration
        # (measured 4.3s -> 2.5s at sf0.1, rows bit-identical).  No
        # per-iteration localCheckpoint either: 5 fixed iterations keep
        # the lineage bounded, and one job materializes the whole loop
        # instead of 5 checkpoint jobs + a final one.
        ranks = contrib.select(
            "src",
            F.expr(f"{base}L + (17 * inflow) div 20")
            .cast("bigint")
            .alias("rank"),
        )
    return (
        ranks.orderBy(F.desc("rank"), "src")
        .limit(20)
        .select("src", F.round(F.col("rank") / F.lit(1e15), 9).alias("rank"))
    )


# --------------------------------------------------------------------------
# B139 (round 4) — item-neighbor Jaccard similarity: the item-item
# similarity collaborative filters are built on, computed over the
# (order, part) bipartite relation.  |orders(a) AND orders(b)| comes
# from the same order-key self-join as the co-purchase projection
# (candidates only where the intersection is nonzero — never
# all-pairs); the union size is s_a + s_b - n_ab from broadcast item
# supports, so jaccard is one division of exact ints.


@query(
    "graph_jaccard_neighbors",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
supp AS (
  SELECT l_partkey, COUNT(*) AS s FROM items GROUP BY l_partkey),
pair AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
SELECT p.pa AS part_a, p.pb AS part_b,
       CAST(p.n_ab AS BIGINT) AS n_shared,
       CAST(p.n_ab AS DOUBLE) / (sa.s + sb.s - p.n_ab) AS jaccard
FROM pair p
JOIN supp sa ON p.pa = sa.l_partkey
JOIN supp sb ON p.pb = sb.l_partkey
""",
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # distinct (order, part) pairs feed the support rollup AND both
    # sides of the co-occurrence self-join; materialize once (the same
    # shape graph_copurchase_pairs pins)
    items = (
        li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=True)
    )
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    a = items.alias("a")
    b = items.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    sa = supp.select(F.col("l_partkey").alias("pa"), F.col("s").alias("s_a"))
    sb = supp.select(F.col("l_partkey").alias("pb"), F.col("s").alias("s_b"))
    return (
        pair.join(F.broadcast(sa), "pa")
        .join(F.broadcast(sb), "pb")
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("n_ab").cast("bigint").alias("n_shared"),
            (
                F.col("n_ab").cast("double")
                / (F.col("s_a") + F.col("s_b") - F.col("n_ab"))
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# B168 (round 5) — BFS hop distance from a source set: multi-source
# breadth-first search over the undirected edge set, the "reachability
# within k hops" primitive behind influence radius, fraud-ring blast
# zones, and graph-feature generation.  Engine form is the frontier
# loop (the same driver-bounded iteration shape as hierarchy_closure):
# each round expands the CURRENT frontier by one equi-join against the
# edge list and anti-joins out already-settled vertices, so every
# vertex is settled exactly once at its minimum distance — per-round
# work is |frontier-adjacent edges|, never |V|x|V|.  At 100 TB the
# edge list is the big side and each round is one shuffle join; the
# frontier/settled sets carry (vertex, dist) only.  Oracled against a
# DuckDB recursive CTE (UNION set semantics bound the state space to
# |V| x max_hops) taking MIN(dist) per vertex.

_BFS_MAX_HOPS = 8
_BFS_SRC_MOD = 997  # sources = vertices with id % 997 == 0 (~4 of 4000)


@query(
    "graph_bfs_distance",
    oracle=f"""
WITH RECURSIVE edges AS ({_EDGES_DUCK}),
und AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL
  SELECT b AS src, a AS dst FROM edges),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges)),
bfs AS (
  SELECT node, 0 AS dist FROM nodes WHERE node % {_BFS_SRC_MOD} = 0
  UNION
  SELECT u.dst AS node, b.dist + 1 AS dist
  FROM bfs b JOIN und u ON u.src = b.node
  WHERE b.dist < {_BFS_MAX_HOPS})
SELECT node, CAST(MIN(dist) AS INT) AS dist
FROM bfs GROUP BY node
""",
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    und = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    nodes = e.select(F.explode(F.array("a", "b")).alias("node")).distinct()
    seed = nodes.filter(F.col("node") % _BFS_SRC_MOD == 0).select(
        "node", F.lit(0).alias("dist")
    ).localCheckpoint(eager=True)
    # Accumulate per-hop frontiers instead of rewriting the whole
    # settled set each hop: the anti-join unions the (checkpointed)
    # hop slices lazily, saving one O(settled) materialization job per
    # hop — hop count is bounded, so the union stays <= 9 leaves.
    parts = [seed]
    frontier = seed.select("node")
    for hop in range(1, _BFS_MAX_HOPS + 1):
        settled_ids = parts[0].select("node")
        for p in parts[1:]:
            settled_ids = settled_ids.unionAll(p.select("node"))
        nxt = (
            frontier.join(und, frontier.node == und.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(settled_ids, "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        parts.append(nxt)
        frontier = nxt.select("node")
    settled = parts[0]
    for p in parts[1:]:
        settled = settled.unionAll(p)
    return settled.select("node", F.col("dist").cast("int").alias("dist"))


# --------------------------------------------------------------------------
# B190 (round 6) — k-core decomposition (k = 3): iteratively peel
# vertices with fewer than k neighbors until a fixpoint — the standard
# graph-cleanup pass before community/centrality work.  Integer degree
# counts make every round exact, so the whole iterative algorithm has
# an exact oracle: a recursive CTE carrying the alive-vertex LIST as
# single-row state through _KCORE_ROUNDS fixed rounds (peeling is a
# monotone contraction, so extra rounds past the fixpoint are the
# identity and a fixed bound on both engines yields the same state;
# the Spark loop early-exits at the fixpoint, which by the same
# argument cannot change the result).  Spark shape per round: filter
# edges to alive endpoints (two semi joins), one degree aggregation —
# edge-linear, localCheckpoint keeps lineage flat.

_KCORE_K = 3
_KCORE_ROUNDS = 20


def _kcore_oracle() -> str:
    return f"""
WITH RECURSIVE edges AS ({_EDGES_DUCK}),
verts AS (
  SELECT list(DISTINCT v ORDER BY v) AS alive FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
),
it AS (
  SELECT 0 AS step, alive FROM verts
  UNION ALL
  SELECT step + 1, (
    SELECT COALESCE(list(v ORDER BY v), CAST([] AS BIGINT[])) FROM (
      SELECT u AS v FROM (
        SELECT e.a AS u FROM edges e
        WHERE list_contains(i.alive, e.a) AND list_contains(i.alive, e.b)
        UNION ALL
        SELECT e.b AS u FROM edges e
        WHERE list_contains(i.alive, e.a) AND list_contains(i.alive, e.b)
      ) GROUP BY u HAVING COUNT(*) >= {_KCORE_K}))
  FROM it i WHERE step < {_KCORE_ROUNDS}
),
fin AS (SELECT alive FROM it WHERE step = {_KCORE_ROUNDS})
SELECT u AS vertex, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
  SELECT e.a AS u FROM edges e, fin
  WHERE list_contains(fin.alive, e.a) AND list_contains(fin.alive, e.b)
  UNION ALL
  SELECT e.b AS u FROM edges e, fin
  WHERE list_contains(fin.alive, e.a) AND list_contains(fin.alive, e.b)
) GROUP BY u
"""


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    alive = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_alive = alive.count()
    for _ in range(_KCORE_ROUNDS):
        kept = (
            e.join(alive.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("v", "b"), "b", "left_semi")
        )
        deg = (
            kept.select(F.col("a").alias("v"))
            .unionAll(kept.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = (
            deg.filter(F.col("deg") >= _KCORE_K)
            .select("v")
            .localCheckpoint(eager=True)
        )
        n2 = alive.count()
        if n2 == n_alive:  # fixpoint: further rounds are the identity
            break
        n_alive = n2
    core_edges = (
        e.join(alive.withColumnRenamed("v", "a"), "a", "left_semi")
        .join(alive.withColumnRenamed("v", "b"), "b", "left_semi")
    )
    return (
        core_edges.select(F.col("a").alias("vertex"))
        .unionAll(core_edges.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )


# --------------------------------------------------------------------------
# B191 (round 6) — deterministic random-walk corpus generation: the
# node2vec/DeepWalk preprocessing step that turns a graph into walk
# "sentences" for embedding training.  One walk of _WALK_LEN hops per
# seed vertex; the next hop is the salted-md5 pick over the SORTED
# neighbor list (the repo's standard RNG-free randomness), so the whole
# corpus is reproducible and exactly oracle-able via a recursive CTE.
# Distributed shape: adjacency lists are built once (one groupBy
# shuffle) and checkpointed; each hop shuffle-joins the walk frontier
# to its current vertex's adjacency row — walk state is O(walks), never
# materializing more than the frontier, the standard BSP walk pattern.

_WALK_LEN = 4
_WALK_SEED_MOD = 50


def _walks_oracle() -> str:
    return f"""
WITH RECURSIVE edges AS ({_EDGES_DUCK}),
sym AS (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b AS u, a AS v FROM edges),
adj AS (SELECT u, list(v ORDER BY v) AS nb FROM sym GROUP BY u),
walk AS (
  SELECT u AS seed, 0 AS step, u AS vertex FROM adj WHERE u % {_WALK_SEED_MOD} = 0
  UNION ALL
  SELECT w.seed, w.step + 1,
         a.nb[CAST(('0x' || substr(md5(w.seed || ':' || w.step || ':' || w.vertex), 1, 8))::BIGINT
                   % len(a.nb) AS INT) + 1]
  FROM walk w JOIN adj a ON a.u = w.vertex
  WHERE w.step < {_WALK_LEN}
)
SELECT seed, CAST(step AS INT) AS step, vertex FROM walk
"""


@query("graph_random_walks", oracle=_walks_oracle())
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    adj = (
        sym.groupBy("u")
        .agg(F.sort_array(F.collect_list("v")).alias("nb"))
        .localCheckpoint(eager=True)
    )
    pick = (
        "element_at(nb, cast(pmod(cast(conv(substring(md5("
        "concat(seed, ':', step, ':', vertex)), 1, 8), 16, 10) as bigint),"
        " size(nb)) as int) + 1)"
    )
    frontier = adj.filter(F.col("u") % _WALK_SEED_MOD == 0).select(
        F.col("u").alias("seed"), F.lit(0).alias("step"), F.col("u").alias("vertex")
    )
    levels = [frontier]
    for _ in range(_WALK_LEN):
        # lazy checkpoint: each level is still materialized exactly once
        # (the next hop's join and the final union share the cached RDD),
        # but all 4 hops ride ONE action instead of 4 eager jobs + 1
        frontier = (
            frontier.join(adj, adj.u == frontier.vertex)
            .select("seed", "step", "vertex", "nb")
            .select(
                "seed",
                (F.col("step") + 1).alias("step"),
                F.expr(pick).alias("vertex"),
            )
            .localCheckpoint(eager=False)
        )
        levels.append(frontier)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select("seed", F.col("step").cast("int").alias("step"), "vertex")


# --------------------------------------------------------------------------
# B218 (round 7) — HITS hubs & authorities (Kleinberg 1999) on the
# DIRECTED order-node -> part-node edge set (the undirected view the
# other graph queries share would make hubs == authorities).  Two full
# unnormalized power-iteration rounds in exact BIGINT arithmetic:
# a1 = indegree, h1 = sum of a1 over out-neighbors, a2 = sum of h1 over
# in-neighbors — the normalization HITS usually applies is a
# presentation-only scalar, so dropping it keeps every score an exact
# integer (values stay < ~1e7 here; at larger iteration counts the
# fixed-point rescale trick from graph_pagerank's oracle applies).
# Shape: each half-step is one equi-join edges->scores + one
# map-side-combined aggregation on the 8-byte node key; edges are
# localCheckpointed once.  Output = top-15 per role with (score DESC,
# node) total order.

_HITS_TOPK = 15

_DEDGES_DUCK = f"""
  SELECT DISTINCT {_U_DUCK} AS u, {_V_DUCK} AS v
  FROM lineitem
  WHERE l_orderkey % 4 = 0 AND {_U_DUCK} <> {_V_DUCK}
"""


@query(
    "graph_hits",
    oracle=f"""
WITH edges AS ({_DEDGES_DUCK}),
a1 AS (SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS s FROM edges GROUP BY v),
h1 AS (
  SELECT e.u AS node, CAST(SUM(a1.s) AS BIGINT) AS s
  FROM edges e JOIN a1 ON e.v = a1.node GROUP BY e.u),
a2 AS (
  SELECT e.v AS node, CAST(SUM(h1.s) AS BIGINT) AS s
  FROM edges e JOIN h1 ON e.u = h1.node GROUP BY e.v),
ranked AS (
  SELECT 'hub' AS role, node, s,
         ROW_NUMBER() OVER (ORDER BY s DESC, node) AS rnk
  FROM h1
  UNION ALL
  SELECT 'authority' AS role, node, s,
         ROW_NUMBER() OVER (ORDER BY s DESC, node) AS rnk
  FROM a2)
SELECT role, CAST(node AS BIGINT) AS node, CAST(s AS BIGINT) AS score,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_HITS_TOPK}
""",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    n = scale_conf(spark, "graph.n_nodes")
    edges = (
        li.select(
            F.expr(_u_spark(n)).cast("bigint").alias("u"),
            F.expr(_v_spark(n)).cast("bigint").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    a1 = edges.groupBy(F.col("v").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("s")
    )
    h1 = (
        edges.join(a1, edges.v == a1.node)
        .groupBy(F.col("u").alias("hnode"))
        .agg(F.sum("s").cast("bigint").alias("hs"))
    )
    a2 = (
        edges.join(h1, edges.u == h1.hnode)
        .groupBy(F.col("v").alias("anode"))
        .agg(F.sum("hs").cast("bigint").alias("as_"))
    )
    w = Window.orderBy(F.desc("score"), "node")
    hubs = h1.select(
        F.lit("hub").alias("role"),
        F.col("hnode").alias("node"),
        F.col("hs").alias("score"),
    ).withColumn("rnk", F.row_number().over(w))
    auths = a2.select(
        F.lit("authority").alias("role"),
        F.col("anode").alias("node"),
        F.col("as_").alias("score"),
    ).withColumn("rnk", F.row_number().over(w))
    return (
        hubs.unionByName(auths)
        .filter(F.col("rnk") <= _HITS_TOPK)
        .select("role", "node", "score", F.col("rnk").cast("int").alias("rnk"))
    )


# --------------------------------------------------------------------------
# Round 7 — label propagation communities (Raghavan et al. 2007), the
# near-linear community detector: every vertex starts as its own label
# and repeatedly adopts the most frequent label among its neighbors
# (ties -> smallest label, which makes the SYNCHRONOUS schedule fully
# deterministic — no engine RNG, so DuckDB replays the identical K
# rounds unrolled).  Per round: one co-partitioned join of the O(V)
# label vector to the checkpointed directed edge list, one
# (dst, label) count, one arg-max — the same scale shape as
# graph_pagerank (never broadcast the label vector; localCheckpoint
# truncates the loop lineage).  Output: per surviving community, size
# + min member + membership checksum.

_LPA_ITERS = 4


@query(
    "graph_label_propagation",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK}),
directed AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL
  SELECT b AS src, a AS dst FROM edges),
labels0 AS (
  SELECT DISTINCT src AS node, src AS label FROM directed),
l1c AS (
  SELECT d.dst AS node, p.label, COUNT(*) AS cnt
  FROM directed d JOIN labels0 p ON d.src = p.node
  GROUP BY d.dst, p.label),
l1r AS (
  SELECT node, label,
         row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
  FROM l1c),
labels1 AS (
  SELECT s.node, COALESCE(r.label, s.label) AS label
  FROM labels0 s LEFT JOIN (SELECT node, label FROM l1r WHERE rn = 1) r
    ON s.node = r.node),
l2c AS (
  SELECT d.dst AS node, p.label, COUNT(*) AS cnt
  FROM directed d JOIN labels1 p ON d.src = p.node
  GROUP BY d.dst, p.label),
l2r AS (
  SELECT node, label,
         row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
  FROM l2c),
labels2 AS (
  SELECT s.node, COALESCE(r.label, s.label) AS label
  FROM labels0 s LEFT JOIN (SELECT node, label FROM l2r WHERE rn = 1) r
    ON s.node = r.node),
l3c AS (
  SELECT d.dst AS node, p.label, COUNT(*) AS cnt
  FROM directed d JOIN labels2 p ON d.src = p.node
  GROUP BY d.dst, p.label),
l3r AS (
  SELECT node, label,
         row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
  FROM l3c),
labels3 AS (
  SELECT s.node, COALESCE(r.label, s.label) AS label
  FROM labels0 s LEFT JOIN (SELECT node, label FROM l3r WHERE rn = 1) r
    ON s.node = r.node),
l4c AS (
  SELECT d.dst AS node, p.label, COUNT(*) AS cnt
  FROM directed d JOIN labels3 p ON d.src = p.node
  GROUP BY d.dst, p.label),
l4r AS (
  SELECT node, label,
         row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
  FROM l4c),
labels4 AS (
  SELECT s.node, COALESCE(r.label, s.label) AS label
  FROM labels0 s LEFT JOIN (SELECT node, label FROM l4r WHERE rn = 1) r
    ON s.node = r.node)
SELECT label AS community,
       COUNT(*) AS n_members,
       MIN(node) AS min_member,
       CAST(SUM(node) AS BIGINT) AS member_checksum
FROM labels4 GROUP BY label
""",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    directed = (
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    spine = directed.select(F.col("src").alias("node")).distinct()
    labels = spine.select("node", F.col("node").alias("label"))
    for _ in range(_LPA_ITERS):
        counts = (
            directed.join(
                labels.withColumnRenamed("node", "src"), "src"
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # most frequent neighbor label, smallest label on ties: max over
        # (cnt, -label) lexicographic
        winner = counts.groupBy("node").agg(
            F.expr("max_by(label, struct(cnt, -label))").alias("new_label")
        )
        # No spine left join: `directed` carries both orientations, so
        # every spine node appears as dst and gets at least one neighbor
        # vote — the oracle's COALESCE(r.label, s.label) can never fire
        # and winner's node set equals the spine exactly.  Removing it
        # drops one join + one distinct per iteration; no per-iteration
        # localCheckpoint either (4 fixed iterations, bounded lineage,
        # one materializing job instead of 5).
        labels = winner.select("node", F.col("new_label").alias("label"))
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_member"),
        F.sum("node").alias("member_checksum"),
    )


# --------------------------------------------------------------------------
# B240 (round 8) — per-node local clustering coefficient: the
# node-level refinement of graph_triangle_count (cc(v) = 2T(v) /
# deg(v)(deg(v)-1)), the standard community-structure feature every
# graph-ML pipeline computes.  Same oriented wedge/closure machinery as
# the global count, but the closure keeps all three vertices and
# explodes each triangle to its members, so per-node counts come out of
# one more map-side-combined shuffle.  Exactness: counts are integers
# and the coefficient is fixed-point ((2T * 1e6) div (deg * (deg-1)),
# all positive).  Scale: the wedge join is bounded by oriented
# out-degree (~sqrt(2m) on skewed graphs) exactly like the count; the
# explode adds 3 rows per triangle.

_LCC_FP = 1_000_000


@query(
    "graph_local_clustering",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK}),
tri AS (
  SELECT e1.a AS va, e1.b AS vb, e2.b AS vc
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
tcnt AS (
  SELECT node, COUNT(*) AS n_tri FROM (
    SELECT va AS node FROM tri
    UNION ALL SELECT vb FROM tri
    UNION ALL SELECT vc FROM tri)
  GROUP BY node),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY node)
SELECT d.node,
       CAST(d.deg AS BIGINT) AS deg,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
       CAST((2 * COALESCE(t.n_tri, 0) * {_LCC_FP}) // (d.deg * (d.deg - 1))
            AS BIGINT) AS cc_fp
FROM deg d LEFT JOIN tcnt t ON d.node = t.node
WHERE d.deg >= 2
""",
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    e1 = e.select(F.col("a").alias("va"), F.col("b").alias("vb"))
    e2 = e.select(F.col("a").alias("x_b"), F.col("b").alias("vc"))
    wedges = e1.join(e2, e1.vb == e2.x_b).select("va", "vb", "vc")
    tri = wedges.join(e, (wedges.va == e.a) & (wedges.vc == e.b), "left_semi")
    tcnt = (
        tri.select(F.explode(F.array("va", "vb", "vc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.join(tcnt, "node", "left")
        .filter(F.col("deg") >= 2)
        .select(
            "node",
            F.col("deg").cast("bigint").alias("deg"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
            F.expr(
                f"CAST((2 * coalesce(n_tri, 0) * {_LCC_FP})"
                " div (deg * (deg - 1)) AS BIGINT)"
            ).alias("cc_fp"),
        )
    )


# --------------------------------------------------------------------------
# B261 (round 8) — per-edge triangle support (the k-truss building
# block): for every edge (a,b), count the triangles it participates in
# (|N(a) ∩ N(b)|), histogram the support values, and report the edge
# set surviving the k=4 truss condition (support >= k-2).  This is the
# peel criterion of truss decomposition — the standard cohesive-
# subgraph refinement of triangle counting (denser than k-core, cheaper
# than cliques).  Shape: adjacency explode + two equi-joins on the
# shared neighbor (wedge volume, exactly the triangle-count cost), one
# (a,b) groupBy — never all-pairs; degree skew is bounded by the same
# hash-derived vertex space every graph key uses.

_TRUSS_K = 4


@query(
    "graph_edge_triangle_support",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK}),
adj AS (
  SELECT a AS x, b AS n FROM edges
  UNION ALL
  SELECT b AS x, a AS n FROM edges),
sup AS (
  SELECT e.a, e.b, COUNT(*) AS support
  FROM edges e
  JOIN adj na ON na.x = e.a
  JOIN adj nb ON nb.x = e.b AND nb.n = na.n
  GROUP BY e.a, e.b),
allsup AS (
  SELECT e.a, e.b, COALESCE(s.support, 0) AS support
  FROM edges e LEFT JOIN sup s ON s.a = e.a AND s.b = e.b)
SELECT CAST(support AS BIGINT) AS support,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(CAST(support >= {_TRUSS_K - 2} AS INT)) AS BIGINT)
         AS n_truss_edges
FROM allsup
GROUP BY support
""",
)
def graph_edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    adj = e.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    na = adj.select(F.col("x").alias("a"), F.col("n").alias("cn"))
    nb = adj.select(F.col("x").alias("b"), F.col("n").alias("cn"))
    sup = (
        e.join(na, "a")
        .join(nb, ["b", "cn"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    allsup = e.join(sup, ["a", "b"], "left").select(
        F.coalesce("support", F.lit(0)).alias("support")
    )
    return allsup.groupBy(F.col("support").cast("bigint").alias("support")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum((F.col("support") >= _TRUSS_K - 2).cast("int"))
        .cast("bigint")
        .alias("n_truss_edges"),
    )


# --------------------------------------------------------------------------
# B268 (round 8) — Adamic–Adar link prediction: score non-adjacent
# node pairs by sum(1 / ln(deg(z))) over common neighbors z — the
# classic degree-discounted common-neighbor index (Adamic & Adar
# 2003), the standard next step after graph_jaccard_neighbors (which
# weighs all common neighbors equally).  Shape: adjacency self-join
# on the shared neighbor (wedge volume), anti-join against the edge
# set to keep only PREDICTED links, per-term round9 decimal ln so the
# pair sums are exact on both engines, global top-{_AA_TOPK} with a
# full deterministic tie-break.
#
# HUB CAP (round 9, VERDICT r8 #2): the raw wedge stage is
# sum(deg(z)^2) — one 10^6-degree hub on a power-law graph yields
# 10^12 wedge rows, and unlike triangle counting AA cannot orient the
# join away from hubs (it needs all neighbor PAIRS of z).  Fix: each
# z contributes wedges only among its _AA_DEG_CAP lowest-md5(z:x)
# neighbors (deterministic uniform subsample, mirrored EXACTLY in the
# oracle), bounding wedge volume by cap^2 * V while the 1/ln(deg)
# discount keeps the dropped hub terms negligible by construction.
# The discount still uses the FULL degree.  The cap bites at sf0.01
# (max degree 54), so the driver's parity gate exercises the mirror.

_AA_TOPK = 100
_AA_DEG_CAP = 24


def capped_adjacency(adj: DataFrame, cap: int = _AA_DEG_CAP) -> DataFrame:
    """Per-z deterministic neighbor subsample: keep the ``cap``
    lowest-md5("z:x") rows of each shared-neighbor group.  (z is the
    ``n`` column; its neighbors are the ``x`` values.)  Window
    partitions by z — V-way parallel, never all-to-one."""
    wv = Window.partitionBy("n").orderBy(
        F.md5(F.concat_ws(":", F.col("n"), F.col("x"))), "x"
    )
    return (
        adj.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") <= cap)
        .drop("rk")
    )


@query(
    "graph_adamic_adar",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK}),
adj AS (
  SELECT a AS x, b AS n FROM edges
  UNION ALL
  SELECT b AS x, a AS n FROM edges),
deg AS (SELECT x, COUNT(*) AS d FROM adj GROUP BY x),
cap AS (
  SELECT x, n FROM (
    SELECT x, n,
           ROW_NUMBER() OVER (
             PARTITION BY n ORDER BY md5(n || ':' || x), x) AS rk
    FROM adj)
  WHERE rk <= {_AA_DEG_CAP}),
wed AS (
  SELECT least(a1.x, a2.x) AS u, greatest(a1.x, a2.x) AS v, a1.n AS z
  FROM cap a1 JOIN cap a2 ON a1.n = a2.n AND a1.x < a2.x),
pred AS (
  SELECT w.u, w.v,
         CAST(SUM(CAST(round(1.0 / ln(d.d), 9) AS DECIMAL(18,9))) AS DOUBLE)
           AS aa_score,
         COUNT(*) AS n_common
  FROM wed w
  JOIN deg d ON d.x = w.z
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = w.u AND e.b = w.v)
  GROUP BY w.u, w.v)
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
       aa_score, CAST(n_common AS BIGINT) AS n_common
FROM pred
ORDER BY aa_score DESC, u, v
LIMIT {_AA_TOPK}
""",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    adj = e.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    # NOT checkpointed: the wedge self-join's two sides are the same
    # subtree shuffled on the same key (the window already partitions
    # by z), so Spark reuses one exchange — an eager checkpoint was
    # MEASURED SLOWER (5.1 s vs 3.9 s, r12 wave 5).
    capped = capped_adjacency(adj)
    a1 = capped.select(F.col("x").alias("x1"), F.col("n").alias("z"))
    a2 = capped.select(F.col("x").alias("x2"), F.col("n").alias("z"))
    wed = a1.join(a2, "z").filter(F.col("x1") < F.col("x2")).select(
        F.least("x1", "x2").alias("u"), F.greatest("x1", "x2").alias("v"), "z"
    )
    pred = (
        wed.join(e, (wed.u == e.a) & (wed.v == e.b), "left_anti")
        .join(deg.select(F.col("x").alias("z"), "d"), "z")
        .groupBy("u", "v")
        .agg(
            F.sum(F.round(1.0 / F.log(F.col("d")), 9).cast("decimal(18,9)"))
            .cast("double")
            .alias("aa_score"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    return (
        pred.orderBy(F.desc("aa_score"), "u", "v")
        .limit(_AA_TOPK)
        .select(
            F.col("u").cast("bigint"),
            F.col("v").cast("bigint"),
            "aa_score",
            F.col("n_common").cast("bigint"),
        )
    )


# --------------------------------------------------------------------------
# B274 (round 8) — degree assortativity (Newman 2002): the Pearson
# correlation between the degrees at the two ends of every edge — the
# one-number answer to "do hubs attach to hubs?" that shapes how this
# graph will partition (assortative graphs produce hub-heavy shuffle
# skew).  Each undirected edge contributes both orientations (the
# standard symmetrization), all moments are exact integer sums over
# the edge list, and the final r is one mirrored double expression
# rounded to 9.  Cost: the degree join is the same two-hop adjacency
# equi-join every graph key pays — no wedges, no pairs.

@query(
    "graph_degree_assortativity",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK}),
adj AS (
  SELECT a AS x, b AS n FROM edges
  UNION ALL
  SELECT b AS x, a AS n FROM edges),
deg AS (SELECT x, COUNT(*) AS d FROM adj GROUP BY x),
de AS (
  SELECT da.d AS du, db.d AS dv
  FROM adj e
  JOIN deg da ON da.x = e.x
  JOIN deg db ON db.x = e.n),
m AS (
  SELECT COUNT(*) AS n, SUM(du) AS su, SUM(dv) AS sv,
         SUM(du * dv) AS suv, SUM(du * du) AS suu, SUM(dv * dv) AS svv
  FROM de)
SELECT CAST(n AS BIGINT) AS n_endpoints,
       round((CAST(n AS DOUBLE) * suv - CAST(su AS DOUBLE) * sv)
             / (sqrt(CAST(n AS DOUBLE) * suu - CAST(su AS DOUBLE) * su)
                * sqrt(CAST(n AS DOUBLE) * svv - CAST(sv AS DOUBLE) * sv)),
             9) AS assortativity
FROM m
""",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    adj = e.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    de = (
        adj.join(deg.select(F.col("x"), F.col("d").alias("du")), "x")
        .join(
            deg.select(F.col("x").alias("n"), F.col("d").alias("dv")), "n"
        )
        .select("du", "dv")
    )
    m = de.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("du").alias("su"),
        F.sum("dv").alias("sv"),
        F.sum(F.col("du") * F.col("dv")).alias("suv"),
        F.sum(F.col("du") * F.col("du")).alias("suu"),
        F.sum(F.col("dv") * F.col("dv")).alias("svv"),
    )
    n = F.col("n").cast("double")
    return m.select(
        F.col("n").cast("bigint").alias("n_endpoints"),
        F.round(
            (n * F.col("suv") - F.col("su").cast("double") * F.col("sv"))
            / (
                F.sqrt(n * F.col("suu") - F.col("su").cast("double") * F.col("su"))
                * F.sqrt(n * F.col("svv") - F.col("sv").cast("double") * F.col("sv"))
            ),
            9,
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# B287 (round 9) — one synchronous Louvain round + modularity: from
# singleton communities, every node u moves to the community of the
# neighbor v with the best modularity gain dQ = 1/m - k_u*k_v/(2m^2),
# eligible iff dQ > 0 — which reduces to the INTEGER test
# 2m > k_u * k_v (the whole gain calculus is exact).  The argmax is
# the minimum-degree neighbor (dQ is decreasing in k_v), tie-broken
# on vertex id via the integer encoding min(k_v * 2^20 + v).  The
# resulting partition's modularity Q = W/m - sum_c D_c^2 / (4 m^2)
# is two integer sums and one rounded double.  Subsequent Louvain
# rounds iterate exactly like graph_label_propagation's synchronous
# recipe; one round is the oracle-replayable unit.  Shape: adjacency
# + degree equi-joins, one per-node min reduce, one label join — the
# same two-hop cost every graph key pays, no wedges.


@query(
    "graph_louvain_round",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK}),
adj AS (
  SELECT a AS x, b AS n FROM edges
  UNION ALL
  SELECT b AS x, a AS n FROM edges),
deg AS (SELECT x, COUNT(*) AS d FROM adj GROUP BY x),
m AS (SELECT COUNT(*) AS m FROM edges),
best AS (
  SELECT a.x,
         MIN(dn.d * 1048576 + a.n) % 1048576 AS move_to
  FROM adj a
  JOIN deg du ON du.x = a.x
  JOIN deg dn ON dn.x = a.n
  CROSS JOIN m
  WHERE 2 * m.m > du.d * dn.d
  GROUP BY a.x),
lab AS (
  SELECT d.x, COALESCE(b.move_to, d.x) AS c
  FROM deg d LEFT JOIN best b ON b.x = d.x),
within AS (
  SELECT COUNT(*) AS w
  FROM edges e JOIN lab la ON la.x = e.a JOIN lab lb ON lb.x = e.b
  WHERE la.c = lb.c),
dsum AS (
  SELECT CAST(SUM(CAST(dc AS DECIMAL(19,0)) * dc) AS DECIMAL(38,0)) AS sd2,
         COUNT(*) AS n_comm
  FROM (SELECT l.c, SUM(d.d) AS dc
        FROM lab l JOIN deg d ON d.x = l.x GROUP BY l.c)),
moved AS (SELECT COUNT(*) AS n_moved FROM lab WHERE c <> x)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST(moved.n_moved AS BIGINT) AS n_moved,
       CAST(dsum.n_comm AS BIGINT) AS n_communities,
       round(CAST(within.w AS DOUBLE) / m.m
             - CAST(dsum.sd2 AS DOUBLE)
               / (4.0 * CAST(m.m AS DOUBLE) * m.m), 9) AS modularity
FROM within, dsum, moved, m
""",
)
def graph_louvain_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    adj = e.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    # deg feeds du, dn, the label spine and the node count (4 consumers)
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).alias("d")).localCheckpoint(
        eager=True
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    du = deg.select(F.col("x").alias("x"), F.col("d").alias("du"))
    dn = deg.select(F.col("x").alias("n"), F.col("d").alias("dn"))
    # (degree, node) packed as d*S + n with S = next power of two past
    # the VERTEX-SPACE size, not a fixed 2^20: the scaled-vertex
    # harness raises graph.n_nodes far beyond 2^20, where a fixed
    # shift would bleed node bits into the degree field and corrupt
    # the argmax.  MIN(d*S + n) % S decodes to the same (d, n)
    # lexicographic argmin for ANY valid S, so the oracle's pinned
    # 2^20 (n_nodes = 4000) stays value-identical.
    shift = 1 << max(scale_conf(spark, "graph.n_nodes") - 1, 1).bit_length()
    best = (
        adj.join(du, "x")
        .join(dn, "n")
        .crossJoin(F.broadcast(m))
        .filter(2 * F.col("m") > F.col("du") * F.col("dn"))
        .groupBy("x")
        .agg((F.min(F.col("dn") * shift + F.col("n")) % shift).alias("move_to"))
    )
    # lab feeds both edge-endpoint label joins, dsum and moved (4
    # consumers, each re-running the best-move join otherwise)
    lab = deg.join(best, "x", "left").select(
        "x", "d", F.coalesce("move_to", F.col("x")).alias("c")
    ).localCheckpoint(eager=True)
    la = lab.select(F.col("x").alias("a"), F.col("c").alias("ca"))
    lb = lab.select(F.col("x").alias("b"), F.col("c").alias("cb"))
    within = (
        e.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    dsum = (
        lab.groupBy("c")
        .agg(F.sum("d").alias("dc"))
        .agg(
            F.sum(F.col("dc").cast("decimal(19,0)") * F.col("dc"))
            .cast("decimal(38,0)")
            .alias("sd2"),
            F.count(F.lit(1)).alias("n_comm"),
        )
    )
    moved = lab.filter(F.col("c") != F.col("x")).agg(
        F.count(F.lit(1)).alias("n_moved")
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        F.broadcast(nn)
        .crossJoin(F.broadcast(moved))
        .crossJoin(F.broadcast(dsum))
        .crossJoin(F.broadcast(within))
        .crossJoin(F.broadcast(m))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_moved").cast("bigint").alias("n_moved"),
            F.col("n_comm").cast("bigint").alias("n_communities"),
            F.round(
                F.col("w").cast("double") / F.col("m")
                - F.col("sd2").cast("double")
                / (4.0 * F.col("m").cast("double") * F.col("m")),
                9,
            ).alias("modularity"),
        )
    )


# --------------------------------------------------------------------------
# B297 (round 9) — rich-club coefficient: phi(k) = 2 E_k / (N_k (N_k-1))
# over the subgraph of nodes with degree > k, for k in {2,4,8,16} —
# the "do hubs preferentially interconnect?" structure metric
# (Colizza et al. 2006) that complements degree assortativity (a
# correlation) with an explicit density profile.  Pure integer
# counting: one degree table, one edge-endpoint degree join, four
# threshold aggregates; the ratio is a single double rounded to 9.


@query(
    "graph_rich_club",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK}),
adj AS (
  SELECT a AS x, b AS n FROM edges
  UNION ALL
  SELECT b AS x, a AS n FROM edges),
deg AS (SELECT x, COUNT(*) AS d FROM adj GROUP BY x),
ed AS (
  SELECT da.d AS du, db.d AS dv
  FROM edges e JOIN deg da ON da.x = e.a JOIN deg db ON db.x = e.b),
ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
stats AS (
  SELECT ks.k,
         (SELECT COUNT(*) FROM deg WHERE d > ks.k) AS nk,
         (SELECT COUNT(*) FROM ed WHERE du > ks.k AND dv > ks.k) AS ek
  FROM ks)
SELECT CAST(k AS INT) AS k,
       CAST(nk AS BIGINT) AS n_nodes,
       CAST(ek AS BIGINT) AS n_edges,
       CASE WHEN nk >= 2
            THEN round(2.0 * ek / (CAST(nk AS DOUBLE) * (nk - 1)), 9) END
         AS phi
FROM stats
""",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One-pass conditional aggregation per threshold instead of the former
    # ks-crossJoin + groupBy, which replicated the degree table and the
    # edge-endpoint join output 4x through a nested-loop join (guide §2.3
    # aggregate before you shuffle; du>k AND dv>k == least(du,dv)>k).
    e = edge_set(spark, sf_dir, materialize=True)
    adj = e.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    # deg feeds both endpoint joins and the nk aggregate — materialize once.
    deg = (
        adj.groupBy("x").agg(F.count(F.lit(1)).alias("d")).localCheckpoint(eager=True)
    )
    da = deg.select(F.col("x").alias("a"), F.col("d").alias("du"))
    db = deg.select(F.col("x").alias("b"), F.col("d").alias("dv"))
    md = e.join(da, "a").join(db, "b").select(F.least("du", "dv").alias("dmin"))
    ks = [2, 4, 8, 16]
    nk_cells = deg.agg(
        *[F.count(F.when(F.col("d") > k, 1)).alias(f"nk{k}") for k in ks]
    )
    ek_cells = md.agg(
        *[F.count(F.when(F.col("dmin") > k, 1)).alias(f"ek{k}") for k in ks]
    )
    stats = (
        F.broadcast(nk_cells)
        .crossJoin(F.broadcast(ek_cells))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("k"),
                            F.col(f"nk{k}").alias("nk"),
                            F.col(f"ek{k}").alias("ek"),
                        )
                        for k in ks
                    ]
                )
            ).alias("s")
        )
        .select("s.k", "s.nk", "s.ek")
    )
    return stats.select(
        F.col("k").cast("int").alias("k"),
        F.col("nk").cast("bigint").alias("n_nodes"),
        F.col("ek").cast("bigint").alias("n_edges"),
        F.when(
            F.col("nk") >= 2,
            F.round(
                2.0 * F.col("ek") / (F.col("nk").cast("double") * (F.col("nk") - 1)),
                9,
            ),
        ).alias("phi"),
    )


# --------------------------------------------------------------------------
# Shared Leiden oracle prefix: one-round Louvain labels +
# intra-community adjacency + K=4 min-label refinement (r4) —
# interpolated by BOTH graph_leiden_refine and
# graph_leiden_aggregate so the two oracles cannot desynchronize.
# The reused CTEs are MATERIALIZED: each r(k) reads r(k-1) twice, so
# DuckDB 1.0 otherwise inlines r0 2^4 times and the oracle takes
# minutes instead of tens of milliseconds at sf0.001.
_LEIDEN_R4_DUCK = f"""WITH edges AS MATERIALIZED ({_EDGES_DUCK}),
adj AS MATERIALIZED (
  SELECT a AS x, b AS n FROM edges
  UNION ALL
  SELECT b AS x, a AS n FROM edges),
deg AS MATERIALIZED (SELECT x, COUNT(*) AS d FROM adj GROUP BY x),
m AS (SELECT COUNT(*) AS m FROM edges),
best AS (
  SELECT a.x,
         MIN(dn.d * 1048576 + a.n) % 1048576 AS move_to
  FROM adj a
  JOIN deg du ON du.x = a.x
  JOIN deg dn ON dn.x = a.n
  CROSS JOIN m
  WHERE 2 * m.m > du.d * dn.d
  GROUP BY a.x),
lab AS MATERIALIZED (
  SELECT d.x, COALESCE(b.move_to, d.x) AS c
  FROM deg d LEFT JOIN best b ON b.x = d.x),
adjc AS MATERIALIZED (
  SELECT a.x, a.n
  FROM adj a
  JOIN lab lx ON lx.x = a.x
  JOIN lab ln ON ln.x = a.n
  WHERE lx.c = ln.c),
r0 AS (SELECT x, x AS r FROM lab),
r1 AS MATERIALIZED (
  SELECT r0.x, LEAST(MIN(r0.r), COALESCE(MIN(rn.r), MIN(r0.r))) AS r
  FROM r0 LEFT JOIN adjc ON adjc.x = r0.x LEFT JOIN r0 rn ON rn.x = adjc.n
  GROUP BY r0.x),
r2 AS MATERIALIZED (
  SELECT r1.x, LEAST(MIN(r1.r), COALESCE(MIN(rn.r), MIN(r1.r))) AS r
  FROM r1 LEFT JOIN adjc ON adjc.x = r1.x LEFT JOIN r1 rn ON rn.x = adjc.n
  GROUP BY r1.x),
r3 AS MATERIALIZED (
  SELECT r2.x, LEAST(MIN(r2.r), COALESCE(MIN(rn.r), MIN(r2.r))) AS r
  FROM r2 LEFT JOIN adjc ON adjc.x = r2.x LEFT JOIN r2 rn ON rn.x = adjc.n
  GROUP BY r2.x),
r4 AS MATERIALIZED (
  SELECT r3.x, LEAST(MIN(r3.r), COALESCE(MIN(rn.r), MIN(r3.r))) AS r
  FROM r3 LEFT JOIN adjc ON adjc.x = r3.x LEFT JOIN r3 rn ON rn.x = adjc.n
  GROUP BY r3.x)"""


# B504 (round 10) — Leiden refinement round on top of the Louvain
# local-move labels (Traag/Waltman/van Eck 2019): Louvain's known
# defect is internally DISCONNECTED communities; Leiden's refinement
# phase re-partitions each community into its connected parts before
# the aggregate step.  Here: rebuild the one-round Louvain labels
# (identical machinery to graph_louvain_round), restrict the adjacency
# to INTRA-community edges, then run K=4 synchronous min-label rounds
# -- the bounded connected-components contraction inside community
# boundaries.  K=4 converges on the fixture (asserted in tests: a 5th
# round moves nothing); sub-labels are min node ids, globally unique
# across communities.  Output: node/community/sub-community counts and
# how many communities the refinement SPLIT (the Leiden guarantee is
# that these become separate communities).  Scale shape: the label
# table and intra-community adjacency are equi-joins on vertex ids;
# each round is one shuffle over intra-community edges -- no all-pairs
# anywhere, same posture as the Louvain round it refines.


@query(
    "graph_leiden_refine",
    oracle=_LEIDEN_R4_DUCK + f""",
split AS (
  SELECT COUNT(*) AS n_split
  FROM (SELECT l.c FROM lab l JOIN r4 ON r4.x = l.x
        GROUP BY l.c HAVING COUNT(DISTINCT r4.r) > 1))
SELECT CAST((SELECT COUNT(*) FROM lab) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(DISTINCT c) FROM lab) AS BIGINT) AS n_communities,
       CAST((SELECT COUNT(DISTINCT r) FROM r4) AS BIGINT) AS n_subcommunities,
       CAST(split.n_split AS BIGINT) AS n_split_communities
FROM split
""",
)
def graph_leiden_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab, adjc, _e, _deg = _leiden_labels(spark, sf_dir)
    # r has two consumers (split + n_subcommunities); without the
    # checkpoint each re-plans and re-executes the 4-round label chain
    # (same fix graph_leiden_aggregate already carries).  Eager, not
    # lazy: both consumers are broadcast-exchange subtrees that Spark
    # materializes in concurrent jobs — a lazy checkpoint lets them
    # race and each compute the chain (ADVICE r12).
    r = _leiden_rounds(lab, adjc, 4).localCheckpoint(eager=True)
    split = (
        lab.join(r, "x")
        .groupBy("c")
        .agg(F.countDistinct("r").alias("nr"))
        .filter(F.col("nr") > 1)
        .agg(F.count(F.lit(1)).alias("n_split"))
    )
    nn = lab.agg(F.count(F.lit(1)).alias("n_nodes"))
    nc = lab.agg(F.countDistinct("c").alias("n_communities"))
    ns = r.agg(F.countDistinct("r").alias("n_subcommunities"))
    return (
        F.broadcast(nn)
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(split))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_communities").cast("bigint").alias("n_communities"),
            F.col("n_subcommunities").cast("bigint").alias("n_subcommunities"),
            F.col("n_split").cast("bigint").alias("n_split_communities"),
        )
    )


def _leiden_labels(spark: SparkSession, sf_dir: str):
    """One-round Louvain labels, intra-community adjacency, edge set,
    and degree table (shared by graph_leiden_refine,
    graph_leiden_aggregate, and the convergence test — the aggregate
    step reuses the already-materialized edges/degrees instead of
    re-deriving them)."""
    e = edge_set(spark, sf_dir, materialize=True)
    adj = e.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    m = e.agg(F.count(F.lit(1)).alias("m"))
    du = deg.select("x", F.col("d").alias("du"))
    dn = deg.select(F.col("x").alias("n"), F.col("d").alias("dn"))
    shift = 1 << max(scale_conf(spark, "graph.n_nodes") - 1, 1).bit_length()
    best = (
        adj.join(du, "x")
        .join(dn, "n")
        .crossJoin(F.broadcast(m))
        .filter(2 * F.col("m") > F.col("du") * F.col("dn"))
        .groupBy("x")
        .agg((F.min(F.col("dn") * shift + F.col("n")) % shift).alias("move_to"))
    )
    lab = deg.join(best, "x", "left").select(
        "x", F.coalesce("move_to", F.col("x")).alias("c")
    )
    lx = lab.select("x", F.col("c").alias("cx"))
    ln = lab.select(F.col("x").alias("n"), F.col("c").alias("cn"))
    adjc = (
        adj.join(lx, "x")
        .join(ln, "n")
        .filter(F.col("cx") == F.col("cn"))
        .select("x", "n")
    )
    # both sides are re-traversed once per refinement round — and the
    # consumers are CONCURRENT (the 4 refinement-round map stages over
    # adjc, and the broadcast-exchange subtrees over lab, are scheduled
    # in parallel), so a lazy checkpoint can race and each consumer
    # recompute the unpersisted chain (ADVICE r12).  Eager guarantees
    # one materialization before anything plans against them.
    return (
        lab.localCheckpoint(eager=True),
        adjc.localCheckpoint(eager=True),
        e,
        deg,
    )


def _leiden_rounds(lab: DataFrame, adjc: DataFrame, k: int) -> DataFrame:
    """k synchronous min-label rounds over the intra-community edges."""
    r = lab.select("x", F.col("x").alias("r"))
    for _ in range(k):
        rn = r.select(F.col("x").alias("n"), F.col("r").alias("rn"))
        r = (
            r.join(adjc, "x", "left")
            .join(rn, "n", "left")
            .groupBy("x")
            .agg(
                F.least(
                    F.min("r"), F.coalesce(F.min("rn"), F.min("r"))
                ).alias("r")
            )
        )
    return r


# --------------------------------------------------------------------------
# B505 (round 10) — Leiden aggregate step: contract the refined
# partition (B504) into its super-graph — one super-node per refined
# sub-community, one weighted super-edge per connected sub-community
# pair — and report the contraction profile plus the modularity of the
# refined partition (what the next Leiden level would start from).
# Contraction is the standard scale recipe for multi-level community
# detection: after two equi-joins to relabel edge endpoints, the
# super-graph GROUP BY is the only shuffle, and the contracted graph
# is orders of magnitude smaller than the input — each further level
# gets cheaper.


@query(
    "graph_leiden_aggregate",
    oracle=_LEIDEN_R4_DUCK + f""",
relabeled AS (
  SELECT ra.r AS sa, rb.r AS sb
  FROM edges e JOIN r4 ra ON ra.x = e.a JOIN r4 rb ON rb.x = e.b),
super_edges AS (
  SELECT LEAST(sa, sb) AS u, GREATEST(sa, sb) AS v, COUNT(*) AS w
  FROM relabeled WHERE sa <> sb GROUP BY 1, 2),
within AS (SELECT COUNT(*) AS w FROM relabeled WHERE sa = sb),
dsum AS (
  SELECT CAST(SUM(CAST(dc AS DECIMAL(19,0)) * dc) AS DECIMAL(38,0)) AS sd2
  FROM (SELECT r4.r, SUM(d.d) AS dc
        FROM r4 JOIN deg d ON d.x = r4.x GROUP BY r4.r))
SELECT CAST((SELECT COUNT(DISTINCT r) FROM r4) AS BIGINT) AS n_super_nodes,
       CAST((SELECT COUNT(*) FROM super_edges) AS BIGINT) AS n_super_edges,
       CAST(COALESCE((SELECT MAX(w) FROM super_edges), 0) AS BIGINT)
         AS max_edge_weight,
       round(CAST(within.w AS DOUBLE) / m.m
             - CAST(dsum.sd2 AS DOUBLE)
               / (4.0 * CAST(m.m AS DOUBLE) * m.m), 9) AS modularity_refined
FROM within, dsum, m
""",
)
def graph_leiden_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab, adjc, e, deg = _leiden_labels(spark, sf_dir)
    # eager: r's three consumers (relabel join, dsum, n_super_nodes) are
    # concurrent broadcast-exchange jobs — see graph_leiden_refine.
    r = _leiden_rounds(lab, adjc, 4).localCheckpoint(eager=True)
    m = e.agg(F.count(F.lit(1)).alias("m"))
    ra = r.select(F.col("x").alias("a"), F.col("r").alias("sa"))
    rb = r.select(F.col("x").alias("b"), F.col("r").alias("sb"))
    relabeled = e.join(ra, "a").join(rb, "b").select("sa", "sb")
    # ONE weighted-contraction pass feeds both the super-edge stats and
    # the within-community edge count (previously super_edges and within
    # each re-ran the e |><| ra |><| rb relabel join).  Self-loops (sa ==
    # sb) group on u == v with w_in = true; the second-level aggregate
    # splits on that flag, so the whole thing is one pipeline — no
    # duplicated subtree, no extra materialization.
    ses = relabeled.groupBy(
        F.least("sa", "sb").alias("u"),
        F.greatest("sa", "sb").alias("v"),
        (F.col("sa") == F.col("sb")).alias("w_in"),
    ).agg(F.count(F.lit(1)).alias("w"))
    se_stats = ses.agg(
        F.count(F.when(~F.col("w_in"), True)).alias("n_super_edges"),
        F.coalesce(F.max(F.when(~F.col("w_in"), F.col("w"))), F.lit(0)).alias(
            "max_edge_weight"
        ),
        F.coalesce(F.sum(F.when(F.col("w_in"), F.col("w"))), F.lit(0)).alias(
            "w"
        ),
    )
    dsum = (
        r.join(deg, "x")
        .groupBy("r")
        .agg(F.sum("d").alias("dc"))
        .agg(
            F.sum(F.col("dc").cast("decimal(19,0)") * F.col("dc"))
            .cast("decimal(38,0)")
            .alias("sd2")
        )
    )
    nsn = r.agg(F.countDistinct("r").alias("n_super_nodes"))
    return (
        F.broadcast(nsn)
        .crossJoin(F.broadcast(se_stats))
        .crossJoin(F.broadcast(dsum))
        .crossJoin(F.broadcast(m))
        .select(
            F.col("n_super_nodes").cast("bigint").alias("n_super_nodes"),
            F.col("n_super_edges").cast("bigint").alias("n_super_edges"),
            F.col("max_edge_weight").cast("bigint").alias("max_edge_weight"),
            F.round(
                F.col("w").cast("double") / F.col("m")
                - F.col("sd2").cast("double")
                / (4.0 * F.col("m").cast("double") * F.col("m")),
                9,
            ).alias("modularity_refined"),
        )
    )


# --------------------------------------------------------------------------
# B527 (round 10) — personalized PageRank: rank mass teleports back to a SEED
# SET instead of uniformly (the "related to these accounts/documents"
# recommendation primitive — Pinterest's Pixie, Twitter's WTF both run
# exactly this).  Seeds are the deterministic 1%-slice src % 100 = 7;
# non-seed vertices get teleport mass 0, so rank concentrates in the
# seeds' neighborhoods.  Same EXACT fixed-point integer iteration as
# graph_pagerank directly above (mass scaled 10^15, per-edge
# contribution rank DIV outdeg, damping 17/20) — every step is
# commutative integer math both engines reproduce bit-for-bit in any
# accumulation order.  The recursive-CTE twin seeds ALL vertices at
# step 0 (rank 0 for non-seeds) so zero-inflow seeds still receive
# their teleport term each round, mirroring the Spark loop's left join
# on the degree spine.  Scale notes: identical to graph_pagerank — the
# O(V) rank vector is shuffle-joined (never broadcast) against the
# checkpointed link table per iteration; 5 fixed iterations.

_PPR_SEED_MOD, _PPR_SEED_RES = 100, 7


def _ppr_oracle() -> str:
    s = _PR_SCALE
    return f"""
WITH RECURSIVE edges AS ({_EDGES_DUCK}),
oe AS (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b AS src, a AS dst FROM edges),
deg AS (SELECT src, COUNT(*) AS outdeg FROM oe GROUP BY src),
ns AS (SELECT COUNT(*) AS ns FROM deg WHERE src % {_PPR_SEED_MOD} = {_PPR_SEED_RES}),
it AS (
  SELECT 0 AS step, src,
         CAST(CASE WHEN src % {_PPR_SEED_MOD} = {_PPR_SEED_RES}
                   THEN {s} // (SELECT ns FROM ns) ELSE 0 END AS BIGINT) AS rank
  FROM deg
  UNION ALL
  SELECT r.step + 1, o.dst AS src,
         CAST(CASE WHEN o.dst % {_PPR_SEED_MOD} = {_PPR_SEED_RES}
                   THEN (3 * {s}) // (20 * (SELECT ns FROM ns)) ELSE 0 END
              + (17 * SUM(r.rank // d.outdeg)) // 20 AS BIGINT) AS rank
  FROM it r
  JOIN deg d ON d.src = r.src
  JOIN oe o ON o.src = r.src
  WHERE r.step < {_PR_ITERS}
  GROUP BY r.step + 1, o.dst
)
SELECT src, CAST(src % {_PPR_SEED_MOD} = {_PPR_SEED_RES} AS BOOLEAN) AS is_seed,
       round(CAST(rank AS DOUBLE) / 1e15, 9) AS rank
FROM (SELECT src, rank FROM it WHERE step = {_PR_ITERS}
      ORDER BY rank DESC, src LIMIT 20)
"""


@query("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    out = (
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    )
    deg = out.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    links = out.join(deg, "src").localCheckpoint(eager=True)
    is_seed = F.col("src") % _PPR_SEED_MOD == _PPR_SEED_RES
    n_seeds = deg.filter(is_seed).count()
    init = _PR_SCALE // n_seeds
    base = (3 * _PR_SCALE) // (20 * n_seeds)
    ranks = deg.select(
        "src",
        F.when(is_seed, F.lit(init)).otherwise(F.lit(0)).cast("bigint").alias("rank"),
    )
    for _ in range(_PR_ITERS):
        # Same shuffle-join shape as graph_pagerank: the O(V) rank
        # vector co-partitions with the checkpointed link table on src.
        contrib = (
            links.join(ranks, "src")
            .select(
                F.col("dst").alias("src"),
                F.expr("rank div outdeg").alias("c"),
            )
            .groupBy("src")
            .agg(F.sum("c").alias("inflow"))
        )
        # No degree-spine left join / per-iteration checkpoint: symmetric
        # edge set => every deg vertex receives inflow (see graph_pagerank),
        # so contrib's vertex set equals deg's and coalesce can't fire.
        ranks = contrib.select(
            "src",
            (
                F.when(is_seed, F.lit(base)).otherwise(F.lit(0))
                + F.expr("(17 * inflow) div 20")
            )
            .cast("bigint")
            .alias("rank"),
        )
    return (
        ranks.orderBy(F.desc("rank"), "src")
        .limit(20)
        .select(
            "src",
            is_seed.alias("is_seed"),
            F.round(F.col("rank") / F.lit(1e15), 9).alias("rank"),
        )
    )


# --------------------------------------------------------------------------
# B533 (round 10) — Katz centrality: x_{k+1} = alpha * A x_k + 1,
# the walk-counting centrality that (unlike degree) credits a vertex
# for ALL bounded-length walks reaching it, with attenuation alpha per
# step — PageRank's non-stochastic sibling (no out-degree division, so
# high-degree neighbors contribute full mass).  Same EXACT fixed-point
# integer protocol as graph_pagerank, but with its own headroom budget:
# WITHOUT the stochastic 1/outdeg normalization a hub's score grows
# like (deg_max * alpha)^k, so mass is scaled 10^9 (not 10^15) and
# alpha = 1/32 as integer DIV 32 applied PER EDGE before the sum (the
# graph_pagerank contribution protocol) — dividing after the sum would
# let the raw inflow accumulator overflow BIGINT even when the
# post-division score fits (a deg-2000 hub of deg-2000 hubs sums
# 2000 * 1.5e16 ~ 3e19 at iteration 5; the code-review catch).  With
# per-edge division the worst case on the densest fixture this repo
# ever runs (sf1: ~1.4M distinct edges over the 4000-vertex space,
# deg_max ~2000) is a SUM bounded by deg_max * score_4/32 ~ 9.4e17 and
# a final score ~1e18, inside BIGINT on both engines — at the cost of
# one truncation per edge instead of per vertex (< deg units of 1e-9,
# checked against the float reference in tests).  5 fixed iterations of commutative
# integer math, bit-identical in any accumulation order; the O(V)
# score vector shuffle-joins the checkpointed links, never broadcast.


_KATZ_SCALE = 10**9


def _katz_oracle() -> str:
    s = _KATZ_SCALE
    return f"""
WITH RECURSIVE edges AS ({_EDGES_DUCK}),
oe AS (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b AS src, a AS dst FROM edges),
nv AS (SELECT DISTINCT src FROM oe),
it AS (
  SELECT 0 AS step, src, CAST({s} AS BIGINT) AS score FROM nv
  UNION ALL
  SELECT r.step + 1, o.dst AS src,
         CAST(SUM(r.score // 32) + {s} AS BIGINT) AS score
  FROM it r
  JOIN oe o ON o.src = r.src
  WHERE r.step < {_PR_ITERS}
  GROUP BY r.step + 1, o.dst
)
SELECT src, round(CAST(score AS DOUBLE) / 1e9, 9) AS katz
FROM (SELECT src, score FROM it WHERE step = {_PR_ITERS}
      ORDER BY score DESC, src LIMIT 20)
"""


@query("graph_katz_centrality", oracle=_katz_oracle())
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    out = (
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    ).localCheckpoint(eager=True)
    spine = out.select("src").distinct()
    scores = spine.select("src", F.lit(_KATZ_SCALE).cast("bigint").alias("score"))
    for _ in range(_PR_ITERS):
        # Shuffle join on src (the O(V) score vector is never
        # broadcast); DIV-32 attenuation applies per EDGE before the
        # sum so the inflow accumulator stays inside BIGINT headroom.
        inflow = (
            out.join(scores, "src")
            .select(F.col("dst").alias("src"), F.expr("score div 32").alias("c"))
            .groupBy("src")
            .agg(F.sum("c").alias("inflow"))
        )
        # No spine left join / per-iteration checkpoint: symmetric edge
        # set => every spine vertex receives inflow (see graph_pagerank).
        scores = inflow.select(
            "src",
            (F.col("inflow") + F.lit(_KATZ_SCALE)).cast("bigint").alias("score"),
        )
    return (
        scores.orderBy(F.desc("score"), "src")
        .limit(20)
        .select("src", F.round(F.col("score") / F.lit(1e9), 9).alias("katz"))
    )


# --------------------------------------------------------------------------
# B552 (round 10) — one Boruvka MST round: every vertex selects its
# minimum-weight incident edge and the selected set is contracted —
# the classic distributed MST step (each round halves the component
# count, so log V rounds finish the tree; GHS and every
# Spark/Pregel MST run exactly this).  Edge weights are the
# deterministic salted-md5 of the canonical pair; ties are broken by
# the total order (w, a, b), under which the picked set is provably a
# FOREST (each edge strictly decreases along any would-be cycle), so
# components-after = vertices - picked WITHOUT running a labeling
# pass.  Scale: per-vertex argmin is one row_number window over the
# 2|E| incidence rows (single shuffle on the vertex key, map-side
# nothing to combine but the window frame is rank-1-only); everything
# else is a skinny count.  No iteration here by design — the
# label-propagation machinery that would drive rounds 2..log V to a
# fixpoint is graph_label_propagation / dedup_components.

_MST_W_SPARK = (
    "pmod(cast(conv(substring(md5(concat('gw:', a, ':', b)), 1, 8), 16, 10)"
    " as bigint), 1000000)"
)
_MST_W_DUCK = "(('0x' || substr(md5('gw:' || a || ':' || b), 1, 8))::BIGINT % 1000000)"


@query(
    "graph_mst_boruvka",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK}),
we AS (SELECT a, b, {_MST_W_DUCK} AS w FROM edges),
inc AS (
  SELECT a AS v, a, b, w FROM we
  UNION ALL
  SELECT b AS v, a, b, w FROM we),
pick AS (
  SELECT v, a, b, w,
         ROW_NUMBER() OVER (PARTITION BY v ORDER BY w, a, b) AS rk
  FROM inc),
chosen AS (SELECT DISTINCT a, b, w FROM pick WHERE rk = 1),
verts AS (SELECT COUNT(DISTINCT v) AS n_vertices FROM inc)
SELECT verts.n_vertices,
       (SELECT COUNT(*) FROM we) AS n_edges,
       (SELECT COUNT(*) FROM chosen) AS n_picked,
       (SELECT CAST(SUM(w) AS BIGINT) FROM chosen) AS picked_weight,
       verts.n_vertices - (SELECT COUNT(*) FROM chosen) AS n_components_after
FROM verts
""",
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    we = edge_set(spark, sf_dir).select(
        "a", "b", F.expr(_MST_W_SPARK).alias("w")
    ).localCheckpoint(eager=True)
    inc = we.select(F.col("a").alias("v"), "a", "b", "w").unionAll(
        we.select(F.col("b").alias("v"), "a", "b", "w")
    )
    rk = F.row_number().over(
        Window.partitionBy("v").orderBy("w", "a", "b")
    )
    chosen = (
        inc.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("a", "b", "w")
        .distinct()
    )
    stats = chosen.agg(
        F.count(F.lit(1)).alias("n_picked"),
        F.sum("w").cast("bigint").alias("picked_weight"),
    )
    verts = inc.agg(F.countDistinct("v").alias("n_vertices"))
    edges = we.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        verts.crossJoin(edges)
        .crossJoin(stats)
        .select(
            "n_vertices",
            "n_edges",
            "n_picked",
            "picked_weight",
            (F.col("n_vertices") - F.col("n_picked")).alias("n_components_after"),
        )
    )


# --------------------------------------------------------------------------
# B562 (round 10) — global transitivity (the graph-level clustering
# ratio 3*triangles / wedges): the one-number density-of-closure read
# next to graph_local_clustering's per-vertex table.  Wedge count is
# the exact integer sum of deg*(deg-1)/2; the triangle count reuses the
# oriented wedge-join machinery (a < b < c, each triangle once).  The
# ratio is one double division of exact integers.  Scale: the wedge
# sum is a per-vertex aggregate over the degree table; the triangle
# join is the bounded orientation join graph_triangle_count prices.


@query(
    "graph_transitivity",
    oracle=f"""
WITH edges AS ({_EDGES_DUCK}),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY node),
wedges AS (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT wedges.n_wedges, tri.n_triangles,
       round(3e0 * tri.n_triangles / wedges.n_wedges, 9) AS transitivity
FROM wedges, tri
""",
)
def graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edge_set(spark, sf_dir, materialize=True)
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Per-vertex wedges integrally (d*(d-1) is even, so DIV 2 is exact),
    # summed in decimal(38,0) — a double SUM drifts nondeterministically
    # past 2^53 total wedges, and DuckDB's // sum is HUGEINT-exact
    # (ADVICE r10; same headroom rule as ts_periodogram).
    wedges = deg.agg(
        F.sum(F.expr("CAST(d * (d - 1) DIV 2 AS DECIMAL(38,0))"))
        .cast("bigint")
        .alias("n_wedges")
    )
    e1 = e.select(F.col("a").alias("w_a"), F.col("b").alias("w_b"))
    e2 = e.select(F.col("a").alias("x_b"), F.col("b").alias("w_c"))
    closed = (
        e1.join(e2, e1.w_b == e2.x_b)
        .select("w_a", "w_c")
        .join(e, (F.col("w_a") == e.a) & (F.col("w_c") == e.b), "left_semi")
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    return wedges.crossJoin(tri).select(
        "n_wedges",
        "n_triangles",
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 9).alias(
            "transitivity"
        ),
    )
