"""Graph operators over relationship tables: weighted PageRank.

Reference parity: the reference snapshot publishes no code
(/root/reference/README.md:1-2); iterative graph centrality is the
classic "can your engine express a loop declaratively" capstone, built
here on the nation-level trade graph the TPC-H-ish fixture implies.

Iteration strategy: a FIXED number of power-iteration steps unrolled
into one logical plan (each step = one hash join + one decimal
aggregate) — no driver loop over collect(), no RDDs. A fixed-step
unroll is also what makes the DuckDB oracle possible: the same three
steps as chained CTEs, same decimal accumulation, same finish points,
so the driver's exact hash gate applies to an iterative algorithm.
(Run-to-convergence would use the alternating-CC pattern in
clustering.py: re-plan per round + localCheckpoint + scalar
convergence signature.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_exact, sql_finish_dec
from ..registry import query
from ..sources.tables import load

#: damping factor and unrolled iteration count
_D = 0.85
_ITERS = 3

_PR_SUM = sql_finish_dec(
    f"sum({sql_exact('(r.r * cast(e.w as double)) / cast(wt.wtot as double)')})", 6
)


def _pr_iter_sql(k: int) -> str:
    """CTE pair (c{k}, r{k}) advancing ranks r{k-1} -> r{k}."""
    return f"""
    c{k} AS (
        SELECT e.dst, {_PR_SUM} AS s
        FROM edges e
        JOIN wt ON e.src = wt.src
        JOIN r{k - 1} r ON e.src = r.n_nationkey
        GROUP BY e.dst
    ),
    r{k} AS (
        SELECT n.n_nationkey,
               {1.0 - _D} / cast(cnt AS double)
                   + {_D} * coalesce(c{k}.s, 0.0) AS r
        FROM n CROSS JOIN nn LEFT JOIN c{k} ON n.n_nationkey = c{k}.dst
    )"""


@query(
    "q_graph_pagerank",
    oracle=f"""
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    wt AS (SELECT src, cast(sum(w) AS bigint) AS wtot FROM edges GROUP BY src),
    n AS (SELECT n_nationkey, n_name FROM nation),
    nn AS (SELECT cast(count(*) AS bigint) AS cnt FROM n),
    r0 AS (
        SELECT n.n_nationkey, 1.0 / cast(cnt AS double) AS r
        FROM n CROSS JOIN nn
    ),
    {",".join(_pr_iter_sql(k) for k in range(1, _ITERS + 1))}
    SELECT n.n_nationkey, n.n_name, r{_ITERS}.r AS pagerank
    FROM n JOIN r{_ITERS} ON n.n_nationkey = r{_ITERS}.n_nationkey
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d = 0.85, 3 unrolled power iterations) over
    the nation trade graph: an edge customer-nation → supplier-nation
    per purchase, weighted by line count. Surfaces the supply hubs the
    raw volume report (q_report_nation_share) can't see — rank flows
    THROUGH intermediate trading partners.

    Plan: edge building is the standard fact-fact join + two broadcast
    dims, then each iteration is one broadcast hash join (ranks: |V|
    rows) against edges + one decimal aggregate keyed on dst — shuffle
    count scales with iterations, not data. Per-edge contribution
    r·w/W is fixed IEEE on exact inputs; only the cross-edge sum is
    decimal-accumulated and finished (6 dp) per iteration, making an
    ITERATIVE float algorithm bit-reproducible across engines — the
    same guarantee the one-pass aggregates get from numeric.py.
    Dangling-node mass is dropped (not redistributed) identically in
    both engines; teleport (1−d)/N reaches sink-only nations via the
    left join.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wt = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wtot"))
    nations = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nn = nations.agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ranks = nations.crossJoin(F.broadcast(nn)).select(
        "n_nationkey", (F.lit(1.0) / F.col("cnt").cast("double")).alias("r")
    )
    # Round-15 (guide §2.4): each unrolled iteration references `ew`,
    # and the before-plan (plans/r15/q_graph_pagerank_before.txt, ~33
    # parquet scans, no ReusedExchange) shows the 4-table edge build
    # replayed per iteration. Materialize the ≤625-row weighted edge
    # list once; the oracle's CTE chain computes edges once the same way.
    ew = edges.join(wt, "src").localCheckpoint()  # row-cap: <=625 weighted nation edges
    for _ in range(_ITERS):
        contrib = (
            ew.join(
                F.broadcast(ranks.select(F.col("n_nationkey").alias("src"), "r")),
                "src",
            )
            .groupBy("dst")
            .agg(
                dsum(
                    (F.col("r") * F.col("w").cast("double"))
                    / F.col("wtot").cast("double"),
                    "s",
                    6,
                )
            )
        )
        ranks = (
            nations.crossJoin(F.broadcast(nn))
            .join(
                F.broadcast(contrib),
                nations["n_nationkey"] == contrib["dst"],
                "left",
            )
            .select(
                "n_nationkey",
                (
                    F.lit(1.0 - _D) / F.col("cnt").cast("double")
                    + F.lit(_D) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return nations.join(F.broadcast(ranks), "n_nationkey").select(
        "n_nationkey", "n_name", F.col("r").alias("pagerank")
    )


@query("q_graph_pagerank_converged")  # rows-only: round count is data-dependent
def q_graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank run to CONVERGENCE (same graph, damping, and
    per-iteration decimal finishing as the 3-step-unrolled
    q_graph_pagerank, which remains the exact-oracled twin): the driver
    loop re-plans one power iteration per round and stops when the
    6-dp-finished rank vector is a fixed point, detected by a 1-row
    (count, hash-sum) signature — the alternating-CC / kmeans-lloyd
    convergence pattern. Because each iteration's ranks are finished to
    6 dp (numeric.py), "converged" is exact signature equality, not an
    epsilon test on drifting floats; geometric convergence at d = 0.85
    reaches a 1e-6 fixed point in ~25-35 rounds, capped at 60.
    localCheckpoint pins the edge table (built once) and truncates the
    rank lineage each round. Rows-only: the round count is
    data-dependent; tests pin mass conservation and agreement with a
    driver-side numpy power iteration on the same edge list.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wt = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wtot"))
    ew = edges.join(wt, "src").localCheckpoint()  # built once, reused per round; row-cap: <=625 weighted nation edges
    nations = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nn = nations.agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ranks = nations.crossJoin(F.broadcast(nn)).select(
        "n_nationkey", (F.lit(1.0) / F.col("cnt").cast("double")).alias("r")
    )
    prev_sig: list | None = None
    for _ in range(60):
        contrib = (
            ew.join(
                F.broadcast(ranks.select(F.col("n_nationkey").alias("src"), "r")),
                "src",
            )
            .groupBy("dst")
            .agg(
                dsum(
                    (F.col("r") * F.col("w").cast("double"))
                    / F.col("wtot").cast("double"),
                    "s",
                    6,
                )
            )
        )
        ranks = (
            nations.crossJoin(F.broadcast(nn))
            .join(
                F.broadcast(contrib),
                nations["n_nationkey"] == contrib["dst"],
                "left",
            )
            .select(
                "n_nationkey",
                (
                    F.lit(1.0 - _D) / F.col("cnt").cast("double")
                    + F.lit(_D) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
            .localCheckpoint()  # row-cap: <=25 rank rows (one per nation), driver-loop state
        )
        # Exact fixed-point detection (ADVICE r6): the rank vector is
        # one row per nation (25 at any SF — nations are a fixed dim),
        # so collect and compare the tuples directly, as kmeans-lloyd
        # does, instead of a hash-sum signature that could (however
        # improbably) collide between non-identical vectors.
        cur = sorted((row["n_nationkey"], row["r"]) for row in ranks.collect())
        if cur == prev_sig:
            break
        prev_sig = cur
    return nations.join(F.broadcast(ranks), "n_nationkey").select(
        "n_nationkey", "n_name", F.col("r").alias("pagerank")
    )


@query(
    "q_graph_triangles",
    oracle="""
    -- MATERIALIZED hints are load-bearing: ue/deg/o_edges are each
    -- referenced 2-3 times, and DuckDB's default inlining re-expands
    -- the whole 4-table trade-graph subtree per reference — at sf0.1
    -- the un-hinted form exceeded an 8 GB memory limit before any
    -- result; materialized, the same query runs in 0.6 s (the
    -- intermediates are <= 625 rows). Found by the sf0.1 mirror.
    WITH de AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    ue AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM de WHERE src <> dst
    ),
    deg AS MATERIALIZED (
        SELECT node, count(*) AS d FROM (
            SELECT u AS node FROM ue UNION ALL SELECT v AS node FROM ue
        ) GROUP BY node
    ),
    o_edges AS MATERIALIZED (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
        FROM ue e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM o_edges e1
        JOIN o_edges e2 ON e2.a = e1.b
        JOIN o_edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
        SELECT node, count(*) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b AS node FROM tri
            UNION ALL SELECT c AS node FROM tri
        ) GROUP BY node
    )
    SELECT n.n_nationkey, n.n_name,
           coalesce(p.n_triangles, 0) AS n_triangles
    FROM nation n LEFT JOIN per_node p ON p.node = n.n_nationkey
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle count in the undirected trade graph — the
    clustering-coefficient numerator, and the classic "count without
    enumerating the quadratic wedge space" MapReduce problem.

    Scale algorithm (Suri-Vassilvitskii node-iterator++): orient every
    undirected edge from its LOWER-(degree, id) endpoint to the higher
    one — an acyclic orientation under which each triangle has exactly
    one source node and is found exactly once, and, critically, the
    out-degree of every node is O(√m) on any graph, so the wedge join
    (e1 ⋈ e2 on e1.b = e2.a) touches O(m^{3/2}) rows instead of the
    Σdeg² a random orientation allows on power-law graphs. The closing
    check is a third equi-join against the oriented edge list. On the
    25-node nation graph all joins broadcast; at 100 TB the oriented
    edge list shuffles on its join keys and the same plan holds.
    Integer counts — nothing to finish.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    de = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .distinct()
    )
    # Round-15 (guide §2.4): the oracle needed MATERIALIZED hints for
    # ue/o_edges/tri (each referenced 2-3×; DuckDB's inlining re-expands
    # the 4-table subtree per reference) — the Spark side had the SAME
    # disease: the before-plan (plans/r15/q_graph_triangles_before.txt)
    # is 291 KB with ~90 parquet scans and zero ReusedExchange, the
    # whole trade-graph join replayed per reference. localCheckpoint is
    # Spark's MATERIALIZED: each ≤325-row intermediate computes once.
    ue = (
        de.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint()  # row-cap: <=625 undirected nation edges
    )
    deg = (
        ue.select(F.col("u").alias("node"))
        .union(ue.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o_edges = (
        ue.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
        .localCheckpoint()  # referenced 3× (e1/e2/e3); row-cap: <=625 oriented nation edges
    )
    e1 = o_edges.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    e2 = o_edges.select(F.col("a").alias("t_b"), F.col("b").alias("t_c"))
    e3 = o_edges.select(F.col("a").alias("t_a"), F.col("b").alias("t_c"))
    tri = (
        e1.join(e2, "t_b").join(e3, ["t_a", "t_c"]).localCheckpoint()  # row-cap: <=625 wedge-closed triangles
    )  # referenced 3× (the per-node union)
    per_node = (
        tri.select(F.col("t_a").alias("node"))
        .union(tri.select(F.col("t_b").alias("node")))
        .union(tri.select(F.col("t_c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return n.join(
        per_node, n["n_nationkey"] == per_node["node"], "left"
    ).select(
        "n_nationkey",
        "n_name",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )


@query(
    "q_graph_bfs_hops",
    oracle="""
    WITH RECURSIVE e AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (
                       PARTITION BY src ORDER BY w DESC, dst) AS rn
            FROM e
        ) WHERE rn <= 3
    ),
    bfs(node, hops) AS (
        SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
        UNION
        SELECT e2.dst AS node, b.hops + 1 AS hops
        FROM bfs b JOIN edges e2 ON e2.src = b.node
        WHERE b.hops < 8
    )
    SELECT n.n_nationkey, n.n_name, CAST(min(b.hops) AS BIGINT) AS hops
    FROM bfs b JOIN nation n ON n.n_nationkey = b.node
    GROUP BY 1, 2
    """,
)
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest hop counts over the top-3-routes trade
    graph — the iterative-frontier reachability primitive (supply-chain
    blast radius: "which nations can a disruption at nation 0 reach, and
    in how many hops?").

    Graph: each nation keeps only its 3 STRONGEST outgoing supply routes
    (row_number over (w desc, dst) inside a src-PARTITIONED window — a
    k-NN graph, deterministic at any scale; a weight threshold was
    rejected because relative edge-weight variance shrinks as counts
    grow, degenerating the graph at 10x data). BFS is the textbook
    distributed frontier loop: per round, frontier ⨝ edges (one hash
    join on src), dedup, anti-join the visited set, stop on empty
    frontier. Each round materializes via eager localCheckpoint so
    lineage stays O(1); driver state is a round counter — the visited
    set itself stays distributed (at 100 TB / billions of nodes the
    frontier join and anti-join shuffle on node id; nothing collects).
    Edge build is the q_graph_pagerank 4-table star, computed once and
    checkpointed.

    The DuckDB oracle is a recursive CTE (UNION-distinct bfs table with
    a hop cap, then min(hops) per node) — the first recursive-CTE
    oracle in the registry; both sides return only REACHED nations.
    The hop cap is 8 EVERYWHERE (this loop, this oracle, and the
    q_graph_bfs_recursive_sql twin + its oracle): the twins' hash
    equality depends on identical caps, and 8 covers the measured
    eccentricity (≤3 at every fixture scale) with margin while keeping
    the recursive twin's UNION ALL walk fan-out bounded.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .filter(c["c_nationkey"] != s["s_nationkey"])
        .groupBy(
            c["c_nationkey"].alias("src"), s["s_nationkey"].alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    from pyspark.sql import Window

    rk = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    edges = (
        e.select("src", "dst", F.row_number().over(rk).alias("rn"))
        .filter(F.col("rn") <= 3)
        .select(F.col("src").cast("bigint"), F.col("dst").cast("bigint"))
        .localCheckpoint()  # row-cap: <=75 top-3-per-nation edges
    )

    visited = spark.createDataFrame([(0, 0)], "node bigint, hops int")
    frontier = visited
    for hop in range(1, 9):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop))
            .localCheckpoint()  # row-cap: <=25 frontier rows, driver-loop state
        )
        if not nxt.head(1):
            break
        visited = visited.union(nxt).localCheckpoint()  # row-cap: <=25 visited rows, driver-loop state
        frontier = nxt

    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return n.join(visited, n["n_nationkey"] == visited["node"]).select(
        "n_nationkey", "n_name", F.col("hops").cast("bigint").alias("hops")
    )


@query(
    "q_graph_bfs_recursive_sql",
    oracle="""
    WITH RECURSIVE e AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (
                       PARTITION BY src ORDER BY w DESC, dst) AS rn
            FROM e
        ) WHERE rn <= 3
    ),
    bfs(node, hops) AS (
        SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
        UNION
        SELECT e2.dst AS node, b.hops + 1 AS hops
        FROM bfs b JOIN edges e2 ON e2.src = b.node
        WHERE b.hops < 8
    )
    SELECT n.n_nationkey, n.n_name, CAST(min(b.hops) AS BIGINT) AS hops
    FROM bfs b JOIN nation n ON n.n_nationkey = b.node
    GROUP BY 1, 2
    """,
)
def q_graph_bfs_recursive_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECLARATIVE twin of q_graph_bfs_hops: the same single-source
    reachability expressed as a Spark 4 native RECURSIVE CTE
    (SPARK-24497) — no driver loop, the engine owns the iteration.

    Same top-3-routes graph, same answer; the recursion uses UNION ALL
    walk expansion bounded at 8 levels (min(hops) collapses walks to
    shortest paths; the top-3 graphs measured here have eccentricity
    ≤ 3 from the seed, and the 8-cap bounds the walk fan-out at
    3^8 rows worst-case — both engines apply the identical cap, so
    nodes farther than 8 hops would be excluded identically). The
    DuckDB oracle is the same recursive text with UNION-distinct
    semantics (its working-table dedup; same min-hop fixed point).

    Trade-off vs the frontier-loop twin, recorded for the 100-TB
    reader: the native recursion re-plans the whole lineage each level
    and cannot localCheckpoint intermediate frontiers or anti-join the
    visited set (walk dedup happens only at the final aggregate), so
    the manual loop remains the scale-preferred form on cyclic graphs;
    the recursive form wins on readability and on DAGs where walk
    count ≈ path count. Having both, hash-equal, is the point.

    Round-15 optimization (guide §2.4 — remove repeated subtrees): the
    edge build (4-table star join + top-3 window) used to live INSIDE
    the recursive CTE text, and Spark's UnionLoop re-executes the full
    recursive-step subtree each level — the before-plan
    (plans/r15/q_graph_bfs_recursive_sql_before.txt, ops 6-28) shows the
    whole lineitem join under the loop, i.e. 8 full star joins per run
    (7.3 s at sf0.1). The edge list (≤ 3 rows/nation) is now built once,
    localCheckpoint-materialized, and the recursion joins the
    materialized view — same rows, same recursive-CTE semantics, the
    loop now touches only frontier × edges per level.
    """
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"bfs_{t}")
    spark.sql(
        """
        WITH e AS (
            SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                   count(*) AS w
            FROM bfs_lineitem l
            JOIN bfs_orders o ON l.l_orderkey = o.o_orderkey
            JOIN bfs_customer c ON o.o_custkey = c.c_custkey
            JOIN bfs_supplier s ON l.l_suppkey = s.s_suppkey
            WHERE c.c_nationkey <> s.s_nationkey
            GROUP BY 1, 2
        )
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (
                       PARTITION BY src ORDER BY w DESC, dst) AS rn
            FROM e
        ) WHERE rn <= 3
        """
    ).localCheckpoint().createOrReplaceTempView("bfs_edges_mat")  # row-cap: <=75 top-3-per-nation edges
    return spark.sql(
        """
        WITH RECURSIVE bfs(node, hops) AS (
            SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
            UNION ALL
            SELECT e2.dst AS node, b.hops + 1 AS hops
            FROM bfs b JOIN bfs_edges_mat e2 ON e2.src = b.node
            WHERE b.hops < 8
        )
        SELECT n.n_nationkey, n.n_name,
               CAST(min(b.hops) AS BIGINT) AS hops
        FROM bfs b JOIN bfs_nation n ON n.n_nationkey = b.node
        GROUP BY 1, 2
        """
    )


_HIERARCHY_ROLLUP_SQL = """
WITH RECURSIVE closure AS (
    SELECT c_custkey AS node, c_custkey AS anc FROM {table}
    UNION ALL
    SELECT cl.node, CAST(floor(cl.anc / 3) AS BIGINT) AS anc
    FROM closure cl WHERE cl.anc >= 3
)
SELECT cl.anc AS node,
       CAST(count(*) AS BIGINT) AS n_subtree,
       {dsum}
FROM closure cl JOIN {table} c ON cl.node = c.c_custkey
WHERE cl.anc IN (SELECT c_custkey FROM {table})
GROUP BY cl.anc
"""


def _hierarchy_rollup_sql(table: str) -> str:
    from ..functions.numeric import sql_dsum

    return _HIERARCHY_ROLLUP_SQL.format(
        table=table, dsum=sql_dsum("c.c_acctbal", "subtree_bal")
    )


@query("q_graph_hierarchy_rollup", oracle=_hierarchy_rollup_sql("customer"))
def q_graph_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree rollup — the bill-of-materials / org-chart
    aggregation shape: every node's aggregate over its ENTIRE subtree
    (descendant count + exact-decimal balance sum), computed by
    materializing the ancestor CLOSURE with a recursive CTE (each
    recursion step walks one level UP the parent chain, so closure size
    is n x depth — O(n log n) rows for a balanced hierarchy, never the
    transitive O(n^2) of dense graphs) and re-aggregating it by
    ancestor. The hierarchy is key-derived (parent(k) = floor(k/3), so
    depth is ~log3(maxkey) — 7 levels at sf0.001, 9 at sf0.1): both
    engines run the IDENTICAL recursive SQL, which also pins Spark 4's
    native WITH RECURSIVE against DuckDB's on a multi-level aggregate
    (q_graph_bfs_recursive_sql pins reachability; this pins closure +
    rollup). Scale notes: recursion depth is log(keyspace), each level
    is one self-join on the (tiny) frontier of still-climbing rows, and
    the rollup is an ordinary partial/final hash aggregate on the
    closure; the float column goes through the decimal dsum contract.
    Parity trap pinned here: CAST(x/3 AS BIGINT) ROUNDS in DuckDB and
    TRUNCATES in Spark — floor() before the cast is the portable
    floor-division spelling.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("hier_customer")
    return spark.sql(_hierarchy_rollup_sql("hier_customer"))


@query(
    "q_graph_hierarchy_path",
    oracle="""
    WITH RECURSIVE walk AS (
        SELECT c_custkey AS node, c_custkey AS cur,
               CAST(c_custkey AS VARCHAR) AS path, 0 AS depth
        FROM customer
        UNION ALL
        SELECT node, CAST(floor(cur / 3) AS BIGINT) AS cur,
               CAST(CAST(floor(cur / 3) AS BIGINT) AS VARCHAR) || '/' || path,
               depth + 1
        FROM walk WHERE cur >= 3
    )
    SELECT node, CAST(max(depth) AS INT) AS depth,
           max_by(path, depth) AS root_path
    FROM walk GROUP BY node
    """,
)
def q_graph_hierarchy_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized hierarchy paths (breadcrumbs): for every node, its
    depth and full root-to-node path string — the denormalization every
    catalog/org UI and path-prefix filter wants (`WHERE path LIKE
    '1/4/%'` turns subtree queries into a range scan). The recursion
    walks UP the same key-derived parent chain as
    q_graph_hierarchy_rollup, CONCATENATING the path as it climbs; the
    deepest row per node (max_by(path, depth)) is the completed
    breadcrumb. Rows in flight stay O(n) per level (each node walks one
    chain — no closure blow-up), depth is log3(keyspace). Identical
    recursive SQL runs on both engines except the unparameterized
    string type's name (Spark STRING vs DuckDB VARCHAR — Spark rejects
    bare VARCHAR, DuckDB accepts both). max_by ties are impossible:
    depth is strictly increasing along a node's walk.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("path_customer")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
            SELECT c_custkey AS node, c_custkey AS cur,
                   CAST(c_custkey AS STRING) AS path, 0 AS depth
            FROM path_customer
            UNION ALL
            SELECT node, CAST(floor(cur / 3) AS BIGINT) AS cur,
                   CAST(CAST(floor(cur / 3) AS BIGINT) AS STRING)
                       || '/' || path,
                   depth + 1
            FROM walk WHERE cur >= 3
        )
        SELECT node, CAST(max(depth) AS INT) AS depth,
               max_by(path, depth) AS root_path
        FROM walk GROUP BY node
        """
    )


#: LPA: strongest-K undirected edges and synchronous rounds
_LPA_TOPK = 40
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    rounds = []
    for k in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    v{k} AS (
        SELECT nbr.node, l.label, count(*) AS c
        FROM nbr JOIN l{k - 1} l ON nbr.peer = l.node
        GROUP BY nbr.node, l.label
    ),
    l{k} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, label ASC) AS rn
            FROM v{k}
        ) WHERE rn = 1
    )""")
    return f"""
    WITH de AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               count(DISTINCT o.o_orderkey) AS w
        FROM lineitem li
        JOIN orders o ON li.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON li.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY c.c_nationkey, s.s_nationkey
    ),
    ue AS (
        SELECT least(src, dst) AS u, greatest(src, dst) AS v,
               cast(sum(w) as bigint) AS w
        FROM de GROUP BY least(src, dst), greatest(src, dst)
    ),
    topk AS (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (ORDER BY w DESC, u ASC, v ASC) AS rn
            FROM ue
        ) WHERE rn <= {_LPA_TOPK}
    ),
    nbr AS (
        SELECT u AS node, v AS peer FROM topk
        UNION ALL
        SELECT v AS node, u AS peer FROM topk
    ),
    l0 AS (
        SELECT DISTINCT node, node AS label FROM nbr
    ),{",".join(rounds)}
    SELECT l.node, l.label AS community,
           count(*) OVER (PARTITION BY l.label) AS community_size
    FROM l{_LPA_ROUNDS} l
    ORDER BY l.node
    """


@query("q_graph_label_propagation", oracle=_lpa_oracle())
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL PROPAGATION community detection (Raghavan et al. 2007, the
    GraphFrames/Pregel workhorse) made DETERMINISTIC and therefore
    exact-oracle-able: 3 SYNCHRONOUS rounds (_LPA_ROUNDS) over the
    strongest-40 (_LPA_TOPK) undirected trade edges (top-K by weight with
    full (w, u, v) tiebreak — a deterministic sparsifier; the dense
    25-nation clique would trivially collapse to one community), each
    round re-labeling every node with the MODE of its neighbors'
    labels, ties broken toward the smaller label — the two places
    vanilla LPA is nondeterministic (update order, tie choice) pinned
    to exact rules both engines replay.

    Completes the graph family: PageRank (centrality), triangles
    (local density), BFS (reachability), CC (components — LPA's
    degenerate cousin), hierarchy rollups, and now community
    structure. Integer-only math; no finishing anywhere.

    Scale: per round = one join (labels ⋈ symmetric edges, shuffle on
    node id) + one hash agg + one node-partitioned window — the
    standard Pregel round as DataFrame ops, unrolled like PageRank so
    Catalyst sees ONE plan. Community sizes via a final window."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    from pyspark.sql import Window

    de = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count_distinct("o_orderkey").alias("w"))
    )
    ue = (
        de.groupBy(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    topk = (
        ue.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc("w"), F.asc("u"), F.asc("v"))
            ),
        )
        .filter(F.col("rn") <= _LPA_TOPK)
        .select("u", "v")
    )
    # Materialize the tiny (2·_LPA_TOPK rows) symmetric edge list ONCE:
    # the unrolled rounds reference it 2·rounds+2 times, and without
    # truncation Catalyst would replay the full lineitem join and the
    # top-K window per reference (measured 8× plan duplication). Same
    # localCheckpoint discipline as alternating_cc; the top-K window
    # itself runs over the ≤300-row nation-pair aggregate, never base
    # rows.
    nbr = topk.select(
        F.col("u").alias("node"), F.col("v").alias("peer")
    ).unionAll(
        topk.select(F.col("v").alias("node"), F.col("u").alias("peer"))
    ).localCheckpoint()  # row-cap: <=600 nation-pair neighbor rows
    labels = nbr.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    wmode = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(_LPA_ROUNDS):
        votes = (
            nbr.join(
                labels.select(
                    F.col("node").alias("peer"), F.col("label")
                ),
                "peer",
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(wmode))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    wsize = Window.partitionBy("community")
    return (
        labels.select("node", F.col("label").alias("community"))
        .withColumn("community_size", F.count(F.lit(1)).over(wsize))
        .orderBy("node")
    )
