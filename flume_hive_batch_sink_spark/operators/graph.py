"""Graph operators over relational edge lists: fixed-iteration PageRank,
DOULION-sampled triangle counting, and pointer-doubling hierarchy depth.

Why these belong in a batch analytics engine: entity graphs derived
from relational data (customer-supplier, doc-link, co-occurrence) are a
standard curation signal — PageRank-style authority for source quality
weighting, triangle/clustering structure for spam and bot-farm
detection. Both are expressed as PURE DataFrame joins + aggregations so
Catalyst plans them like any other query — no driver-side adjacency
structures, no RDDs.

100 TB posture: each PageRank iteration is one shuffle join on the edge
partitioning (edges are pre-weighted 1/deg and cached, so the loop
reuses one partitioning; ranks are the only moving side). Triangle
enumeration uses the id-ordered edge orientation (u < v < w), which
bounds each join key's fan-out by the smaller endpoint's out-degree —
the classic compact-forward strategy; a production deployment orders by
DEGREE instead of id to cap skew on power-law graphs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.io import data_files, load, scratch_dir
from flume_hive_batch_sink_spark.registry import query

# Supplier node ids are offset into a disjoint range so the bipartite
# customer-supplier graph lives in one BIGINT node namespace.
_S_OFFSET = 1_000_000
_DAMPING = 0.85
_PR_ITERS = 3


def _cs_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer-supplier edges (both directions) from
    lineitem x orders. Undirected means every node has out-degree >= 1,
    so no dangling-mass correction is needed at fixed iteration count —
    the oracle SQL replays the identical recurrence."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + _S_OFFSET).alias("s"),
        )
        .distinct()
    )
    fwd = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    rev = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    return fwd.unionAll(rev)


@query(
    "graph_pagerank",
    oracle=f"""
    WITH p AS (
      SELECT DISTINCT o_custkey AS c, {_S_OFFSET} + l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM p
      UNION ALL
      SELECT s AS src, c AS dst FROM p
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    we AS (SELECT e.src, e.dst, 1.0 / d.d AS w
           FROM edges e JOIN deg d ON e.src = d.src),
    p0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
    p1 AS (SELECT we.dst AS node,
                  0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.pr * we.w) AS pr
           FROM we JOIN p0 p ON we.src = p.node GROUP BY we.dst),
    p2 AS (SELECT we.dst AS node,
                  0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.pr * we.w) AS pr
           FROM we JOIN p1 p ON we.src = p.node GROUP BY we.dst),
    p3 AS (SELECT we.dst AS node,
                  0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.pr * we.w) AS pr
           FROM we JOIN p2 p ON we.src = p.node GROUP BY we.dst)
    SELECT node, round(pr, 9) AS pagerank FROM p3
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration damped PageRank (d=0.85) over the undirected
    customer-supplier graph.

    Plan shape per iteration: ranks (the small, changing side) shuffle-
    join the cached 1/deg-weighted edge list on ``src``, then one hash
    aggregation on ``dst`` — partial aggregation is map-side, and the
    edge partitioning is reused across all iterations (the join key
    never changes). The only driver-side values are the node count and
    loop index. Sums are rounded to 9 decimals on BOTH sides (repo
    convention) so Spark-vs-DuckDB float summation order cannot flip a
    hash bit.
    """
    edges = _cs_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    weighted = (
        edges.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("d")).alias("w"))
        .cache()
    )
    # Node count + initial ranks from the CACHED weighted edges
    # (round-16, guide §1.2): the old `deg.count()` executed the
    # fact-join → distinct → degree subtree once for the scalar and the
    # cache fill then executed it again — one full extra pass per call.
    # The inner degree join keeps every src (each has a degree row), so
    # distinct src of `weighted` is exactly deg's key set; this count
    # also IS the cache-fill action.
    nodes = weighted.select("src").distinct()
    n = nodes.count()  # scalar node count — k-free driver value
    ranks = nodes.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("pr"))
    base = (1.0 - _DAMPING) / n
    for _ in range(_PR_ITERS):
        ranks = (
            weighted.join(ranks, weighted.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg((F.lit(base) + _DAMPING * F.sum(F.col("pr") * F.col("w"))).alias("pr"))
        )
    out = ranks.select("node", F.round("pr", 9).alias("pagerank"))
    out = out.localCheckpoint(eager=True)  # truncate the 3-join lineage
    weighted.unpersist()
    return out


# DOULION edge-sampling parameters (Tsourakakis et al., KDD'09): keep
# each undirected edge iff a deterministic, engine-portable hash of the
# pair falls under the threshold — p = 20/1000 = 2%. The unbiased
# triangle estimate is then sampled_count / p^3 = count * 125000 (an
# integer multiply, so the oracle replays it exactly). The hash reuses
# the Bloom family's overflow-safe arithmetic.
_TRI_P_NUM = 20
_TRI_P_DEN = 1000
_TRI_SCALE = (_TRI_P_DEN // _TRI_P_NUM) ** 3  # 1/p^3 = 125000


@query(
    "graph_triangles",
    oracle=f"""
    WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    e AS (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM sp a JOIN sp b
        ON a.p = b.p AND a.s < b.s
       AND ((CAST(a.s AS BIGINT) * 100000 + b.s) % 2147483647
            * 2654435761 + 7)
           % 2147483647 % {_TRI_P_DEN} < {_TRI_P_NUM}
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT COUNT(DISTINCT s) FROM sp) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges_sampled,
           CAST(t.n_triangles AS BIGINT) AS n_triangles_sampled,
           CAST(t.n_triangles * {_TRI_SCALE} AS BIGINT) AS est_triangles
    FROM tri t
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION triangle counting on the supplier co-occurrence graph
    (edge u-v iff two suppliers ship the same part): sample each edge
    with probability p = 2% via a DETERMINISTIC pair hash evaluated
    inside the join condition, enumerate triangles on the sampled graph
    with the compact-forward oriented join (each triangle u<v<w counted
    once as e(u,v) x e(v,w) semi-matched against e(u,w)), and report
    the unbiased estimate sampled/p^3.

    Why sampling is load-bearing, not a shortcut: the co-occurrence
    graph of uniform relational data is DENSE — at sf1 it has 10k nodes
    and 41.7M edges (83% of complete) with 1.2e11 wedges, so exact
    enumeration is O(n^3) for ANY engine (the round-5 sf1 run of the
    exact variant filled the shuffle disk; DuckDB fares no better).
    DOULION cuts wedge volume by p^2 and triangle work by p^3 while
    keeping a provably unbiased estimator with variance ~T/p^3 — the
    standard production answer on graphs this dense. The sampling
    predicate lives IN the join condition, so unsampled pairs are
    dropped inside the join's match loop before the distinct shuffle —
    the edge materialization itself is p-scaled, not just the triangle
    join. The hash is the engine-portable Bloom family ((k*a+b) mod
    2^31-1), so the DuckDB oracle replays the exact same coin flips and
    every output column is hash-exact, including the estimate (integer
    multiply by 1/p^3).
    """
    sp = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    # pre-mod by 2^31−1 BEFORE the Knuth multiply: at sf10 the pair key
    # reaches 1e10 and 1e10·2654435761 ≈ 2.7e19 overflows BIGINT on
    # both engines (ANSI Spark raises; found by the round-12 decade
    # sweep). (key % M)·2654435761 ≤ 2.1e9·2.65e9 ≈ 5.7e18 fits, and
    # the oracle applies the identical pre-mod so the coin flips stay
    # hash-exact across engines at every scale.
    pair_hash = (
        (F.col("a.s").cast("bigint") * 100000 + F.col("b.s")) % 2147483647
        * 2654435761
        + 7
    ) % 2147483647 % _TRI_P_DEN
    e = (
        sp.alias("a")
        .join(
            sp.alias("b"),
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.s") < F.col("b.s"))
            & (pair_hash < _TRI_P_NUM),
        )
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
        .cache()
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e.alias("e3"),
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
        .count()
    )
    n_nodes = sp.select("s").distinct().count()
    n_edges = e.count()
    e.unpersist()
    return spark.createDataFrame(
        [(n_nodes, n_edges, tri, tri * _TRI_SCALE)],
        "n_nodes BIGINT, n_edges_sampled BIGINT, "
        "n_triangles_sampled BIGINT, est_triangles BIGINT",
    )


_PD_ITERS = 3  # 2^3 = 8 ancestor hops — covers depth ≤ 8 (sf100's tree is 8)


@query(
    "graph_pointer_doubling_depth",
    oracle="""
    WITH RECURSIVE walk AS (
      SELECT c_custkey AS node, c_custkey AS cur, 0 AS d FROM customer
      UNION ALL
      SELECT node, cur // 10 AS cur, d + 1 FROM walk WHERE cur > 0
    )
    SELECT node, CAST(MAX(d) AS BIGINT) AS depth,
           CAST(0 AS BIGINT) AS root
    FROM walk GROUP BY node
    """,
)
def graph_pointer_doubling_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy depth + root via POINTER DOUBLING (path doubling): each
    iteration replaces every node's ancestor pointer with its ancestor's
    ancestor, so reachable distance doubles per round — ⌈log2(depth)⌉
    shuffle joins instead of the depth-many rounds of naive parent
    walking. This is the core trick behind distributed transitive
    closure / linked-list ranking, and the reason deep hierarchies
    (BOMs, org charts, category trees) are tractable as DataFrame jobs:
    a depth-1000 chain needs 10 self-joins, not 1000.

    The hierarchy is synthesized (parent = custkey/10 — a decimal-digit
    tree over the real customer keys; the root 0 self-loops with
    distance 0, which makes saturation algebraic: joining through the
    root adds 0). The oracle walks the SAME tree with a recursive CTE —
    the O(depth) formulation — so equality proves the doubling recursion
    correct. Each iteration is one equi-join on the ancestor pointer +
    projection; the frontier never grows (always |V| rows)."""
    nodes = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node")
    )
    ptr = nodes.select(
        "node",
        F.floor(F.col("node") / 10).cast("bigint").alias("anc"),
        F.when(F.col("node") == 0, 0).otherwise(1).cast("bigint").alias("d"),
    )
    for _ in range(_PD_ITERS):
        a, b = ptr.alias("a"), ptr.alias("b")
        ptr = a.join(b, F.col("a.anc") == F.col("b.node")).select(
            F.col("a.node").alias("node"),
            F.col("b.anc").alias("anc"),
            (F.col("a.d") + F.col("b.d")).alias("d"),
        )
    return ptr.select(
        "node", F.col("d").alias("depth"), F.col("anc").alias("root")
    )


_KCORE_K = 3
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    parts = [f"""
    WITH p AS (
      SELECT DISTINCT o_custkey AS c, {_S_OFFSET} + l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), e0 AS MATERIALIZED (
      SELECT c AS src, s AS dst FROM p
      UNION ALL
      SELECT s AS src, c AS dst FROM p
    )"""]
    for r in range(_KCORE_ROUNDS):
        parts.append(f"""
    , k{r} AS MATERIALIZED (
      SELECT src FROM e{r} GROUP BY src HAVING count(*) >= {_KCORE_K}
    ), e{r + 1} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{r} e
      WHERE e.src IN (SELECT src FROM k{r})
        AND e.dst IN (SELECT src FROM k{r})
    )""")
    R = _KCORE_ROUNDS
    parts.append(f"""
    SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg,
           (SELECT count(DISTINCT src) FROM e{R - 1})
             = (SELECT count(DISTINCT src) FROM e{R}) AS converged
    FROM e{R} GROUP BY src
    """)
    return "".join(parts)


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) by iterative peeling: each round
    drops nodes of degree < k and the edges touching them; survivors
    of round R approximate the 3-core (exactly the 3-core once stable
    — the in-result `converged` bit certifies whether the fixed point
    was reached within the round budget, same honest-certificate
    convention as the sketches).

    Scale shape per round: one map-side-combinable degree agg + two
    semi joins that ship ONLY the surviving node ids — the edge list
    shrinks monotonically, so later rounds cost less, and the whole
    peel is integer arithmetic (no float drift risk between engines).
    Six fixed rounds keep the oracle an unrolled CTE chain; production
    would loop on the scalar convergence count (the same driver-side
    scalar this operator pulls only for the certificate)."""
    edges = _cs_edges(spark, sf_dir)
    # Eager checkpoint per round: `e` feeds BOTH the degree agg and
    # the semi-join, so without lineage truncation the un-materialized
    # plan doubles every round (2^R blowup — measured 467 s at sf0.01;
    # 3.6 s with checkpoints). RELIABLE (disk) checkpoints, not
    # localCheckpoint: the round-12 sf10 rehearsal found that R rounds
    # of in-memory snapshots of a 114M-edge list (~4 GB deserialized
    # each, none releasable — PySpark has no handle on the checkpoint
    # RDD to unpersist) thrash the heap to OOM; disk checkpoints keep
    # the lineage cut with zero heap residency. Spark only deletes
    # checkpoint data itself when cleanCheckpoints is on, so the dir is
    # explicitly reclaimed at interpreter exit — repeated calls reuse
    # ONE dir (the first-set checkpoint dir wins) instead of
    # accumulating R edge-list snapshots per call in /tmp.
    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(scratch_dir("graph_chk_"))
    # Checkpoint cadence, VOLUME-GATED (round-16). At scale the
    # dominant per-round cost is the reliable checkpoint WRITE of the
    # (shrinking) edge list, so big inputs checkpoint every SECOND
    # round: one un-checkpointed peel references its input three times
    # (the edge set + the two semi-join keep subtrees), but within one
    # job those collapse to reused exchanges, so a 2-round job does two
    # peels of work while the checkpoint write+read round-trips halve;
    # lineage stays bounded at two rounds, so the 2^R plan blowup the
    # per-round checkpoint was added for (467 s at sf0.01, round-12)
    # cannot restart. Measured at sf10 (118M directed edges, ~4.7 GB
    # checkpoint volume): {363.5, 457.6} s -> {283.2, 347.8} s, both
    # interleaved pairs, identical survivor counts, no OOM — SCALE.md
    # round-16. At SMALL scale the trade inverts: checkpoints are
    # cheap, and when the inputs are cached (the bench/sweep warm-input
    # mode) the un-checkpointed double round re-executes the
    # InMemoryRelation-backed subtrees instead of reusing them —
    # measured 7.1 s vs 23.4 s at sf0.1 cache-mode (interleaved
    # medians of 3), i.e. a 3.3x REGRESSION — so below the volume gate
    # every round checkpoints, exactly the round-15 behavior. The gate
    # reads the fact-input bytes (the checkpoint volume's upper bound
    # driver), not the core count.
    fact_bytes = sum(
        size
        for t in ("lineitem", "orders")
        for _p, size in data_files(os.path.join(sf_dir, f"{t}.parquet"))
    )
    skip_alternate = fact_bytes >= (256 << 20)

    e = edges
    n_prev = n_final = -1
    for r in range(_KCORE_ROUNDS):
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("src")
        )
        e = e.join(keep, "src", "semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "semi"
        )
        # the final round always checkpoints so the returned plan (and
        # the convergence counts below) read a materialized edge set
        if not skip_alternate or r % 2 == 1 or r == _KCORE_ROUNDS - 1:
            e = e.checkpoint(eager=True)
        if r == _KCORE_ROUNDS - 2:
            n_prev = e.select("src").distinct().count()
        elif r == _KCORE_ROUNDS - 1:
            n_final = e.select("src").distinct().count()
    return e.groupBy("src").agg(
        F.count("*").cast("long").alias("core_deg")
    ).select(
        F.col("src").alias("node"),
        "core_deg",
        F.lit(n_prev == n_final).alias("converged"),
    )


@query(
    "graph_degree_dist",
    oracle=f"""
    WITH p AS (
      SELECT DISTINCT o_custkey AS c, {_S_OFFSET} + l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT c AS src FROM p UNION ALL SELECT s AS src FROM p
    ), deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src
    ), bucketed AS (
      SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS bucket, d,
             CASE WHEN src >= {_S_OFFSET} THEN 'supplier'
                  ELSE 'customer' END AS side
      FROM deg
    )
    SELECT side, bucket,
           CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_nodes,
           MIN(d) AS min_deg, MAX(d) AS max_deg
    FROM bucketed GROUP BY side, bucket
    """,
)
def graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the customer-supplier
    graph, split by node side — the first diagnostic before ANY graph
    algorithm choice (power-law tail => salted joins / degree-ordered
    orientation; flat => plain hash partitioning is fine). Two hash
    aggs; the bucket id floor(log2 d) is computed as length(bin(d))-1
    — PURE integer arithmetic, immune to the 1-ulp ln()/log() drift
    that can flip floor() at exact powers of two across engines.
    min/max per bucket certify the bucketing. At 100 TB the degree table doubles as the
    input to dq_skew_audit-style mitigation decisions."""
    edges = _cs_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    bucketed = deg.select(
        F.when(F.col("src") >= _S_OFFSET, "supplier")
        .otherwise("customer")
        .alias("side"),
        (F.length(F.bin("d")) - 1).cast("long").alias("bucket"),
        "d",
    )
    return bucketed.groupBy("side", "bucket").agg(
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) AS BIGINT)").alias("bucket_lo"),
        F.count("*").alias("n_nodes"),
        F.min("d").alias("min_deg"),
        F.max("d").alias("max_deg"),
    ).select("side", "bucket", "bucket_lo", "n_nodes", "min_deg", "max_deg")


# Link-prediction hub cap: customers connected to more than this many
# suppliers are excluded from pair generation (a hub contributes
# O(deg^2) candidate pairs while carrying almost no similarity signal —
# the standard mitigation in common-neighbor scoring on power-law
# graphs). The fixture's max degree is well under the cap, so the
# semantics are exercised without changing local results.
_CN_HUB_CAP = 500
_CN_MIN_COMMON = 5


@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    cdeg AS (SELECT c, count(*) AS cd FROM e GROUP BY c),
    ek AS (SELECT e.s, e.c FROM e JOIN cdeg ON e.c = cdeg.c
           WHERE cdeg.cd <= {_CN_HUB_CAP}),
    sdeg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM ek GROUP BY s),
    pairs AS (
      SELECT a.s AS s_a, b.s AS s_b, CAST(count(*) AS BIGINT) AS n_common
      FROM ek a JOIN ek b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT p.s_a, p.s_b, p.n_common,
           da.d AS deg_a, db.d AS deg_b,
           CAST(ROUND(p.n_common
                      / CAST(da.d + db.d - p.n_common AS DOUBLE), 6)
                AS DOUBLE) AS jaccard
    FROM pairs p
    JOIN sdeg da ON p.s_a = da.s
    JOIN sdeg db ON p.s_b = db.s
    WHERE p.n_common >= {_CN_MIN_COMMON}
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the supplier projection of
    the bipartite customer-supplier graph: for every supplier pair
    sharing >= _CN_MIN_COMMON (5) customers, the shared-customer count
    and the neighborhood Jaccard score — the baseline similarity
    signals of Liben-Nowell & Kleinberg's link-prediction framework
    (CIKM'03).

    Plan shape: the bipartite edge list (one distinct-projection of
    the fact join) self-joins keyed on the CUSTOMER — fan-out per join
    key is that customer's supplier degree, so work is
    sum(deg_c^2), not |suppliers|^2. The hub cap (degree <=
    _CN_HUB_CAP = 500, enforced identically in the oracle) bounds the
    worst key: on a power-law graph the capped sum is linear in edges.
    Pair counts aggregate with map-side combine onto the (far smaller)
    supplier-pair key space; supplier degrees broadcast back for the
    Jaccard denominator. One scan, three shuffles (distinct, pair agg,
    none for the broadcast joins) at any scale."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    cdeg = e.groupBy("c").agg(F.count("*").alias("cd"))
    ek = (
        e.join(F.broadcast(cdeg.filter(F.col("cd") <= _CN_HUB_CAP)), "c")
        .select("s", "c")
    )
    sdeg = ek.groupBy("s").agg(F.count("*").alias("d"))
    a = ek.select(F.col("c").alias("k"), F.col("s").alias("s_a"))
    b = ek.select(F.col("c").alias("k2"), F.col("s").alias("s_b"))
    pairs = (
        a.join(b, (a.k == b.k2) & (F.col("s_a") < F.col("s_b")))
        .groupBy("s_a", "s_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= _CN_MIN_COMMON)
    )
    da = sdeg.select(F.col("s").alias("s_a"), F.col("d").alias("deg_a"))
    db = sdeg.select(F.col("s").alias("s_b"), F.col("d").alias("deg_b"))
    return (
        pairs.join(F.broadcast(da), "s_a")
        .join(F.broadcast(db), "s_b")
        .select(
            "s_a",
            "s_b",
            "n_common",
            "deg_a",
            "deg_b",
            F.round(
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    cdeg AS (SELECT c, CAST(count(*) AS BIGINT) AS cd FROM e GROUP BY c),
    ek AS (SELECT e.s, e.c, cdeg.cd FROM e JOIN cdeg ON e.c = cdeg.c
           WHERE cdeg.cd BETWEEN 2 AND {_CN_HUB_CAP}),
    pairs AS (
      SELECT a.s AS s_a, b.s AS s_b,
             CAST(count(*) AS BIGINT) AS n_common,
             SUM(1.0 / ln(a.cd)) AS aa_raw
      FROM ek a JOIN ek b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT s_a, s_b, n_common,
           CAST(ROUND(aa_raw, 6) AS DOUBLE) AS adamic_adar
    FROM pairs WHERE n_common >= {_CN_MIN_COMMON}
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link-prediction score over the same supplier
    projection as graph_common_neighbors: each shared customer
    contributes 1/ln(degree) instead of 1 — rare shared neighbors
    carry more signal than hubs (Adamic & Adar 2003, the standard
    degree-weighted refinement in the Liben-Nowell & Kleinberg
    benchmark suite). Degree-1 customers are excluded (they connect
    no pair; ln(1) = 0 would divide by zero) alongside the hub cap.

    Plan shape is identical to graph_common_neighbors — customer-keyed
    self-join with the degree annotation RIDING THE EDGE ROW (the
    1/ln(deg) weight is computed from the already-joined cdeg, no
    third join), map-side-combined SUM onto the supplier-pair key
    space. The float sum is a sum of identical terms per group in
    both engines' arbitrary order — rounded to 6 before compare per
    repo convention."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    cdeg = e.groupBy("c").agg(F.count("*").alias("cd"))
    ek = e.join(
        F.broadcast(
            cdeg.filter(F.col("cd").between(2, _CN_HUB_CAP))
        ),
        "c",
    )
    a = ek.select(
        F.col("c").alias("k"), F.col("s").alias("s_a"), F.col("cd").alias("cda")
    )
    b = ek.select(F.col("c").alias("k2"), F.col("s").alias("s_b"))
    return (
        a.join(b, (a.k == b.k2) & (F.col("s_a") < F.col("s_b")))
        .groupBy("s_a", "s_b")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(F.lit(1.0) / F.log(F.col("cda"))).alias("aa_raw"),
        )
        .filter(F.col("n_common") >= _CN_MIN_COMMON)
        .select(
            "s_a",
            "s_b",
            "n_common",
            F.round("aa_raw", 6).alias("adamic_adar"),
        )
    )


@query(
    "graph_assortativity",
    oracle=f"""
    WITH p AS (
      SELECT DISTINCT o_custkey AS c, {_S_OFFSET} + l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM p
      UNION ALL
      SELECT s AS src, c AS dst FROM p
    ),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    ed AS (
      SELECT da.d AS dsrc, db.d AS ddst
      FROM edges e
      JOIN deg da ON e.src = da.node
      JOIN deg db ON e.dst = db.node
    )
    SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
           CAST(ROUND(corr(dsrc, ddst), 6) AS DOUBLE) AS assortativity
    FROM ed
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the undirected customer-
    supplier graph: the Pearson correlation of endpoint degrees over
    all directed edge instances. Positive = hubs attach to hubs
    (social-network shape); negative = hubs attach to leaves (the
    hub-and-spoke shape typical of bipartite commerce projections) —
    a one-number structural fingerprint that decides whether
    degree-capped algorithms (graph_common_neighbors' hub cap,
    triangle sampling) will bite.

    Plan: degrees are one aggregation; each edge picks up both
    endpoint degrees via two joins on the degree table (broadcast at
    fixture scale, co-partitioned shuffle joins on a 100 TB edge
    list), then a single corr aggregate — co-moment accumulation over
    exact integer degrees, rounded to 6 on both engines (the
    agg_stats convention)."""
    edges = _cs_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d")).select(
        F.col("src").alias("node"), "d"
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("dsrc"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("ddst"))
    ed = edges.join(F.broadcast(da), "src").join(F.broadcast(db), "dst")
    return ed.agg(
        F.count("*").alias("n_directed_edges"),
        F.round(F.corr("dsrc", "ddst"), 6).alias("assortativity"),
    )


@query(
    "graph_copurchase_projection",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), pairs AS (
      SELECT a.p AS part_a, b.p AS part_b, CAST(count(*) AS BIGINT) AS support
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    ), freq AS (
      SELECT p, CAST(count(*) AS BIGINT) AS f FROM op GROUP BY p
    ), tot AS (
      SELECT CAST(count(DISTINCT o) AS DOUBLE) AS n FROM op
    )
    SELECT part_a, part_b, support,
           CAST(ROUND(support * t.n / (fa.f * fb.f), 6) AS DOUBLE) AS lift
    FROM pairs
    JOIN freq fa ON part_a = fa.p
    JOIN freq fb ON part_b = fb.p, tot t
    WHERE support >= 2
    """,
)
def graph_copurchase_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the order-part graph onto part-part
    co-purchase edges — the market-basket / co-occurrence construction
    behind 'bought together' recommenders and co-occurrence embeddings:
    two parts are linked iff they share an order, weighted by support
    (co-orders) and lift = P(a,b)/(P(a)P(b)) (support·N / f_a·f_b),
    min-support 2 pruning the hapax tail.

    Scale shape: the quadratic step is per-ORDER pair expansion via a
    self-equi-join of the distinct (order, part) relation on the order
    key — fan-out bounded by basket size squared (TPC-H baskets ≤ 7,
    real carts similar), never |parts|²; the id-ordered a.p < b.p
    orientation halves it and makes the pair key canonical, exactly
    like graph_triangles' compact-forward orientation. Per-part
    frequencies are a dim-sized aggregate joined back broadcast; the
    1-row order total rides along as a broadcast cross join (never
    collected). Support filtering happens after the pair hash-agg,
    whose map-side combine absorbs the duplicate pair stream.

    Broadcast bound: the part-frequency joins carry NO user hint — a
    user broadcast() hint is honored by Spark regardless of
    spark.sql.autoBroadcastJoinThreshold (AQE's demote rule applies
    only to size-ESTIMATED broadcasts), so hinting here would force an
    OOM once a 100 TB part dimension outgrows executor memory. Instead
    the optimizer sizes the freq relation itself: at TPC-H dim scale
    (|part| ~0.1% of |lineitem|) it still picks a broadcast-hash join;
    past the threshold it plans a shuffle/sort-merge join on the
    (part_a, part_b) keys, which stays correct with one extra shuffle
    of the (already support-pruned) pair relation. Only the 1-row
    order-total keeps an explicit broadcast (fixed size by
    construction). The plan gate in tests/test_plans.py accepts EITHER
    hash-join strategy for the freq joins; what it pins is the absence
    of a cartesian product and the canonical a.p < b.p orientation."""
    li = load(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = op.alias("a")
    b = op.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(
            F.col("a.p").alias("part_a"), F.col("b.p").alias("part_b")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
    )
    freq = op.groupBy("p").agg(F.count("*").alias("f"))
    tot = op.agg(F.countDistinct("o").cast("double").alias("n"))
    fa = freq.select(F.col("p").alias("part_a"), F.col("f").alias("fa"))
    fb = freq.select(F.col("p").alias("part_b"), F.col("f").alias("fb"))
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(
                F.col("support") * F.col("n") / (F.col("fa") * F.col("fb")), 6
            ).alias("lift"),
        )
    )
