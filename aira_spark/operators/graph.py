"""Iterative graph ranking (PageRank) as DataFrame rounds.

PageRank is the canonical iterative-algorithm stress test for a DataFrame
engine (joins + aggregations in a loop, lineage growth, convergence). Float
PageRank cannot be compared exactly across engines — partial-sum order
changes the last ULP every iteration and errors compound. This is the
INTEGER FIXED-POINT variant: ranks live in micros (BIGINT), every edge
contribution is the exact integer (DAMP_NUM * rank) div (DAMP_DEN * deg),
and the per-target fold is a sum of integers — order-independent, so Spark
at any parallelism and the DuckDB oracle's unrolled CTE chain agree
bit-for-bit after any number of rounds. Floor division leaks a few micros
of mass per round (bounded by in-degree); that is part of the operator's
DEFINITION, not an accident — rank ORDER converges like standard PageRank
(damping 0.85) while values stay exactly reproducible.

The driver query runs it over the k-nearest-neighbor digraph of the points
table (every node has exactly k out-edges, so deg is a constant and the
contribution expression needs no degree join).

Scale shape per round: one (src equi-join) + one hash agg on dst — the
standard distributed PageRank round; ranks are (node, BIGINT) rows, edges
never change, and the loop localCheckpoints every few rounds like
duplicate_clusters to bound lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import checkpoint_probe

DAMP_NUM = 85
DAMP_DEN = 100
INIT_MICROS = 1_000_000
# teleport term: (1 - d) * 1.0 in micros
TELEPORT = INIT_MICROS * (DAMP_DEN - DAMP_NUM) // DAMP_DEN


def pagerank_fixed(
    edges: DataFrame, out_degree: int, rounds: int = 10
) -> DataFrame:
    """(node, rank_micros) after `rounds` synchronous iterations.

    `edges` carries (src, dst) with EVERY src having exactly `out_degree`
    out-edges (the kNN digraph guarantees it); nodes = distinct src (every
    node has out-edges, so no dangling-mass term)."""
    div = DAMP_DEN * out_degree
    # SPARSE rounds (the hits_fixed device, one step further): the dense
    # rank of ANY node is TELEPORT + inflow with inflow = 0 when absent, so
    # instead of materializing ranks via a per-round zero-fill join against
    # the node set (2 joins + 1 agg/round), fold the teleport term into the
    # edge-side left join and carry only the sparse inflow between rounds
    # (1 join + 1 agg/round). The floor division sees the identical dense
    # rank value, so every emitted row is bit-identical to the dense form
    # the oracle unrolls.
    inflow = None  # round-0 ranks are the uniform INIT_MICROS, not TELEPORT
    for i in range(rounds):
        if inflow is None:
            joined = edges.withColumn(
                "rank_micros", F.lit(INIT_MICROS).cast("long")
            )
        else:
            joined = edges.join(
                inflow.withColumnRenamed("node", "src"), "src", "left"
            ).select(
                "dst",
                (F.lit(TELEPORT) + F.coalesce(F.col("inflow"), F.lit(0)))
                .cast("long")
                .alias("rank_micros"),
            )
        inflow = (
            joined.select(
                F.col("dst").alias("node"),
                F.expr(f"({DAMP_NUM} * rank_micros) div {div}").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("inflow"))
        )
        if (i + 1) % 4 == 0:
            # same device as duplicate_clusters: each round's plan embeds the
            # previous round's subtree; truncate before it compounds
            inflow = inflow.localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    if inflow is None:
        # rounds=0: ranks are still the uniform initialization (the dense
        # form's r0 and the oracle's r0 CTE), not TELEPORT
        return nodes.select(
            "node", F.lit(INIT_MICROS).cast("long").alias("rank_micros")
        )
    return nodes.join(inflow, "node", "left").select(
        "node",
        (F.lit(TELEPORT) + F.coalesce(F.col("inflow"), F.lit(0)))
        .cast("long")
        .alias("rank_micros"),
    )


def oracle_pagerank_sql(
    edges_cte: str, out_degree: int, rounds: int = 10
) -> str:
    """DuckDB mirror: `edges_cte` defines a CTE `edges(src, dst)`; the
    iteration unrolls into one CTE per round (identical integer ops)."""
    div = DAMP_DEN * out_degree
    parts = [
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        f"r0 AS (SELECT node, CAST({INIT_MICROS} AS BIGINT) AS rank_micros FROM nodes)",
    ]
    for i in range(rounds):
        parts.append(
            f"r{i + 1} AS (SELECT n.node, CAST({TELEPORT} + COALESCE(("
            f"SELECT SUM(({DAMP_NUM} * r.rank_micros) // {div}) "
            f"FROM edges e JOIN r{i} r ON r.node = e.src "
            f"WHERE e.dst = n.node), 0) AS BIGINT) AS rank_micros "
            f"FROM nodes n)"
        )
    return (
        f"WITH {edges_cte},\n" + ",\n".join(parts)
        + f"\nSELECT node, rank_micros FROM r{rounds}"
    )


def bfs_hops(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """(node, hop): minimum hop distance from the seed set, bounded by
    `max_hops` — multi-source BFS, the other canonical iterative graph
    primitive next to pagerank_fixed (reachability, influence radius,
    geodesic neighborhoods over the kNN digraph).

    Per round: frontier ⋈ edges (equi-join on src) → DISTINCT dst →
    LEFT ANTI against the settled set → the next frontier at hop+1. Hop
    counts are exact integers, so every engine agrees regardless of join
    order. Scale shape: each round shuffles only (node) / (src, dst) ID
    rows; the frontier localCheckpoints every round, keeping lineage flat,
    and its size is observed in that same job (`checkpoint_probe`); an
    empty frontier short-circuits the remaining rounds on the driver — the
    standard Pregel-style superstep loop expressed as DataFrame ops."""
    dist = (
        seeds.select("node").distinct()
        .withColumn("hop", F.lit(0).cast("long"))
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt, n_new = checkpoint_probe(
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti"),
            "count(*)",
        )
        if n_new == 0:
            break
        dist = dist.unionByName(
            nxt.withColumn("hop", F.lit(h).cast("long"))
        )
        frontier = nxt
    return dist


def oracle_bfs_sql(
    edges_cte: str, seeds_sql: str, max_hops: int = 4
) -> str:
    """DuckDB mirror: unrolled frontier CTE per hop (the pagerank unroll
    device). `edges_cte` defines edges(src, dst); `seeds_sql` selects the
    seed node set as a single column `node`."""
    parts = [
        f"f0 AS (SELECT DISTINCT node FROM ({seeds_sql}))",
        "d0 AS (SELECT node, CAST(0 AS BIGINT) AS hop FROM f0)",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"f{h} AS (SELECT DISTINCT e.dst AS node FROM edges e "
            f"JOIN f{h - 1} f ON f.node = e.src "
            f"WHERE e.dst NOT IN (SELECT node FROM d{h - 1}))"
        )
        parts.append(
            f"d{h} AS (SELECT * FROM d{h - 1} UNION ALL "
            f"SELECT node, CAST({h} AS BIGINT) AS hop FROM f{h})"
        )
    return (
        f"WITH {edges_cte},\n" + ",\n".join(parts)
        + f"\nSELECT node, hop FROM d{max_hops}"
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, n_tri): triangles through every node, plus the fold row
    node = -1 carrying the GLOBAL triangle count — the standard clustering
    primitive (cohesion, community strength) over the kNN graph.

    The classic compact-forward shape: undirect + dedup the edge set, then
    ORIENT every edge from the (degree, id)-smaller endpoint to the larger
    — each node's oriented out-degree is O(sqrt(m)) whatever the degree
    skew, so the wedge join (out-neighbor pairs per node) is bounded where
    a naive orientation blows up on hubs. Wedges close into triangles via
    one more equi-join against the oriented edge list. Every exchange
    carries integer id pairs/triples; per-node counts come from scattering
    each triangle to its 3 corners into one hash agg."""
    und = (
        edges.selectExpr("doc_a AS a", "doc_b AS b")
        .unionByName(edges.selectExpr("doc_b AS a", "doc_a AS b"))
        .where("a != b")
        .distinct()
    )
    deg = und.groupBy("a").agg(F.count("*").alias("deg"))
    # orient: keep (a,b) iff (deg(a), a) < (deg(b), b)
    d1 = deg.selectExpr("a", "deg AS dega")
    d2 = deg.selectExpr("a AS b", "deg AS degb")
    o = (
        und.join(d1, "a").join(d2, "b")
        .where("(dega < degb) OR (dega = degb AND a < b)")
        .select("a", "b")
        .localCheckpoint(eager=True)  # reused by the wedge AND close joins
    )
    x = o.selectExpr("a", "b AS v")
    y = o.selectExpr("a", "b AS w")
    wedges = x.join(y, "a").where("v < w")
    # the closing edge lives in o in DEGREE order, which need not match the
    # wedge's id order — normalize both sides to (min id, max id)
    o_norm = o.selectExpr("least(a, b) AS v", "greatest(a, b) AS w")
    tri = wedges.join(o_norm, ["v", "w"]).select(
        F.col("a").alias("n1"), F.col("v").alias("n2"), F.col("w").alias("n3")
    )
    per_node = (
        tri.selectExpr("explode(array(n1, n2, n3)) AS node")
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    total = per_node.agg(
        (F.sum("n_tri") / 3).cast("long").alias("n_tri")
    ).selectExpr("CAST(-1 AS BIGINT) AS node", "n_tri")
    return per_node.selectExpr("CAST(node AS BIGINT) AS node", "n_tri").unionByName(total)


def oracle_triangles_sql(edges_cte: str) -> str:
    """DuckDB mirror: an INDEPENDENT formulation — plain a<b<c three-way
    join over the undirected distinct edge set (no orientation trick)."""
    return f"""
WITH {edges_cte},
und AS (
  SELECT src AS a, dst AS b FROM edges WHERE src != dst
  UNION SELECT dst, src FROM edges WHERE src != dst
),
tri AS (
  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
  FROM und e1
  JOIN und e2 ON e2.a = e1.b AND e2.b > e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
  WHERE e1.a < e1.b
),
per_node AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
  FROM (SELECT unnest([n1, n2, n3]) AS node FROM tri)
  GROUP BY 1
)
SELECT CAST(node AS BIGINT) AS node, n_tri FROM per_node
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(COALESCE(SUM(n_tri), 0) // 3 AS BIGINT) FROM per_node
"""


def sssp_fixed(
    edges: DataFrame, seeds: DataFrame, rounds: int = 6
) -> DataFrame:
    """(node, dist): minimum WEIGHTED distance from the seed set after
    `rounds` synchronous Bellman-Ford relaxations — the weighted companion
    of bfs_hops (travel-time / cost geodesics over the kNN digraph).

    `edges` carries (src, dst, w) with an exact-integer weight column.
    Fixed-round semantics (the pagerank unroll device): after exactly
    `rounds` relaxations both engines hold the identical state whether or
    not the fixpoint was reached; the pytest pins convergence separately.

    Scale shape per round: one equi-join on src + one min hash-agg on
    node — only (node, BIGINT) rows shuffle, edges stream map-side; the
    running distance table localCheckpoints every round so lineage stays
    flat (the duplicate_clusters device). The
    edge table is materialized ONCE up front: every round re-reads it,
    and dist's union arm additionally doubles lineage per round, so an
    expensive upstream edge build (e.g. a kNN join) would otherwise be
    re-executed a multiplicative number of times."""
    edges = edges.localCheckpoint(eager=True)
    dist = (
        seeds.select("node").distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    for _ in range(rounds):
        relaxed = edges.join(dist, edges.src == dist.node).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).cast("long").alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist


def oracle_sssp_sql(
    edges_w_cte: str, seeds_sql: str, rounds: int = 6
) -> str:
    """DuckDB mirror: one CTE per relaxation round (the pagerank unroll
    device). `edges_w_cte` must define edges_w(src, dst, w) with BIGINT
    weights; `seeds_sql` selects the seed node set as one column `node`.
    MIN keeps BIGINT in both engines; the explicit CASTs make it canon-safe
    regardless. Each round CTE is MATERIALIZED: d{i} is referenced twice
    (carry-over arm + relaxation arm), so inlined evaluation would be
    exponential in `rounds`."""
    parts = [
        f"s0 AS (SELECT DISTINCT node FROM ({seeds_sql}))",
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM s0)",
    ]
    for i in range(rounds):
        parts.append(
            f"d{i + 1} AS MATERIALIZED "
            f"(SELECT node, CAST(MIN(dist) AS BIGINT) AS dist "
            f"FROM (SELECT node, dist FROM d{i} UNION ALL "
            f"SELECT e.dst AS node, d.dist + e.w AS dist "
            f"FROM edges_w e JOIN d{i} d ON d.node = e.src) GROUP BY node)"
        )
    return (
        f"WITH {edges_w_cte},\n" + ",\n".join(parts)
        + f"\nSELECT CAST(node AS BIGINT) AS node, dist FROM d{rounds}"
    )


# broadcast the peeled (dropped) node set only below this row count: round 1
# can drop nearly |V| nodes, and a forced broadcast of an unbounded set
# collects it to the driver. Module-level so tests can force the shuffle path.
PEEL_BROADCAST_MAX = 5_000_000


def k_core(
    edges: DataFrame, k: int, rounds: int = 8, symmetric: bool = False
) -> DataFrame:
    """(node, core_deg): the k-core of the undirected graph — the maximal
    subgraph where every surviving node keeps >= k surviving neighbors —
    after at most `rounds` synchronous peeling iterations, with core_deg
    the node's degree INSIDE the surviving subgraph. The standard cohesion
    filter (community kernels, spam/bot fringes peel off first).

    Peeling is the textbook fixpoint: drop every node with degree < k,
    recompute degrees, repeat. `rounds` is the FIXED upper bound (the
    pagerank device) that the oracle's unrolled CTE chain mirrors — but
    peeling only ever REMOVES nodes, so an unchanged survivor COUNT
    between rounds proves an unchanged survivor SET (shrink-monotone:
    subset + equal cardinality = equality), which proves every remaining
    round is a no-op. The loop therefore early-exits on a dropped count
    observed inside the degree checkpoint's own job — the bfs_hops device
    — with a result bit-identical to running all `rounds` rounds; the
    convergence depth never appears in the checked output.
    Non-convergence inside `rounds` is NOT silent: rows with core_deg < k
    remain in the output and any downstream gate (or the pytest fixpoint
    probe) sees them.

    `symmetric=True` is a caller CONTRACT: the edge list is already
    undirected-complete (both directions present), irreflexive, and
    duplicate-free — e.g. a self radius join, where (a,b) in means (b,a)
    in by symmetry of the predicate and each pair is emitted exactly once
    by the single-cell/distinct-cover argument. That skips the
    union+distinct normalization, which on a dense radius graph is the
    single largest exchange of the whole operator (2|E| rows through one
    shuffle just to rediscover the input).

    Scale shape per round: the survivor set (single-column ids) joins the
    static undirected edge list twice (semi-join shape) + one hash agg —
    id rows only in every exchange; localCheckpoint per round keeps the
    lineage flat. Degree skew is bounded by the same compact-forward
    argument as triangle_counts: peeling only ever SHRINKS the edge set.
    """
    base = edges.selectExpr("src AS a", "dst AS b")
    if not symmetric:
        base = base.unionByName(edges.selectExpr("dst AS a", "src AS b")).distinct()
    und = base.where("a != b").localCheckpoint(eager=True)
    # DELTA peeling: deg_i(a) = |N(a) ∩ surv_i| satisfies
    # deg_i(a) = deg_{i-1}(a) − |N(a) ∩ dropped_i|, so after ONE full-degree
    # agg each round only joins the edge list against the (small, shrinking)
    # dropped set — per-round cost is the dropped neighborhood, not two full
    # semi-joins of the whole edge list. The carried deg frame always holds
    # degrees against the CURRENT survivor set, so on exit it IS the final
    # core_deg recount (survivors peeled to zero degree are omitted exactly
    # as the recount's groupBy omitted them).
    n_dropped_sql = f"count_if(core_deg < {k})"
    deg, n_dropped = checkpoint_probe(
        und.groupBy("a").agg(F.count("*").alias("core_deg")), n_dropped_sql
    )
    for _ in range(rounds):
        if n_dropped == 0:
            break  # provable fixpoint — remaining rounds are no-ops
        # broadcast only when the dropped set is measurably small: round 1
        # can drop nearly |V| nodes (k above the typical degree), and a
        # forced broadcast of an unbounded set collects it to the driver.
        # The count doubles as the fixpoint probe, so the bound is free;
        # past it, the plain equi-join shuffles ids only and AQE may still
        # convert later rounds back to broadcast as the set shrinks.
        drop_b = deg.where(F.col("core_deg") < k).selectExpr("a AS b")
        if n_dropped <= PEEL_BROADCAST_MAX:
            drop_b = F.broadcast(drop_b)
        dec = und.join(drop_b, "b").groupBy("a").agg(F.count("*").alias("d"))
        deg, n_dropped = checkpoint_probe(
            deg.where(F.col("core_deg") >= k)
            .join(dec, "a", "left")
            .select(
                "a",
                (F.col("core_deg") - F.coalesce(F.col("d"), F.lit(0)))
                .alias("core_deg"),
            ),
            n_dropped_sql,
        )
    return deg.where(F.col("core_deg") > 0).selectExpr(
        "CAST(a AS BIGINT) AS node", "CAST(core_deg AS BIGINT) AS core_deg"
    )


def oracle_k_core_sql(edges_cte: str, k: int, rounds: int = 8) -> str:
    """DuckDB mirror: `edges_cte` defines edges(src, dst); the peeling
    unrolls into one MATERIALIZED survivor CTE per round."""
    parts = [
        "und AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges "
        "WHERE src != dst UNION SELECT dst, src FROM edges WHERE src != dst)",
        "s0 AS (SELECT DISTINCT a FROM und)",
    ]
    for i in range(rounds):
        parts.append(
            f"s{i + 1} AS MATERIALIZED (SELECT u.a FROM und u "
            f"JOIN s{i} x ON x.a = u.a JOIN s{i} y ON y.a = u.b "
            f"GROUP BY u.a HAVING COUNT(*) >= {k})"
        )
    return (
        f"WITH {edges_cte},\n" + ",\n".join(parts) + f"""
SELECT CAST(u.a AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM und u JOIN s{rounds} x ON x.a = u.a JOIN s{rounds} y ON y.a = u.b
GROUP BY u.a"""
    )


HITS_SCALE = 1_000_000


def hits_fixed(
    edges: DataFrame, rounds: int = 5
) -> DataFrame:
    """(node, hub_micros, auth_micros) after `rounds` synchronous HITS
    iterations (Kleinberg 1999) — hubs point at good authorities,
    authorities are pointed at by good hubs; the directed-graph companion
    of pagerank_fixed (pagerank ranks endorsement flow, HITS separates
    the curator role from the endorsed role — over the kNN digraph the
    asymmetry comes from non-mutual neighbor links).

    INTEGER FIXED-POINT like pagerank_fixed: L1 (sum) normalization in
    micros replaces the textbook L2 norm — sqrt is not exactly portable,
    the sum is — so each round is  raw_i = sum of the other score over
    in/out edges, then score_i = (raw_i * SCALE) div (sum_j raw_j). All
    values stay nonneg BIGINTs, folds are order-independent, and floor
    leak (< n micros/round) is part of the definition; rank ORDER
    converges like standard HITS. Round-1 overflow bound: raw*SCALE <=
    n * SCALE^2, so n must stay < ~9e6 per connected normalization scope
    at SCALE=1e6 (beyond that, lower the init mass).

    Scale shape per round: two (equi-join + hash agg) passes — the
    pagerank round shape run once per side — plus ONE single-row global
    sum cross-joined back with an explicit broadcast (never a shuffle);
    scores are (node, BIGINT) rows; localCheckpoint every second round
    bounds lineage (the duplicate_clusters device). Edges are materialized
    ONCE up front (the sssp_fixed rule: both per-round joins re-read them,
    so an expensive upstream build — here the kNN join — would otherwise
    re-execute 2x per round)."""
    if rounds < 1:
        # auth scores only exist after a half-round; the oracle's unroll has
        # no a0 CTE either, so rounds=0 is outside the operator's domain
        raise ValueError(f"hits_fixed needs rounds >= 1, got {rounds}")
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.selectExpr("src AS node")
        .unionByName(edges.selectExpr("dst AS node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hubs = nodes.withColumn("h", F.lit(HITS_SCALE).cast("long"))

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        tot = raw.agg(F.sum("raw").alias("tot"))
        return raw.crossJoin(F.broadcast(tot)).selectExpr(
            "node", f"CAST((raw * {HITS_SCALE}) div tot AS BIGINT) AS {col}"
        )

    # SPARSE rounds: a node absent from the in/out aggregation has raw = 0 —
    # it adds nothing to the normalization total and contributes nothing to
    # the next round's sums, so the per-round zero-fill join against `nodes`
    # (2 extra shuffles/round in the original shape) is deferred to ONE
    # left-join fill at the end; every emitted row is bit-identical to the
    # dense form the oracle unrolls.
    auth = None
    for i in range(rounds):
        araw = (
            edges.join(hubs, edges.src == hubs.node)
            .groupBy("dst").agg(F.sum("h").cast("long").alias("raw"))
            .withColumnRenamed("dst", "node")
        )
        auth = _norm(araw, "a")
        hraw = (
            edges.join(auth, edges.dst == auth.node)
            .groupBy("src").agg(F.sum("a").cast("long").alias("raw"))
            .withColumnRenamed("src", "node")
        )
        hubs = _norm(hraw, "h")
        if (i + 1) % 2 == 0:
            hubs = hubs.localCheckpoint(eager=True)
            auth = auth.localCheckpoint(eager=True)
    return (
        nodes.join(hubs.withColumnRenamed("h", "hv"), "node", "left")
        .join(auth.withColumnRenamed("a", "av"), "node", "left")
        .selectExpr(
            "CAST(node AS BIGINT) AS node",
            "CAST(COALESCE(hv, 0) AS BIGINT) AS hub_micros",
            "CAST(COALESCE(av, 0) AS BIGINT) AS auth_micros",
        )
    )


def oracle_hits_sql(edges_cte: str, rounds: int = 5) -> str:
    """DuckDB mirror: `edges_cte` defines edges(src, dst); each round
    unrolls into raw/normalized CTE pairs per side (the pagerank unroll
    device), MATERIALIZED because every normalization references its raw
    CTE twice (per-row numerator + global sum)."""
    parts = [
        "nodes AS (SELECT src AS node FROM edges "
        "UNION SELECT dst FROM edges)",
        f"h0 AS (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS h FROM nodes)",
    ]
    for i in range(rounds):
        parts.append(
            f"ar{i + 1} AS MATERIALIZED (SELECT n.node, "
            f"CAST(COALESCE((SELECT SUM(h.h) FROM edges e "
            f"JOIN h{i} h ON h.node = e.src WHERE e.dst = n.node), 0) "
            f"AS BIGINT) AS raw FROM nodes n)"
        )
        parts.append(
            f"a{i + 1} AS MATERIALIZED (SELECT node, "
            f"CAST((raw * {HITS_SCALE}) // "
            f"(SELECT SUM(raw) FROM ar{i + 1}) AS BIGINT) AS a "
            f"FROM ar{i + 1})"
        )
        parts.append(
            f"hr{i + 1} AS MATERIALIZED (SELECT n.node, "
            f"CAST(COALESCE((SELECT SUM(a.a) FROM edges e "
            f"JOIN a{i + 1} a ON a.node = e.dst WHERE e.src = n.node), 0) "
            f"AS BIGINT) AS raw FROM nodes n)"
        )
        parts.append(
            f"h{i + 1} AS MATERIALIZED (SELECT node, "
            f"CAST((raw * {HITS_SCALE}) // "
            f"(SELECT SUM(raw) FROM hr{i + 1}) AS BIGINT) AS h "
            f"FROM hr{i + 1})"
        )
    return (
        f"WITH {edges_cte},\n" + ",\n".join(parts)
        + f"\nSELECT CAST(h.node AS BIGINT) AS node, h.h AS hub_micros, "
        f"a.a AS auth_micros FROM h{rounds} h "
        f"JOIN a{rounds} a ON a.node = h.node"
    )


LP_ENC = 1 << 32    # encoded-argmax base: labels are ids < 2^32


def label_prop(edges: DataFrame, rounds: int = 6) -> DataFrame:
    """(node, label, comm_size): community detection by synchronous label
    propagation (Raghavan 2007) over the undirected graph, after FIXED
    `rounds` — each node adopts the most frequent label in its CLOSED
    neighborhood (self included: damps the classic synchronous-LPA
    oscillation), ties to the SMALLEST label.

    Determinism (the focal_majority device): the per-node argmax is the
    pure-integer encoded key max(cnt * 2^32 + (2^32 - 1 - lbl)) — count
    majority first, ties to the smallest label — so no engine hash/struct
    ordering is in play; with FIXED rounds (the pagerank device) both
    engines hold the identical label state whether or not the fixpoint
    was reached. Requires ids < 2^32 and degree < 2^31 (loudly checked
    by the encode staying inside int64 — ids here are point ids).

    Scale shape per round: ONE equi-join of the static undirected edge
    list (id pairs, localCheckpointed once) against the (node, label)
    frontier + two chained hash aggs (per-label counts combine map-side —
    the exchange carries <= distinct-neighbor-labels rows per node, never
    the full adjacency); localCheckpoint per round keeps lineage flat."""
    und = (
        edges.selectExpr("src AS a", "dst AS b")
        .unionByName(edges.selectExpr("dst AS a", "src AS b"))
        .where("a != b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    lbl = (
        und.select("a").distinct()
        .select("a", F.col("a").cast("long").alias("lbl"))
    )
    for _ in range(rounds):
        votes = (
            und.join(lbl.selectExpr("a AS b", "lbl"), "b")
            .select("a", "lbl")
            .unionByName(lbl.select("a", "lbl"))   # closed neighborhood
        )
        per_lbl = votes.groupBy("a", "lbl").agg(F.count("*").alias("cnt"))
        lbl = (
            per_lbl.groupBy("a")
            .agg(
                F.max(
                    F.col("cnt") * F.lit(LP_ENC)
                    + (F.lit(LP_ENC - 1) - F.col("lbl"))
                ).alias("key")
            )
            .select(
                "a",
                (F.lit(LP_ENC - 1) - F.col("key") % F.lit(LP_ENC))
                .cast("long").alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    size = lbl.groupBy("lbl").agg(F.count("*").cast("long").alias("comm_size"))
    return (
        lbl.join(size, "lbl")
        .selectExpr(
            "CAST(a AS BIGINT) AS node",
            "CAST(lbl AS BIGINT) AS label",
            "comm_size",
        )
    )


def oracle_label_prop_sql(edges_cte: str, rounds: int = 6) -> str:
    """DuckDB mirror: `edges_cte` defines edges(src, dst); one
    MATERIALIZED label CTE per round via the identical encoded argmax."""
    enc = LP_ENC
    parts = [
        "und AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges "
        "WHERE src != dst UNION SELECT dst, src FROM edges WHERE src != dst)",
        "l0 AS (SELECT DISTINCT a, CAST(a AS BIGINT) AS lbl FROM und)",
    ]
    for i in range(rounds):
        parts.append(
            f"l{i + 1} AS MATERIALIZED (SELECT a, "
            f"CAST({enc - 1} - MAX(cnt * {enc} + ({enc - 1} - lbl)) "
            f"% {enc} AS BIGINT) AS lbl FROM ("
            f"SELECT v.a, v.lbl, CAST(COUNT(*) AS BIGINT) AS cnt FROM ("
            f"SELECT u.a, lb.lbl FROM und u JOIN l{i} lb ON lb.a = u.b "
            f"UNION ALL SELECT a, lbl FROM l{i}) v GROUP BY 1, 2) "
            f"GROUP BY a)"
        )
    return (
        f"WITH {edges_cte},\n" + ",\n".join(parts) + f""",
sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS comm_size
       FROM l{rounds} GROUP BY 1)
SELECT CAST(l.a AS BIGINT) AS node, CAST(l.lbl AS BIGINT) AS label,
  sz.comm_size
FROM l{rounds} l JOIN sz ON sz.lbl = l.lbl"""
    )
