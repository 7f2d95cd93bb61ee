"""Graph analytics over the materialized KG edge tables: degree stats,
triangle counting, and fixed-point PageRank.

These run *downstream* of graph materialization (operators/graph.py) — the
analytics a KG consumer actually asks of a 10^12-document crawl graph:
"which entities are hubs", "how clustered is the acquisition network",
"rank hosts/entities by link authority". The reference has no graph stage
at all (it stops at triple CSV output), so this module is pure Spark-first
surface; node ids are kept generic (BIGINT entity ids or STRING surfaces /
hosts both work).

Scale design (the part that matters at 10^12 edges):
- every primitive is a single map-side-combinable shuffle or a join whose
  skew is *structurally* bounded (degree-ordered wedges), never an
  unbounded hub fan-out;
- triangle counting uses the degree-ordering trick (node-iterator of
  Schank & Wagner / Suri & Vassilvitskii's MR formulation): each edge is
  oriented from its lower-(degree, id) endpoint, so a node fans out only
  to higher-ranked neighbors — max out-degree O(sqrt(m)) and total wedge
  work O(m^1.5) even when a celebrity entity has 10^8 in-links;
- PageRank is EXACT integer fixed-point (no float sums): rank mass is a
  BIGINT at 1e12 scale, per-edge shares use integer floor division, so
  results are independent of partitioning / aggregation order and
  bit-identical across engines — the DuckDB oracle mirrors (pagerank_sql)
  unroll the same arithmetic per iteration, giving the driver gate a hard
  hash signal on an *iterative* algorithm (same pattern as the k-means
  oracle, operators/similarity.py);
- every materialization goes through functions/boundary.py: a
  per-iteration ``checkpoint`` cuts lineage exactly like
  operators/canonicalize.py's CC loop, keeping the plan O(1) per round
  instead of O(rounds) deep, and a loop's convergence probe (a count) is
  observed by that checkpoint's own job, never a second action; frames
  with several consumers inside one operator are ``cached`` for the
  block that reads them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from posextract_spark.functions.boundary import cached, checkpoint

#: PageRank fixed-point scale: total rank mass == PR_SCALE (1.0 ≡ 1e12).
#: Chosen so rank * damping_e6 stays < 2^63 (1e12 * 1e6 = 1e18 < 9.2e18)
#: while floor-division loss per node per iteration is < 1e-12 of mass.
PR_SCALE = 10**12


def degree_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Per-node degree profile of a directed edge list.

    Returns (node, out_degree, in_degree, out_weight, in_weight):
    *_degree counts DISTINCT neighbors in that direction; *_weight sums the
    weight column (or counts edge rows when ``weight`` is None), so
    parallel edges / multi-edge aggregates both work.

    Shape: one unionAll (cheap, no shuffle) + ONE shuffle on node with
    map-side partial aggregation. Head entities (10^8-mention celebrities)
    land on one reducer but carry only counters — AQE splits the rest.
    """
    w = F.col(weight) if weight else F.lit(1).cast("long")
    rows = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("peer"), F.lit(True).alias("is_out"), w.alias("w")
    ).unionAll(
        edges.select(
            F.col(dst).alias("node"), F.col(src).alias("peer"), F.lit(False).alias("is_out"), w.alias("w")
        )
    )
    return rows.groupBy("node").agg(
        F.countDistinct(F.when(F.col("is_out"), F.col("peer"))).cast("long").alias("out_degree"),
        F.countDistinct(F.when(~F.col("is_out"), F.col("peer"))).cast("long").alias("in_degree"),
        F.coalesce(F.sum(F.when(F.col("is_out"), F.col("w"))), F.lit(0)).alias("out_weight"),
        F.coalesce(F.sum(F.when(~F.col("is_out"), F.col("w"))), F.lit(0)).alias("in_weight"),
    )


def undirected_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonical simple undirected edge set (a < b, self-loops dropped,
    duplicates and reverse duplicates collapsed). One shuffle (distinct)."""
    return (
        edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def adjacency(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, nbr) adjacency of the undirected simple graph — every edge
    in both directions. The shared entry point of the iterative operators
    (kcore / neighbor_jaccard / label_propagation / khop_nodes), so the
    Spark-side graph definition cannot drift between them (the SQL
    mirrors share _und_adj_sql for the same reason)."""
    und = undirected_edges(edges, src, dst)
    return und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )


def _und_adj_sql(edges_rel: str, prefix: str, src: str, dst: str) -> str:
    """Shared DuckDB CTE prefix mirroring adjacency(): ``{prefix}und`` =
    canonical simple undirected edges, ``{prefix}adj`` = (node, nbr) both
    directions. MATERIALIZED — both are multi-consumed downstream."""
    return f"""
, {prefix}und AS MATERIALIZED (
    SELECT DISTINCT least({src}, {dst}) AS a, greatest({src}, {dst}) AS b
    FROM {edges_rel} WHERE {src} <> {dst}),
{prefix}adj AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM {prefix}und
  UNION ALL
  SELECT b AS node, a AS nbr FROM {prefix}und)"""


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient over
    the *undirected simple* graph of ``edges``.

    Returns (node, degree, n_triangles, clustering_e6) where clustering_e6
    = floor(2e6 * n_triangles / (degree * (degree - 1))) — integer
    fixed-point so the value is engine-exact (no float division).

    Algorithm (degree-ordered node-iterator):
    1. degree(v) over the undirected simple graph (one shuffle);
    2. orient every edge u->v iff (degree(u), u) < (degree(v), v) — a total
       order, ties broken by node id;
    3. wedges: self-join oriented edges on their source — because sources
       only point "up" the order, a hub of true degree D fans out to at most
       O(sqrt m) higher-ranked peers, so wedge volume is O(m^1.5) worst
       case, NOT O(sum deg^2);
    4. close wedges against the oriented edge set (join, no explosion);
    5. credit each triangle to its 3 corners (explode by 3, constant).

    All joins key on node ids; AQE skew-join covers residual imbalance.
    """
    und = undirected_edges(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # rank = (degree, node) as a comparable struct; orientation u -> v
    # strictly increasing in rank
    da = deg.select(F.col("node").alias("a"), F.struct("degree", "node").alias("rank_a"))
    db = deg.select(F.col("node").alias("b"), F.struct("degree", "node").alias("rank_b"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(F.col("rank_a") < F.col("rank_b"), F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(F.col("rank_a") < F.col("rank_b"), F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(F.col("rank_a") < F.col("rank_b"), F.col("rank_b")).otherwise(F.col("rank_a")).alias("rank_v"),
        )
    )
    # und is persisted first, so the oriented cache reads it
    with cached(und, oriented):
        # wedges (u; v, w) with rank_v < rank_w — each unordered pair once
        e1 = oriented.select(F.col("u"), F.col("v"), F.col("rank_v"))
        e2 = oriented.select(F.col("u"), F.col("v").alias("w"), F.col("rank_v").alias("rank_w"))
        wedges = e1.join(e2, "u").filter(F.col("rank_v") < F.col("rank_w"))
        closed = wedges.join(
            oriented.select(F.col("u").alias("v"), F.col("v").alias("w")),
            ["v", "w"],
        )
        corners = (
            closed.select(F.col("u").alias("node"))
            .unionAll(closed.select(F.col("v").alias("node")))
            .unionAll(closed.select(F.col("w").alias("node")))
        )
        tri = corners.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        out = (
            deg.join(tri, "node", "left")
            .select(
                "node",
                "degree",
                F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"),
                F.when(
                    F.col("degree") >= 2,
                    F.expr("(2000000 * coalesce(n_triangles, 0)) div (degree * (degree - 1))"),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias("clustering_e6"),
            )
        )
        # materialize before the block releases the two intermediates
        # the plan still references
        return checkpoint(out)[0]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 3,
    damping_e6: int = 850_000,
) -> DataFrame:
    """Fixed-point integer PageRank over the DISTINCT directed simple edge
    set of ``edges`` (self-loops dropped). Returns (node, rank_e12 BIGINT)
    with total mass PR_SCALE (minus deterministic floor loss + dangling
    leak — the standard 'mass lost to dangling nodes' simplification,
    acceptable for ranking and exactly mirrored by the oracle).

    Per iteration (all integer arithmetic, engine-exact):
        share(u->·) = (rank(u) * damping_e6) div (1_000_000 * out_deg(u))
        rank'(v)    = teleport + sum over in-neighbors u of share(u)
        teleport    = ((1_000_000 - damping_e6) * PR_SCALE) div (1_000_000 * N)

    This is pagerank_weighted() with unit weights on the distinct edges:
    there out_w(u) = out_deg(u), and its two-step share
    ((r * d) div 10^6 * 1) div out_deg equals (r * d) div (10^6 * out_deg),
    since floor(floor(x / a) / b) = floor(x / (a * b)) for integers
    x >= 0 and a, b > 0.
    """
    unit = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .withColumn("w", F.lit(1))
    )
    return pagerank_weighted(unit, weight="w", n_iters=n_iters, damping_e6=damping_e6)


# --- DuckDB oracle mirrors ---------------------------------------------------


def degree_stats_sql(edges_rel: str, src: str = "src", dst: str = "dst", weight: str | None = None) -> str:
    """SQL suffix computing degree_stats over relation ``edges_rel``
    (a CTE name or subquery). Compose after a WITH chain."""
    w = weight if weight else "1"
    return f"""
, _deg_rows AS (
  SELECT {src} AS node, {dst} AS peer, TRUE AS is_out, CAST({w} AS BIGINT) AS w FROM {edges_rel}
  UNION ALL
  SELECT {dst} AS node, {src} AS peer, FALSE AS is_out, CAST({w} AS BIGINT) AS w FROM {edges_rel}
)
SELECT node,
       CAST(count(DISTINCT CASE WHEN is_out THEN peer END) AS BIGINT) AS out_degree,
       CAST(count(DISTINCT CASE WHEN NOT is_out THEN peer END) AS BIGINT) AS in_degree,
       CAST(COALESCE(sum(CASE WHEN is_out THEN w END), 0) AS BIGINT) AS out_weight,
       CAST(COALESCE(sum(CASE WHEN NOT is_out THEN w END), 0) AS BIGINT) AS in_weight
FROM _deg_rows GROUP BY node"""


def triangle_counts_sql(edges_rel: str, src: str = "src", dst: str = "dst") -> str:
    """SQL suffix computing triangle_counts over ``edges_rel``. Mirrors the
    degree-ordered orientation exactly — (degree, node) tuple comparison is
    identical in DuckDB and Spark for BIGINT/ASCII-string node ids."""
    return f"""
, _und AS (
  SELECT DISTINCT least({src}, {dst}) AS a, greatest({src}, {dst}) AS b
  FROM {edges_rel} WHERE {src} <> {dst}
),
_deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT a AS node FROM _und UNION ALL SELECT b FROM _und)
  GROUP BY node
),
_oriented AS (
  SELECT CASE WHEN (da.degree, u.a) < (db.degree, u.b) THEN u.a ELSE u.b END AS u,
         CASE WHEN (da.degree, u.a) < (db.degree, u.b) THEN u.b ELSE u.a END AS v,
         CASE WHEN (da.degree, u.a) < (db.degree, u.b) THEN db.degree ELSE da.degree END AS dv,
         CASE WHEN (da.degree, u.a) < (db.degree, u.b) THEN u.b ELSE u.a END AS vid
  FROM _und u
  JOIN _deg da ON da.node = u.a
  JOIN _deg db ON db.node = u.b
),
_closed AS (
  SELECT e1.u, e1.v, e2.v AS w
  FROM _oriented e1
  JOIN _oriented e2 ON e2.u = e1.u AND (e1.dv, e1.vid) < (e2.dv, e2.vid)
  JOIN _oriented e3 ON e3.u = e1.v AND e3.v = e2.v
),
_tri AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT u AS node FROM _closed UNION ALL SELECT v FROM _closed
        UNION ALL SELECT w FROM _closed)
  GROUP BY node
)
SELECT d.node, d.degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN d.degree >= 2
                 THEN (2000000 * COALESCE(t.n_triangles, 0)) // (d.degree * (d.degree - 1))
                 ELSE 0 END AS BIGINT) AS clustering_e6
FROM _deg d LEFT JOIN _tri t ON t.node = d.node"""


def pagerank_sql(
    edges_rel: str,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 3,
    damping_e6: int = 850_000,
) -> str:
    """SQL suffix: unrolled fixed-point PageRank over ``edges_rel`` —
    iteration k becomes CTEs _prc{k}/_pr{k} with the same integer floor
    arithmetic as pagerank() (DuckDB // == Spark div on positive BIGINTs).
    N-dependent constants (init/teleport) are computed in-SQL from _prn so
    the oracle needs no driver-side count."""
    parts = [
        f"""
, _pre AS (
  SELECT DISTINCT {src} AS src, {dst} AS dst FROM {edges_rel} WHERE {src} <> {dst}
),
_prnodes AS (
  SELECT DISTINCT node FROM (SELECT src AS node FROM _pre UNION ALL SELECT dst FROM _pre)
),
_prn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM _prnodes),
_prout AS (SELECT src, CAST(count(*) AS BIGINT) AS outd FROM _pre GROUP BY src),
_pr0 AS (
  SELECT node, CAST({PR_SCALE} // n AS BIGINT) AS r FROM _prnodes, _prn
)"""
    ]
    for k in range(1, n_iters + 1):
        parts.append(
            f"""
, _prc{k} AS (
  SELECT e.dst AS node,
         CAST(sum((r.r * {damping_e6}) // (1000000 * o.outd)) AS BIGINT) AS inflow
  FROM _pre e JOIN _prout o ON o.src = e.src JOIN _pr{k - 1} r ON r.node = e.src
  GROUP BY e.dst
),
_pr{k} AS (
  SELECT n.node,
         CAST(((1000000 - {damping_e6}) * {PR_SCALE}) // (1000000 * (SELECT n FROM _prn))
              + COALESCE(c.inflow, 0) AS BIGINT) AS r
  FROM _prnodes n LEFT JOIN _prc{k} c ON c.node = n.node
)"""
        )
    parts.append(f"\nSELECT node, r AS rank_e12 FROM _pr{n_iters}")
    return "".join(parts)


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """The k-core of the undirected simple graph of ``edges``: iteratively
    peel nodes of degree < k until none remain. Returns (node, core_degree)
    for surviving nodes — every core_degree >= k.

    The k-core is a UNIQUE subgraph (peeling is confluent: removal order
    cannot change the fixpoint), so running to convergence here matches the
    unrolled kcore_sql mirror exactly once the mirror's round count covers
    the peel depth — the oracle gate thereby also pins the convergence.

    Scale shape per round (the loop is driver-latency bound on small
    graphs and shuffle bound at 10^12 edges): one map-side-combinable
    degree groupBy feeding two semi-joins against the survivor node set
    (AQE broadcasts it once most of the graph peels), then a checkpoint
    that cuts lineage and observes the surviving edge count in the same
    job — the convergence probe costs no job of its own. Edge removal is
    the only mutation, so an unchanged edge count IS the fixpoint (a
    same-size subset is the same set). Rounds needed = peel depth
    (<= diameter-ish in practice, bounded by max_iter).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e, seen = checkpoint(adjacency(edges, src, dst), n=F.count(F.lit(1)))
    n_edges = seen["n"]
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        deg = e.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
        ok = deg.filter(F.col("degree") >= k).select("node")
        e, seen = checkpoint(
            e.join(ok, "node", "semi")
            .join(ok.withColumnRenamed("node", "nbr"), "nbr", "semi")
            .select("node", "nbr"),
            n=F.count(F.lit(1)),
        )
        n2 = seen["n"]
        if n2 == n_edges or n2 == 0:
            converged = True
        n_edges = n2
    if not converged:
        # a silent partial peel would REPORT non-core nodes as core
        # members (their residual degree is >= k mid-peel) — fail loudly
        # instead; peel depth can be O(n) on path graphs, so callers with
        # deep pendant chains must raise max_iter
        raise RuntimeError(
            f"kcore did not reach the peel fixpoint in max_iter={max_iter} "
            f"rounds ({n_edges} directed edges remain); raise max_iter"
        )
    return (
        e.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .filter(F.col("core_degree") >= k)
        .select("node", "core_degree")
    )


def kcore_sql(
    edges_rel: str,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 6,
) -> str:
    """SQL suffix mirroring kcore(): ``rounds`` unrolled peel rounds over
    ``edges_rel``. Must cover the graph's peel depth — if it does not, the
    mirror retains under-degree nodes and the gate hash FAILS, which is the
    desired loud signal to raise ``rounds``.

    Every round CTE is ``AS MATERIALIZED``: each `_kc{i}` is referenced
    three times by round i+1 (degree agg + both endpoint joins), so
    DuckDB's default inlining re-evaluates the whole chain ~3^rounds times
    — measured at ~6 MINUTES for rounds=8 on a 70-edge graph, vs
    milliseconds materialized. DuckDB-dialect only (like the other *_sql
    mirrors); never fed to Spark."""
    parts = [
        _und_adj_sql(edges_rel, "_kc", src, dst),
        ",\n_kc0 AS (SELECT node AS a, nbr AS b FROM _kcadj)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""
, _kcd{i} AS (SELECT a, CAST(count(*) AS BIGINT) AS degree FROM _kc{i - 1} GROUP BY a),
_kcok{i} AS MATERIALIZED (SELECT a FROM _kcd{i} WHERE degree >= {k}),
_kc{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM _kc{i - 1} e
  JOIN _kcok{i} x ON x.a = e.a
  JOIN _kcok{i} y ON y.a = e.b
)"""
        )
    parts.append(
        f"""
SELECT a AS node, CAST(count(*) AS BIGINT) AS core_degree
FROM _kc{rounds} GROUP BY a HAVING count(*) >= {k}"""
    )
    return "".join(parts)


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    min_jaccard_e6: int = 0,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Shared-neighbor Jaccard similarity between node pairs of the
    undirected simple graph — the structural entity-merge signal: two
    surface forms that are really the same entity relate to the same
    other entities, so their neighborhoods overlap even when their
    strings do not ("IBM" vs "Big Blue"). Feeds the same CC machinery as
    the string-similarity coref edges (operators/canonicalize.py).

    Returns (a, b, common, degree_a, degree_b, jaccard_e6) for unordered
    pairs a < b with at least ``min_common`` shared neighbors, where
    jaccard_e6 = floor(1e6 * common / (degree_a + degree_b - common)) —
    integer fixed-point, engine-exact, no float division.

    Scale shape: pairs are generated per *shared neighbor* (wedge
    self-join keyed on the neighbor), so total work is
    sum_n C(degree(n), 2) — quadratic in the degree of the hottest
    common neighbor, the same hub blow-up every co-occurrence join has.
    ``max_neighbor_degree`` bounds it: wedges through neighbors with
    degree > cap are dropped BEFORE the join (a degree filter, fully
    deterministic — no sampling), capping per-neighbor fan-out at
    C(cap, 2). That is simultaneously the skew guard and an
    Adamic-Adar-style quality heuristic: a neighbor shared with 10^6
    others ("said", a celebrity hub) carries no merge signal, exactly
    like an idf stop-word. With the cap, ``common`` (and so jaccard) is
    a documented LOWER BOUND — degrees in the denominator stay the true
    full degrees. Remaining shuffles: distinct, one degree groupBy, the
    wedge join (keyed on neighbor id, AQE skew-split), one pair groupBy,
    two degree joins keyed on pair endpoints.
    """
    adj = adjacency(edges, src, dst)
    with cached(adj):
        deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
        wedge_src = adj
        if max_neighbor_degree is not None:
            hot = deg.filter(F.col("degree") > max_neighbor_degree).select(
                F.col("node").alias("nbr")
            )
            wedge_src = adj.join(hot, "nbr", "anti")
        left = wedge_src.select(F.col("nbr"), F.col("node").alias("a"))
        right = wedge_src.select(F.col("nbr"), F.col("node").alias("b"))
        common = (
            left.join(right, "nbr")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("common"))
            .filter(F.col("common") >= min_common)
        )
        out = (
            common.join(deg.select(F.col("node").alias("a"), F.col("degree").alias("degree_a")), "a")
            .join(deg.select(F.col("node").alias("b"), F.col("degree").alias("degree_b")), "b")
            .withColumn(
                "jaccard_e6",
                # integer div, NOT `/` + floor: Spark `/` on longs is
                # double division, which can floor differently from exact
                # integer division past 2^53 (same rule as triangle_counts
                # / pagerank — the mirror uses DuckDB `//`)
                F.expr(
                    "(1000000 * common) div (degree_a + degree_b - common)"
                ).cast("long"),
            )
            .filter(F.col("jaccard_e6") >= min_jaccard_e6)
            .select("a", "b", "common", "degree_a", "degree_b", "jaccard_e6")
        )
        # materialize before the block releases the adjacency the plan
        # still references three times (same lifecycle as triangle_counts)
        return checkpoint(out)[0]


def neighbor_jaccard_sql(
    edges_rel: str,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    min_jaccard_e6: int = 0,
    max_neighbor_degree: int | None = None,
) -> str:
    """SQL suffix mirroring neighbor_jaccard() (DuckDB dialect; adjacency
    and degree CTEs MATERIALIZED — each is consumed 2-3 times)."""
    hot_filter = (
        f"JOIN _njd d ON d.node = adj.nbr AND d.degree <= {max_neighbor_degree}"
        if max_neighbor_degree is not None
        else ""
    )
    return _und_adj_sql(edges_rel, "_nj", src, dst) + f""",
_njd AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM _njadj GROUP BY node),
_njw AS MATERIALIZED (
  SELECT adj.nbr, adj.node FROM _njadj adj {hot_filter}),
_njc AS (
  SELECT l.node AS a, r.node AS b, CAST(count(*) AS BIGINT) AS common
  FROM _njw l JOIN _njw r ON l.nbr = r.nbr AND l.node < r.node
  GROUP BY l.node, r.node
  HAVING count(*) >= {min_common})
SELECT c.a, c.b, c.common, da.degree AS degree_a, db.degree AS degree_b,
       CAST((1000000 * c.common) // (da.degree + db.degree - c.common) AS BIGINT) AS jaccard_e6
FROM _njc c
JOIN _njd da ON da.node = c.a
JOIN _njd db ON db.node = c.b
WHERE (1000000 * c.common) // (da.degree + db.degree - c.common) >= {min_jaccard_e6}"""


def label_propagation(
    edges: DataFrame,
    n_iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection over the
    undirected simple graph: every node starts as its own label; each
    round, every node adopts the most frequent label among its neighbors,
    ties broken by MINIMUM label. Returns (node, label) after exactly
    ``n_iters`` rounds.

    Fully deterministic by construction — the classic LPA tie-coin-flip
    and asynchronous-order dependence are both removed (sync rounds +
    min-label ties), and the round count is FIXED, not run-to-quiescence:
    synchronous LPA can 2-cycle (a star oscillates hub<->leaf labels), so
    a convergence loop would never terminate on those graphs and, worse,
    would not be mirrorable. Fixed rounds make the result a pure function
    of (edges, n_iters) that label_propagation_sql unrolls round-by-round
    — the oracle gate hashes an *iterative community algorithm* exactly
    (same pattern as pagerank/kcore).

    Scale shape per round: one join keyed on the neighbor id (labels
    frame against adjacency — AQE skew-splits hub fan-in) + one
    map-side-combinable (node, label) count + one struct-min agg per
    node; a checkpoint per round keeps the plan O(1) deep. Labels are
    node ids (works for BIGINT entity ids and STRING surfaces alike).
    """
    adj, _ = checkpoint(adjacency(edges, src, dst))
    labels = adj.select("node").distinct().withColumn("label", F.col("node"))
    for _ in range(n_iters):
        nbr_labels = adj.join(
            labels.select(F.col("node").alias("nbr"), F.col("label")), "nbr"
        ).select("node", "label")
        counts = nbr_labels.groupBy("node", "label").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        labels, _ = checkpoint(
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("negc"), F.col("label").alias("l"))
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("label"))
        )
    return labels


def label_propagation_sql(
    edges_rel: str,
    n_iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> str:
    """SQL suffix mirroring label_propagation(): ``n_iters`` unrolled
    sync rounds (DuckDB dialect; window tie-break — mirror only, the
    Spark side stays Window-free; per-round CTEs MATERIALIZED against
    exponential re-inlining, see kcore_sql)."""
    parts = [
        _und_adj_sql(edges_rel, "_lp", src, dst),
        """,
_lp0 AS MATERIALIZED (
  SELECT DISTINCT node, node AS label FROM _lpadj)""",
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""
, _lpc{i} AS (
  SELECT adj.node, l.label, count(*) AS c
  FROM _lpadj adj JOIN _lp{i - 1} l ON l.node = adj.nbr
  GROUP BY adj.node, l.label),
_lp{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM _lpc{i}) WHERE rn = 1)"""
        )
    parts.append(f"\nSELECT node, label FROM _lp{n_iters}")
    return "".join(parts)


def pagerank_weighted(
    edges: DataFrame,
    weight: str = "weight",
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 3,
    damping_e6: int = 850_000,
) -> DataFrame:
    """Weight-proportional fixed-point integer PageRank: each source
    spreads its rank over out-edges proportionally to edge weight (link
    multiplicity from host_graph / kg edge weights), not uniformly.
    Parallel input rows are first aggregated to (src, dst, sum weight);
    self-loops dropped. Returns (node, rank_e12 BIGINT).

    Integer arithmetic per iteration (engine-exact, mirrored by
    pagerank_weighted_sql — note the FIXED two-step floor order, which is
    part of the contract):
        base(u)    = (rank(u) * damping_e6) div 1_000_000        [<= PR_SCALE]
        contrib(u->v) = (base(u) * w(u,v)) div out_w(u)
        rank'(v)   = teleport + sum contrib(u->v)

    Overflow bound: base * w must stay < 2^63, i.e. per-edge weight below
    ~9e6 at PR_SCALE=1e12 (a single host pair with >9M links). For
    heavier multiplicities pre-bucket the weights (e.g. log-scale or
    divide the whole src group by its gcd) — rank is scale-free per
    source, so any per-src common factor is a no-op.

    Scale shape per iteration: one join ranks⋈edges on src (ranks is
    node-sized, edges corpus-sized — sort-merge or AQE-broadcast when ranks
    is small), one map-side-combinable groupBy(dst), one node-sized left
    join for teleport. The edges⋈out-weight join is loop-invariant and
    materialized once; a checkpoint per round cuts lineage. Hot dst
    nodes (celebrity entities) receive many shares but aggregate to one
    BIGINT — partial aggregation absorbs the skew. The only driver-side
    scalar is N = node count, observed by the node set's checkpoint.
    """
    e = (
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    with cached(e):
        nodes, seen = checkpoint(
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .distinct(),
            n=F.count(F.lit(1)),
        )
        n = seen["n"]
        if n == 0:
            return nodes.select("node", F.lit(0).cast("long").alias("rank_e12"))
        init = PR_SCALE // n
        teleport = ((1_000_000 - damping_e6) * PR_SCALE) // (1_000_000 * n)
        outw = e.groupBy("src").agg(F.sum("w").cast("long").alias("outw"))
        # the edges-with-out-weight frame is loop-invariant: materialize it
        # once, so the ranks join below is the only per-round join
        eo, _ = checkpoint(e.join(outw, "src"))

        ranks = nodes.select("node", F.lit(init).cast("long").alias("r"))
        for _ in range(n_iters):
            inflow = (
                eo.join(ranks.withColumnRenamed("node", "src"), "src")
                .select(
                    F.col("dst").alias("node"),
                    F.expr(
                        f"(((r * {damping_e6}) div 1000000) * w) div outw"
                    ).alias("share"),
                )
                .groupBy("node")
                .agg(F.sum("share").alias("inflow"))
            )
            ranks, _ = checkpoint(
                nodes.join(inflow, "node", "left").select(
                    "node",
                    (
                        F.lit(teleport).cast("long")
                        + F.coalesce(F.col("inflow"), F.lit(0))
                    ).alias("r"),
                )
            )
        return ranks.select("node", F.col("r").alias("rank_e12"))


def pagerank_weighted_sql(
    edges_rel: str,
    weight: str = "weight",
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 3,
    damping_e6: int = 850_000,
) -> str:
    """SQL suffix mirroring pagerank_weighted() — same two-step floor
    order per contribution (DuckDB // == Spark div on positive BIGINTs)."""
    parts = [
        f"""
, _pwe AS MATERIALIZED (
  SELECT {src} AS src, {dst} AS dst, CAST(sum({weight}) AS BIGINT) AS w
  FROM {edges_rel} WHERE {src} <> {dst} GROUP BY {src}, {dst}
),
_pwnodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (SELECT src AS node FROM _pwe UNION ALL SELECT dst FROM _pwe)
),
_pwn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM _pwnodes),
_pwout AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM _pwe GROUP BY src),
_pw0 AS (
  SELECT node, CAST({PR_SCALE} // n AS BIGINT) AS r FROM _pwnodes, _pwn
)"""
    ]
    for k in range(1, n_iters + 1):
        parts.append(
            f"""
, _pwc{k} AS (
  SELECT e.dst AS node,
         CAST(sum((((r.r * {damping_e6}) // 1000000) * e.w) // o.outw) AS BIGINT) AS inflow
  FROM _pwe e JOIN _pwout o ON o.src = e.src JOIN _pw{k - 1} r ON r.node = e.src
  GROUP BY e.dst
),
_pw{k} AS MATERIALIZED (
  SELECT n.node,
         CAST(((1000000 - {damping_e6}) * {PR_SCALE}) // (1000000 * (SELECT n FROM _pwn))
              + COALESCE(c.inflow, 0) AS BIGINT) AS r
  FROM _pwnodes n LEFT JOIN _pwc{k} c ON c.node = n.node
)"""
        )
    parts.append(f"\nSELECT node, r AS rank_e12 FROM _pw{n_iters}")
    return "".join(parts)


def khop_nodes(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """BFS distance from a seed set over the undirected simple graph:
    returns (node, hop BIGINT) for every node within ``k`` hops of any
    seed (hop = minimum distance, seeds themselves at 0). The ego-network
    primitive a KG consumer actually runs — "everything within 2 hops of
    these entities" — and the node set to semi-join the edge table
    against for subgraph extraction. Seeds outside the graph are kept at
    hop 0 (they are part of the requested ego set).

    ``seeds``: one-column DataFrame of node ids (any column name).

    Scale shape per round: one join of the FRONTIER (only the newest
    layer, not the whole visited set) against the adjacency — frontier
    size is bounded by the layer, so later rounds don't rescan earlier
    layers; one distinct; one anti-join against visited. A checkpoint per
    round, whose job also counts the new layer: exactly k rounds, with an
    early exit when a frontier drains.
    """
    adj, _ = checkpoint(adjacency(edges, src, dst))
    seed_col = seeds.columns[0]
    visited, _ = checkpoint(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0).cast("long"))
    )
    frontier = visited.select("node")
    for i in range(1, k + 1):
        nxt, seen = checkpoint(
            adj.join(frontier, "node")
            .select(F.col("nbr").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "anti"),
            n=F.count(F.lit(1)),
        )
        if seen["n"] == 0:
            break
        visited, _ = checkpoint(
            visited.unionAll(nxt.withColumn("hop", F.lit(i).cast("long")))
        )
        frontier = nxt
    return visited


def khop_sql(
    edges_rel: str,
    seeds_sql: str,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> str:
    """SQL suffix mirroring khop_nodes(): ``k`` unrolled BFS layers.
    ``seeds_sql`` is a SELECT yielding one column named node (DuckDB
    dialect; layer CTEs MATERIALIZED, see kcore_sql)."""
    parts = [
        _und_adj_sql(edges_rel, "_kh", src, dst),
        f""",
_khd0 AS MATERIALIZED (
  SELECT DISTINCT node, CAST(0 AS BIGINT) AS hop FROM ({seeds_sql})),
_khf0 AS MATERIALIZED (SELECT node FROM _khd0)""",
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""
, _khn{i} AS MATERIALIZED (
  SELECT DISTINCT adj.nbr AS node
  FROM _khadj adj JOIN _khf{i - 1} f ON f.node = adj.node
  WHERE adj.nbr NOT IN (SELECT node FROM _khd{i - 1})),
_khd{i} AS MATERIALIZED (
  SELECT node, hop FROM _khd{i - 1}
  UNION ALL
  SELECT node, CAST({i} AS BIGINT) AS hop FROM _khn{i}),
_khf{i} AS MATERIALIZED (SELECT node FROM _khn{i})"""
        )
    parts.append(f"\nSELECT node, hop FROM _khd{k}")
    return "".join(parts)


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 8,
) -> DataFrame:
    """(src, dst, depth BIGINT) — all pairs reachable over the DIRECTED
    edge set within ``max_depth`` hops, labeled with the MINIMUM hop
    count. The taxonomy/hierarchy primitive a KG consumer runs after
    materialization ("everything transitively part-of / located-in X"),
    and the ancestor table that type-inheritance joins against.

    Algorithm: path doubling. R_0 = the distinct 1-hop edges; each round
    R' = min-depth-group(R ∪ (R ⋈ R on mid node)). After r rounds R holds
    every pair whose shortest directed path is ≤ 2^r, labeled with its
    exact min depth (subpaths of shortest paths are shortest paths, so
    splitting any shortest path of length L ≤ 2^(r+1) at its midpoint
    finds both halves already in R_r). ceil(log2(max_depth)) rounds
    suffice — O(log d) shuffles instead of the naive frontier loop's O(d);
    at crawl scale (d can be ~30 for deep category chains) that is 5
    rounds, not 30.

    Scale shape per round: one self-join shuffled on the mid node + one
    min groupBy (map-side combinable), depth capped at ``max_depth`` so
    intermediate pairs never exceed the final output's reach;
    a checkpoint cuts lineage per round and observes the pair count in the
    same job, so the loop early-exits once the pair set stops growing
    without a probe job. Cycle-safe: reflexive pairs are
    dropped and min-depth grouping keeps cyclic graphs finite. Hub-skew
    warning: closure output is inherently quadratic in a hub's
    descendant set — run it on a single hierarchical predicate's edge
    set (the intended use), not the full predicate-mixed graph.
    """
    if max_depth < 1:
        raise ValueError(f"transitive_closure: max_depth must be >= 1, got {max_depth}")
    rounds = max(1, (max_depth - 1).bit_length())  # ceil(log2(max_depth))
    r, seen = checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("depth", F.lit(1).cast("long")),
        n=F.count(F.lit(1)),
    )
    n_pairs = seen["n"]
    for _ in range(rounds):
        joined = (
            r.alias("l")
            .join(r.alias("r"), F.col("l.dst") == F.col("r.src"))
            .select(
                F.col("l.src").alias("src"),
                F.col("r.dst").alias("dst"),
                (F.col("l.depth") + F.col("r.depth")).alias("depth"),
            )
            .filter(
                (F.col("src") != F.col("dst"))
                & (F.col("depth") <= F.lit(max_depth))
            )
        )
        r, seen = checkpoint(
            r.unionAll(joined)
            .groupBy("src", "dst")
            .agg(F.min("depth").cast("long").alias("depth")),
            n=F.count(F.lit(1)),
        )
        new_n = seen["n"]
        if new_n == n_pairs:
            # Sound early exit: every present pair always carries its
            # exact min depth (presence at round r means a path within
            # the round's cap exists, and doubling min-groups over all
            # such paths), and a stable pair set means no pair has min
            # depth in (2^r, 2^(r+1)] — but a pair at any deeper d would
            # imply, via shortest-path prefixes, pairs at EVERY depth
            # 1..d including that empty band. So nothing remains.
            break
        n_pairs = new_n
    return r


def transitive_closure_sql(
    edges_rel: str,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 8,
) -> str:
    """SQL suffix mirroring transitive_closure() (DuckDB dialect).

    Independent formulation: LINEAR one-edge-at-a-time extension, one
    materialized CTE per depth level (min-grouped each level, so no path
    enumeration blow-up on cyclic inputs), vs the Spark side's path
    doubling — a genuinely different recurrence that must land on the
    same fixpoint. No WITH RECURSIVE: the contract assembler prepends a
    plain WITH (SVO_TRIPLES_CTE), and level-k min depths are exact by
    induction (a shortest path of length k is a shortest path of length
    k-1 plus one edge)."""
    return (
        _transitive_closure_ctes(edges_rel, src, dst, max_depth)
        + f"\nSELECT src, dst, CAST(depth AS BIGINT) AS depth FROM _tcd{max_depth}"
    )


def _transitive_closure_ctes(
    edges_rel: str, src: str, dst: str, max_depth: int
) -> str:
    """CTE suffix ending with _tcd{max_depth} (src, dst, depth) — shared by
    the closure and cycle-detection mirrors."""
    if max_depth < 1:
        raise ValueError(f"transitive closure mirrors need max_depth >= 1, got {max_depth}")
    parts = [
        f"""
, _tce AS MATERIALIZED (
  SELECT DISTINCT {src} AS src, {dst} AS dst FROM {edges_rel}
  WHERE {src} <> {dst}),
_tcd1 AS MATERIALIZED (SELECT src, dst, 1 AS depth FROM _tce)"""
    ]
    for k in range(2, max_depth + 1):
        parts.append(
            f"""
, _tcd{k} AS MATERIALIZED (
  SELECT src, dst, min(depth) AS depth FROM (
    SELECT src, dst, depth FROM _tcd{k - 1}
    UNION ALL
    SELECT p.src, e.dst, p.depth + 1
    FROM _tcd{k - 1} p JOIN _tce e ON p.dst = e.src
    WHERE p.src <> e.dst)
  GROUP BY src, dst)"""
        )
    return "".join(parts)


def cycle_nodes(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 8,
) -> DataFrame:
    """(node, min_cycle_len BIGINT) — every node on a directed cycle whose
    two arcs each fit in ``max_depth`` hops, with the length of the
    shortest cycle through it. THE taxonomy-validation query: a cycle in
    an is-a / part-of hierarchy is a data defect ("A part-of B part-of A")
    that breaks every downstream inheritance join, and the min cycle
    length tells the curator whether it's a direct contradiction (2) or a
    long drift chain. Built on transitive_closure: node n is cyclic iff
    some m has n->m and m->n; min cycle = min over m of d(n,m) + d(m,n).
    Cost: the closure plus ONE self-join on (src=dst, dst=src) pairs and
    a min groupBy."""
    tc = transitive_closure(edges, src, dst, max_depth)
    fwd = tc.alias("f")
    rev = tc.alias("r")
    return (
        fwd.join(
            rev,
            (F.col("f.src") == F.col("r.dst")) & (F.col("f.dst") == F.col("r.src")),
        )
        .select(
            F.col("f.src").alias("node"),
            (F.col("f.depth") + F.col("r.depth")).alias("_len"),
        )
        .groupBy("node")
        .agg(F.min("_len").cast("long").alias("min_cycle_len"))
    )


def cycle_nodes_sql(
    edges_rel: str,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 8,
) -> str:
    """SQL suffix mirroring cycle_nodes(): the unrolled closure's final
    level self-joined both ways."""
    return (
        _transitive_closure_ctes(edges_rel, src, dst, max_depth)
        + f"""
SELECT f.src AS node, CAST(min(f.depth + r.depth) AS BIGINT) AS min_cycle_len
FROM _tcd{max_depth} f JOIN _tcd{max_depth} r ON f.src = r.dst AND f.dst = r.src
GROUP BY f.src"""
    )


def node_features(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    pr_iters: int = 3,
) -> DataFrame:
    """(node, out_degree, in_degree, und_degree, n_triangles,
    clustering_e6, rank_e12) — the assembled per-node feature table a GNN
    / node-embedding training job consumes, composing the three analytics
    this module already verifies (degree_stats, triangle_counts,
    pagerank) from ONE shared edge frame.

    Node universe = degree_stats' (every endpoint of any edge, self-loops
    included); the other two exclude structurally-degenerate nodes
    (triangles: no non-self-loop undirected edge; pagerank: self-loop-only)
    and their features coalesce to 0 — a documented encoding ("no triangle
    neighborhood" / "outside the rank graph"), not a silent null.

    Scale shape: the edge frame is checkpointed once and fanned into
    the three aggregations; the final assembly is two left joins on the
    node key (each side already node-unique, no fan-out). rank_e12 rides
    pagerank's integer fixed-point, so the whole table stays engine-exact.
    """
    e, _ = checkpoint(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    deg = degree_stats(e)
    tri = triangle_counts(e).select(
        "node",
        F.col("degree").alias("und_degree"),
        "n_triangles",
        "clustering_e6",
    )
    pr = pagerank(e, n_iters=pr_iters)
    return (
        deg.select("node", "out_degree", "in_degree")
        .join(tri, "node", "left")
        .join(pr, "node", "left")
        .select(
            "node",
            "out_degree",
            "in_degree",
            F.coalesce("und_degree", F.lit(0)).cast("long").alias("und_degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.coalesce("clustering_e6", F.lit(0)).cast("long").alias("clustering_e6"),
            F.coalesce("rank_e12", F.lit(0)).cast("long").alias("rank_e12"),
        )
    )


def node_features_sql(
    edges_rel: str,
    src: str = "src",
    dst: str = "dst",
    pr_iters: int = 3,
) -> str:
    """SQL suffix mirroring node_features(): each component's standalone
    mirror embedded as a nested-WITH CTE over the same relation (the
    component builders emit comma-prefixed suffixes, so each nests behind
    its own dummy opener; nested WITH scopes keep their CTE names local)."""
    d = "WITH _nf_dummy AS (SELECT 1)"
    return f"""
, _nfd AS ({d}{degree_stats_sql(edges_rel, src, dst)}),
_nft AS ({d}{triangle_counts_sql(edges_rel, src, dst)}),
_nfp AS ({d}{pagerank_sql(edges_rel, src=src, dst=dst, n_iters=pr_iters)})
SELECT d.node, d.out_degree, d.in_degree,
       CAST(coalesce(t.degree, 0) AS BIGINT) AS und_degree,
       CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(coalesce(t.clustering_e6, 0) AS BIGINT) AS clustering_e6,
       CAST(coalesce(p.rank_e12, 0) AS BIGINT) AS rank_e12
FROM _nfd d
LEFT JOIN _nft t ON t.node = d.node
LEFT JOIN _nfp p ON p.node = d.node"""


def relation_metapaths(
    edges: DataFrame,
    src: str = "src",
    pred: str = "predicate",
    dst: str = "dst",
    max_mid_fanout: int | None = None,
    min_support: int = 1,
) -> DataFrame:
    """2-hop relation-pattern mining: for every ordered predicate pair
    (pred_a, pred_b), count path instances s -pred_a-> m -pred_b-> o with
    o != s (no immediate backtracking), over the DISTINCT (s, p, o) edge
    set. Output: pred_a, pred_b, n_paths, n_pairs (distinct (s, o)
    endpoint pairs — n_paths >> n_pairs means the pattern is carried by
    few entity pairs via many mids).

    The schema-level signal a KG consumer mines for rule induction /
    link prediction ("X acquired M, M owned O" => candidate 'controls'
    edge).

    Scale shape: ONE self-join shuffled on the mid node. The join
    fan-out at mid m is in_deg(m) * out_deg(m) — a celebrity entity with
    10^8 in-links and 10^5 out-links would alone emit 10^13 rows, so
    ``max_mid_fanout`` drops paths THROUGH such hubs (m may still be an
    endpoint) with a deterministic degree predicate, the same
    contract-stable policy as neighbor_jaccard's max_neighbor_degree:
    membership depends only on the graph, never on partitioning. The
    degree frame is one extra map-side-combined shuffle; under the cap
    the surviving fan-out is <= cap per mid, AQE splits what remains.
    """
    e = edges.select(
        F.col(src).alias("s"), F.col(pred).alias("p"), F.col(dst).alias("d")
    ).distinct()
    if max_mid_fanout is not None:
        deg = (
            e.select(F.col("d").alias("node"), F.lit(1).alias("is_in"))
            .unionAll(e.select(F.col("s").alias("node"), F.lit(0).alias("is_in")))
            .groupBy("node")
            .agg(
                F.sum("is_in").cast("long").alias("in_deg"),
                F.sum(1 - F.col("is_in")).cast("long").alias("out_deg"),
            )
        )
        ok_mid = deg.filter(
            F.col("in_deg") * F.col("out_deg") <= F.lit(max_mid_fanout)
        ).select(F.col("node").alias("d"))
        e1 = e.join(ok_mid, "d", "semi")
    else:
        e1 = e
    e2 = e.select(
        F.col("s").alias("m"), F.col("p").alias("p2"), F.col("d").alias("o")
    )
    paths = e1.join(e2, e1["d"] == e2["m"]).filter(F.col("o") != F.col("s"))
    return (
        paths.groupBy(F.col("p").alias("pred_a"), F.col("p2").alias("pred_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paths"),
            F.countDistinct(F.col("s"), F.col("o")).cast("long").alias("n_pairs"),
        )
        .filter(F.col("n_paths") >= F.lit(min_support))
    )


def relation_metapaths_sql(
    edges_rel: str,
    src: str = "src",
    pred: str = "predicate",
    dst: str = "dst",
    max_mid_fanout: int | None = None,
    min_support: int = 1,
) -> str:
    """SQL suffix mirroring relation_metapaths() (DuckDB dialect)."""
    mid_filter = ""
    if max_mid_fanout is not None:
        mid_filter = f"""
, _mpdeg AS MATERIALIZED (
  SELECT node, CAST(sum(is_in) AS BIGINT) AS in_deg,
         CAST(sum(1 - is_in) AS BIGINT) AS out_deg
  FROM (SELECT d AS node, 1 AS is_in FROM _mpe
        UNION ALL SELECT s AS node, 0 AS is_in FROM _mpe)
  GROUP BY node),
_mpok AS MATERIALIZED (
  SELECT node FROM _mpdeg WHERE in_deg * out_deg <= {max_mid_fanout})"""
        e1 = "SELECT e.* FROM _mpe e WHERE e.d IN (SELECT node FROM _mpok)"
    else:
        e1 = "SELECT * FROM _mpe"
    return f"""
, _mpe AS MATERIALIZED (
    SELECT DISTINCT {src} AS s, {pred} AS p, {dst} AS d FROM {edges_rel}){mid_filter},
_mpe1 AS MATERIALIZED ({e1})
SELECT e1.p AS pred_a, e2.p AS pred_b,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT (e1.s, e2.d)) AS BIGINT) AS n_pairs
FROM _mpe1 e1 JOIN _mpe e2 ON e1.d = e2.s AND e2.d <> e1.s
GROUP BY e1.p, e2.p
HAVING count(*) >= {min_support}"""


def random_walks(
    edges: DataFrame,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
    max_out_degree: int | None = None,
) -> DataFrame:
    """Deterministic seeded random-walk corpus over a directed edge list —
    the sampling stage of DeepWalk/node2vec-style KG embeddings (walks are
    the "sentences" the embedding trainer consumes).

    One walk of ``walk_length`` steps starts at every distinct source node,
    ``walks_per_node`` times. The next hop from node u at step t of walk w
    is the out-neighbor v minimizing ``md5(seed|w|t|u|v)`` — a
    deterministic pseudo-random choice that is a pure function of
    (data, seed), so stage retries reproduce it and the DuckDB mirror
    (``random_walks_sql``) is engine-exact; ties on the 128-bit hash break
    by minimum v. Walks that reach a node with no out-edges simply stop
    (no padding rows). Self-loops are legal hops.

    Returns (start, walk BIGINT, step BIGINT, node) in long format — one
    row per visited position including step 0.

    Scale shape: the adjacency is deduped and checkpointed ONCE and
    re-read every step; each step is one equi-join frontier⋈adjacency on
    the current node plus a (start, walk) struct-min aggregation
    (map-side combinable, no Window). Per-step cost is
    sum(out_degree(current node)) over walkers — a celebrity hub with 10^6
    out-links costs 10^6 candidate rows per walker sitting on it, so
    ``max_out_degree`` pre-prunes hub adjacency with the shared
    deterministic hash cap (functions/capping.py: expected surviving
    width = cap, exact below it); a per-step checkpoint keeps lineage
    O(1) in walk_length.
    """
    if walk_length < 1 or walks_per_node < 1:
        raise ValueError("walk_length and walks_per_node must be >= 1")
    adj = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    if max_out_degree is not None:
        from posextract_spark.functions.capping import cap_bucket_width

        adj = cap_bucket_width(adj, ["a"], "b", max_out_degree)
    adj, _ = checkpoint(adj)

    frontier, _ = checkpoint(
        adj.select(F.col("a").alias("start"))
        .distinct()
        .select(
            "start",
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_node - 1))
            ).alias("walk"),
        )
        .select(
            "start",
            F.col("walk").cast("long").alias("walk"),
            F.lit(0).cast("long").alias("step"),
            F.col("start").alias("node"),
        )
    )
    out = frontier
    for t in range(1, walk_length + 1):
        hop_hash = F.md5(
            F.concat_ws(
                "|",
                F.lit(str(seed)),
                F.col("walk").cast("string"),
                F.lit(str(t)),
                F.col("node"),
                F.col("b"),
            )
        )
        frontier, _ = checkpoint(
            frontier.join(adj, F.col("node") == F.col("a"))
            .groupBy("start", "walk")
            .agg(
                # (h, d) unique within the group up to md5 collisions;
                # d breaks those too
                F.min(F.struct(hop_hash.alias("h"), F.col("b").alias("d"))).alias("m")
            )
            .select(
                "start",
                "walk",
                F.lit(t).cast("long").alias("step"),
                F.col("m.d").alias("node"),
            )
        )
        out = out.unionAll(frontier)
    return out


def random_walks_sql(
    edges_rel: str,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
    max_out_degree: int | None = None,
) -> str:
    """SQL suffix mirroring random_walks() (DuckDB dialect; every step CTE
    MATERIALIZED — each is read by the next step AND the final union)."""
    chain, union = _random_walks_chain(
        edges_rel, walk_length, walks_per_node, seed, src, dst, max_out_degree
    )
    return chain + "\n" + union


def _random_walks_chain(
    edges_rel: str,
    walk_length: int,
    walks_per_node: int,
    seed: int,
    src: str,
    dst: str,
    max_out_degree: int | None,
) -> tuple[str, str]:
    """(CTE chain, final union SELECT) for the walk mirror — split so
    skipgram_pairs_sql can reuse the chain with the union as a sub-CTE."""
    from posextract_spark.functions.hashing import portable_hash64_sql

    if max_out_degree is not None:
        cap_hash = portable_hash64_sql("t.b")
        adj = f"""
, _rwadj0 AS MATERIALIZED (SELECT DISTINCT {src} AS a, {dst} AS b FROM {edges_rel}),
_rwdeg AS MATERIALIZED (
  SELECT a, CAST(count(*) AS BIGINT) AS n FROM _rwadj0 GROUP BY a),
_rwadj AS MATERIALIZED (
  SELECT t.a, t.b FROM _rwadj0 t JOIN _rwdeg d USING (a)
  WHERE d.n <= {max_out_degree} OR ({cap_hash} % d.n) < {max_out_degree})"""
    else:
        adj = f"""
, _rwadj AS MATERIALIZED (SELECT DISTINCT {src} AS a, {dst} AS b FROM {edges_rel})"""
    walk_vals = ", ".join(f"({w})" for w in range(walks_per_node))
    parts = [
        adj,
        f""",
_rw0 AS MATERIALIZED (
  SELECT s.start, CAST(w.walk AS BIGINT) AS walk, CAST(0 AS BIGINT) AS step,
         s.start AS node
  FROM (SELECT DISTINCT a AS start FROM _rwadj) s
  CROSS JOIN (VALUES {walk_vals}) w(walk))""",
    ]
    for t in range(1, walk_length + 1):
        parts.append(
            f""",
_rw{t} AS MATERIALIZED (
  SELECT start, walk, CAST({t} AS BIGINT) AS step, node FROM (
    SELECT f.start, f.walk, a.b AS node,
           row_number() OVER (PARTITION BY f.start, f.walk
             ORDER BY md5(concat_ws('|', '{seed}', CAST(f.walk AS VARCHAR),
                                    '{t}', f.node, a.b)), a.b) AS rn
    FROM _rw{t - 1} f JOIN _rwadj a ON a.a = f.node) WHERE rn = 1)"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT start, walk, step, node FROM _rw{t}"
        for t in range(walk_length + 1)
    )
    return "".join(parts), union


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
    min_count: int = 1,
) -> DataFrame:
    """(center, context) co-occurrence counts over a walk corpus — the
    skip-gram training pairs a DeepWalk/word2vec embedding trainer
    consumes, with the walks as sentences.

    For every walk (start, walk) and every ordered position pair with
    ``0 < |step_ctx - step_ctr| <= window``, one (center=node_at_ctr,
    context=node_at_ctx) observation is counted; the window is symmetric,
    so each unordered position pair contributes both directions. Rows
    with fewer than ``min_count`` observations are dropped.

    Returns (center, context, n BIGINT).

    Scale shape: a self-join of the walk corpus on its (start, walk) key
    — per-key width is walk_length+1 rows, so join work is
    O(n_walks * walk_length * window), never data-quadratic — followed by
    one map-side-combinable count shuffle. No Window node.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    left = walks.select(
        F.col("start").alias("w_start"),
        F.col("walk").alias("w_walk"),
        F.col("step").alias("c_step"),
        F.col("node").alias("center"),
    )
    right = walks.select(
        F.col("start").alias("w_start"),
        F.col("walk").alias("w_walk"),
        F.col("step").alias("x_step"),
        F.col("node").alias("context"),
    )
    d = F.abs(F.col("x_step") - F.col("c_step"))
    out = (
        left.join(right, ["w_start", "w_walk"])
        .filter((d > 0) & (d <= F.lit(window)))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    if min_count > 1:
        out = out.filter(F.col("n") >= F.lit(min_count))
    return out


def skipgram_pairs_sql(
    edges_rel: str,
    window: int = 2,
    min_count: int = 1,
    walk_length: int = 4,
    walks_per_node: int = 1,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
    max_out_degree: int | None = None,
) -> str:
    """SQL suffix mirroring skipgram_pairs(random_walks(edges, ...)) —
    the walk chain is regenerated and unioned into one CTE, then
    self-joined (DuckDB dialect)."""
    chain, union = _random_walks_chain(
        edges_rel, walk_length, walks_per_node, seed, src, dst, max_out_degree
    )
    return f"""{chain},
_rw_all AS MATERIALIZED (
{union})
SELECT l.node AS center, r.node AS context, CAST(count(*) AS BIGINT) AS n
FROM _rw_all l
JOIN _rw_all r ON r.start = l.start AND r.walk = l.walk
WHERE abs(r.step - l.step) > 0 AND abs(r.step - l.step) <= {window}
GROUP BY l.node, r.node
HAVING count(*) >= {min_count}"""


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_iters: int = 6,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """Weighted single-source-set shortest paths, delta-frontier
    Bellman-Ford: (node, dist BIGINT) where dist is the minimum total
    edge weight from any seed reachable within ``max_iters`` edges
    (seeds at 0; unreachable nodes absent). DIRECTED edges; weights must
    be non-negative integers (the repo-wide exactness contract — float
    costs would make the min order-dependent only in ties, but integer
    sums keep the oracle hash exact).

    The weighted generalization of khop_nodes (hop = weight 1): the
    "cheapest evidence chain from trusted entities" query over a KG
    whose edge costs encode co-occurrence strength.

    Scale shape per round: the FRONTIER (only nodes whose dist improved
    last round, not the whole visited set) joins the edge table once;
    candidate dists min-combine per node (map-side partials); one
    left join against the current dists keeps genuine improvements.
    A checkpoint per round bounds lineage like the CC/khop loops and
    observes the improved-node count; early-exits when no dist improves.
    Rounds <= max_iters, each one shuffle on dst + one on node.
    Bellman-Ford relaxation count is bounded by the longest useful path,
    not graph size.
    """
    e, _ = checkpoint(
        edges.select(
            F.col(src).alias("_sp_s"),
            F.col(dst).alias("_sp_d"),
            F.col(weight).cast("long").alias("_sp_w"),
        )
    )
    seed_col = seeds.columns[0]
    dists, _ = checkpoint(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    frontier = dists
    for _ in range(max_iters):
        cand = (
            e.join(frontier, e["_sp_s"] == frontier["node"])
            .select(F.col("_sp_d").alias("node"), (F.col("dist") + F.col("_sp_w")).alias("_cd"))
            .groupBy("node")
            .agg(F.min("_cd").alias("_cd"))
        )
        improved, seen = checkpoint(
            cand.join(dists, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("_cd") < F.col("dist")))
            .select("node", F.col("_cd").alias("dist")),
            n=F.count(F.lit(1)),
        )
        if seen["n"] == 0:
            break
        dists, _ = checkpoint(
            dists.join(improved.select("node"), "node", "anti").unionAll(improved)
        )
        frontier = improved
    return dists


def shortest_paths_sql(
    edges_rel: str,
    seeds_sql: str,
    max_iters: int = 6,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> str:
    """SQL suffix mirroring shortest_paths(): ``max_iters`` unrolled
    relaxation levels, each one level-t dist table = min-combine of
    level-(t-1) dists with all one-edge extensions of them. Unrolling
    relaxes from ALL current dists each level (not the delta frontier) —
    same fixpoint, simpler SQL; exact because min is idempotent."""
    parts = [
        f"""
, _spe AS MATERIALIZED (
  SELECT {src} AS s, {dst} AS d, CAST({weight} AS BIGINT) AS w FROM {edges_rel}),
_spd0 AS MATERIALIZED (
  SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM ({seeds_sql}))"""
    ]
    for t in range(1, max_iters + 1):
        parts.append(
            f"""
, _spd{t} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM _spd{t - 1}
    UNION ALL
    SELECT e.d AS node, p.dist + e.w AS dist
    FROM _spd{t - 1} p JOIN _spe e ON e.s = p.node
  ) GROUP BY node)"""
        )
    parts.append(f"\nSELECT node, dist FROM _spd{max_iters}")
    return "".join(parts)


# --- approximate neighborhood function (ANF / Palmer et al., KDD 2002) -------

ANF_CAP = 40


def _anf_constants(n_masks: int) -> list[int]:
    """Integer e6 literals for est = 2^(sum_r / m) / 0.77351, split as
    2^q * C[rem]: C[r] = floor(2^(r/m) * 1e6 / 0.77351). Computed at
    CODE-GEN time in python and embedded identically in both engines —
    no runtime transcendental anywhere."""
    return [int((2.0 ** (r / n_masks)) * 1e6 / 0.77351) for r in range(n_masks)]


def neighborhood_function(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_hops: int = 3,
    n_masks: int = 4,
) -> DataFrame:
    """(node, sum_r, est_e6) — the Approximate Neighborhood Function
    (ANF, Palmer/Gibbons/Faloutsos KDD 2002): for every node, an
    estimate of |{u : node reaches u in <= n_hops}| (self included)
    from ``n_masks`` Flajolet-Martin bitmasks. THE scale path for
    reachability profiling: exact transitive closure materializes
    O(n^2) pairs on a dense web graph, while ANF state is n_masks
    BIGINT registers per node and each hop is ONE join + ONE
    map-side-combinable bit_or groupBy (bitwise OR is idempotent and
    associative — the same register-merge trick as the Bloom build).

    Deterministic by construction: mask j of node v sets bit
    min(trailing-zeros(md5-hash(j:v)), ANF_CAP); hop h ORs each node's
    registers with its out-neighbors' — so the estimate is a pure
    function of the DATA (no rand), value-hash-checkable. Estimate:
    R_j = lowest zero bit of register j; est_e6 = 2^(sum R / m) /
    0.77351 decomposed as shiftleft(1, sum_r div m) * C[sum_r mod m]
    with the m constants embedded as integer literals (_anf_constants).
    Expected relative error ~ 0.78/sqrt(m).

    Iteration discipline: a checkpoint per hop (lineage cut), bounded
    hops, same as pagerank/kcore."""
    from posextract_spark.functions.hashing import portable_hash64

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    with cached(e):
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        js = F.array(*[F.lit(j).cast("int") for j in range(n_masks)])
        withj = nodes.select("node", F.explode(js).alias("j"))
        h = portable_hash64(
            F.concat_ws(":", F.col("j").cast("string"), F.col("node"))
        )
        rho = F.when(h == 0, F.lit(ANF_CAP)).otherwise(
            F.least(F.length(F.bin(h.bitwiseAND(-h))) - F.lit(1), F.lit(ANF_CAP))
        )
        # shiftleft's python wrapper is literal-only: build reg via expr
        state = withj.select(
            "node", "j", rho.cast("int").alias("_rho")
        ).selectExpr("node", "j", "shiftleft(CAST(1 AS BIGINT), _rho) AS reg")
        state, _ = checkpoint(state)
        for _ in range(n_hops):
            contrib = (
                e.join(state.withColumnRenamed("node", "dst"), "dst")
                .select(F.col("src").alias("node"), "j", "reg")
            )
            state, _ = checkpoint(
                state.unionByName(contrib)
                .groupBy("node", "j")
                .agg(F.expr("bit_or(reg)").alias("reg"))
            )
        r_j = F.length(F.bin(F.expr("(~reg) & (reg + 1)"))) - F.lit(1)
        per_node = state.select("node", r_j.cast("long").alias("_r")).groupBy(
            "node"
        ).agg(F.sum("_r").cast("long").alias("sum_r"))
        consts = _anf_constants(n_masks)
        carr = F.array(*[F.lit(c).cast("long") for c in consts])
        est = (
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(sum_r div {n_masks} AS INT))")
            * F.element_at(carr, (F.col("sum_r") % n_masks).cast("int") + 1)
        )
        return per_node.select("node", "sum_r", est.cast("long").alias("est_e6"))


def neighborhood_function_sql(
    edges_rel: str,
    src: str = "src",
    dst: str = "dst",
    n_hops: int = 3,
    n_masks: int = 4,
) -> str:
    """SQL suffix: the same masks, the per-hop bit_or unrolled as CTEs,
    the same literal estimate constants."""
    h = f"(('0x' || substring(md5(j::VARCHAR || ':' || node), 1, 15))::BIGINT)"
    consts = _anf_constants(n_masks)
    clist = "[" + ", ".join(str(c) for c in consts) + "]"
    parts = [
        f"""
, _anfe AS (
  SELECT DISTINCT {src} AS src, {dst} AS dst FROM {edges_rel} WHERE {src} <> {dst}
),
_anfnodes AS (
  SELECT DISTINCT node FROM (SELECT src AS node FROM _anfe UNION ALL SELECT dst FROM _anfe)
),
_anf0 AS (
  SELECT node, j,
    CASE WHEN {h} = 0 THEN (CAST(1 AS BIGINT) << {ANF_CAP})
         ELSE (CAST(1 AS BIGINT)
               << least(length(bin({h} & -{h})) - 1, {ANF_CAP}))
    END AS reg
  FROM _anfnodes, (SELECT unnest(generate_series(0, {n_masks - 1})) AS j)
)"""
    ]
    for k in range(1, n_hops + 1):
        parts.append(
            f"""
, _anf{k} AS (
  SELECT node, j, CAST(bit_or(reg) AS BIGINT) AS reg FROM (
    SELECT node, j, reg FROM _anf{k - 1}
    UNION ALL
    SELECT e.src AS node, s.j, s.reg
    FROM _anfe e JOIN _anf{k - 1} s ON s.node = e.dst
  ) GROUP BY node, j
)"""
        )
    parts.append(
        f"""
, _anfr AS (
  SELECT node,
         CAST(sum(length(bin((~reg) & (reg + 1))) - 1) AS BIGINT) AS sum_r
  FROM _anf{n_hops} GROUP BY node
)
SELECT node, sum_r,
       CAST((CAST(1 AS BIGINT) << CAST(sum_r // {n_masks} AS INT))
            * ({clist}[CAST(sum_r % {n_masks} AS INT) + 1]) AS BIGINT) AS est_e6
FROM _anfr"""
    )
    return "".join(parts)
