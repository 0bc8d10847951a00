"""Graph analytics: PageRank power iteration and degree statistics.

Complements ``operators/dedup.py``'s connected components (the other
iterative graph primitive in this engine) with the canonical importance
ranking. The reference has no graph surface at all (SURVEY.md §2b — it is
809 lines of C/CUDA sort code); this is extension-layer breadth for the
training-data use case: link-graph importance is a standard quality signal
when curating web-scale corpora.

Exactness design — INTEGER-SCALED arithmetic end to end
-------------------------------------------------------
Float PageRank is not reproducible across engines: the per-node sum of
``rank/outdeg`` contributions depends on reduction order in IEEE doubles.
Instead every rank is a BIGINT in units of 1/SCALE (SCALE = 1e12):

- initial rank        = SCALE // n_nodes
- per-edge contribution = rank(src) // outdeg(src)          (integer div)
- damped update       = BASE + (d_num * sum(contribs)) // d_den
  with BASE = ((d_den - d_num) * SCALE) // (d_den * n_nodes)

Every operation is exact bigint arithmetic (sums are order-independent,
integer division is identical truncation in Spark's ``div`` and DuckDB's
``//`` for the non-negative values used here), so the DuckDB oracle —
generated from the SAME constants by :func:`pagerank_oracle_sql` — matches
hash-for-hash, iteration for iteration. Truncation loses at most
``outdeg`` rank-units per node per round (bounded, deterministic), which
is why total mass drifts a few units below SCALE — a documented property,
pinned by tests, not an error.

Semantics: simplified PageRank without dangling-mass redistribution — a
node with no out-edges absorbs its rank. Callers who need mass
conservation pass a symmetric (undirected) edge list, as the trade-graph
query does.

At 100 TB: the Pregel shape. ``edges ⋈ outdeg`` materializes ONCE
(checkpointed, partitioned by src); each round is one join of the
node-sized rank relation against it plus one groupBy(dst) shuffle —
O(iters) shuffles of fixed-width bigint rows, never the payload.
``localCheckpoint`` per round cuts lineage so plan depth stays constant
in the iteration count (``fixpoint.iterate``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fixpoint import iterate

SCALE = 10**12
DAMP_NUM = 85
DAMP_DEN = 100


def _bigint_edges(edges: DataFrame) -> DataFrame:
    """``edges(src, dst)`` with both columns cast to BIGINT (unpinned)."""
    return edges.select(
        F.col("src").cast("bigint").alias("src"), F.col("dst").cast("bigint").alias("dst")
    )


def _endpoints(e: DataFrame) -> DataFrame:
    """The distinct src ∪ dst node set of ``e`` as ``(node)`` (unpinned)."""
    return (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iters: int = 4,
    scale: int = SCALE,
    damp_num: int = DAMP_NUM,
    damp_den: int = DAMP_DEN,
) -> DataFrame:
    """Integer-scaled PageRank over ``edges(src, dst)`` (both BIGINT).

    Returns ``(node, rank)`` with rank in units of 1/scale. Nodes are the
    union of src and dst endpoints. ``iters`` full power-iteration rounds
    with damping ``damp_num/damp_den``.

    The two scalars the driver computes (node count → BASE and the uniform
    initial rank) are O(1)-row aggregations, same budget class as the
    convergence checksum of ``fixpoint.iterate`` — everything else stays
    distributed. The rounds run on ``iterate`` with eager pins.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not (0 < damp_num < damp_den):
        raise ValueError(f"need 0 < damp_num < damp_den, got {damp_num}/{damp_den}")

    # Pin the normalized edge list ONCE before anything consumes it.
    # Unpinned, the `nodes` checkpoint and the `edges_deg` checkpoint each
    # re-evaluated the caller's edge derivation (for the trade graph: the
    # fact join + distinct) from the scan. Memory accounting at scale: this
    # materializes the FULL normalized edge list to executor-local
    # disk/memory for the whole iteration — edge-sized but fixed-width
    # (16 B/edge), the standard Pregel working set; on a real cluster use
    # spark.cleaner + DISK_ONLY-backed checkpoints if the edge list rivals
    # executor storage.
    e = _bigint_edges(edges).localCheckpoint(eager=True)
    nodes = _endpoints(e).localCheckpoint(eager=False)
    # one O(1)-row driver scalar: the node count (feeds the two literals)
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0).cast("bigint"))
    init_rank = scale // n_nodes
    base = ((damp_den - damp_num) * scale) // (damp_den * n_nodes)

    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # materialize the (src, dst, outdeg) probe relation once; every round
    # reuses this checkpointed, already-shuffled frame
    edges_deg = e.join(outdeg, "src").localCheckpoint(eager=True)

    def step(ranks: DataFrame, _r: int) -> DataFrame:
        contribs = (
            edges_deg.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank div outdeg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        return nodes.join(contribs.withColumnRenamed("dst", "node"), "node", "left").select(
            "node",
            (F.lit(base) + F.expr(f"({damp_num} * coalesce(s, 0L)) div {damp_den}"))
            .cast("bigint")
            .alias("rank"),
        )

    ranks = nodes.withColumn("rank", F.lit(init_rank).cast("bigint"))
    return iterate(ranks, step, iters, eager=True)


def pagerank_oracle_sql(
    edges_cte: str,
    iters: int = 4,
    scale: int = SCALE,
    damp_num: int = DAMP_NUM,
    damp_den: int = DAMP_DEN,
    select: str = "SELECT node, rank FROM {last}",
) -> str:
    """Generate the DuckDB oracle for :func:`pagerank` — the same integer
    recurrence unrolled into one CTE per iteration, from the same
    constants. ``edges_cte`` must define a relation ``edges(src, dst)``;
    ``select`` formats the final statement with ``{last}`` = the last
    rank CTE's name."""
    parts = [
        edges_cte,
        "nodes AS (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst AS node FROM edges)",
        "outdeg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, CAST((SELECT {scale} // n FROM nn) AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST((SELECT ({damp_den - damp_num} * {scale}) // ({damp_den} * n) FROM nn)
              + ({damp_num} * COALESCE(c.s, 0)) // {damp_den} AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(r.rank // o.outdeg) AS BIGINT) AS s
    FROM edges e
    JOIN r{i - 1} r ON r.node = e.src
    JOIN outdeg o ON o.node = e.src
    GROUP BY e.dst) c ON c.node = n.node
)"""
        )
    return "WITH " + ",\n".join(parts) + "\n" + select.format(last=f"r{iters}")


def pagerank_reference(
    edges: list[tuple[int, int]],
    iters: int = 4,
    scale: int = SCALE,
    damp_num: int = DAMP_NUM,
    damp_den: int = DAMP_DEN,
) -> dict[int, int]:
    """Single-process reference of the exact same integer recurrence (test
    twin for :func:`pagerank`, same role as _ref_bpe in operators/bpe.py)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    if not nodes:
        return {}
    n = len(nodes)
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = ((damp_den - damp_num) * scale) // (damp_den * n)
    ranks = {v: scale // n for v in nodes}
    for _ in range(iters):
        sums = dict.fromkeys(nodes, 0)
        for s, d in edges:
            sums[d] += ranks[s] // outdeg[s]
        ranks = {v: base + (damp_num * sums[v]) // damp_den for v in nodes}
    return ranks


def degree_stats(edges: DataFrame) -> DataFrame:
    """Degree distribution of ``edges(src, dst)``: for each out-degree
    value, how many nodes have it — the Q13-style count-of-counts over the
    graph. One shuffle per aggregation level; fixed-width rows only."""
    return (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection over symmetric
    ``edges(src, dst)``: label_0(v) = v; each round every node adopts the
    MODE of its neighbors' labels, exact ties to the SMALLEST label.
    Returns (node, label) after ``iters`` rounds.

    Fully deterministic by construction (the classic async LPA is order-
    dependent; the synchronous min-tie form is a pure function of the edge
    set and round count), so every round replays exactly in the generated
    DuckDB oracle: the argmax is a struct-max on (count, -label), mirrored
    by ORDER BY count DESC, label. Labels are node ids — BIGINTs end to
    end, no float anywhere.

    At 100 TB: the same Pregel shape as :func:`pagerank` — per round ONE
    join of the node-sized label relation against the (checkpointed) edge
    list and one (dst, label) count shuffle; lineage cut per round keeps
    the plan flat (``fixpoint.iterate``, lazy pins). Community detection
    is the corpus-curation complement to connected components: components
    finds the dedup clusters, LPA finds the denser-than-chance
    neighborhoods (e.g. template families in a link graph)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = _bigint_edges(edges).localCheckpoint(eager=True)

    def step(labels: DataFrame, _r: int) -> DataFrame:
        nbr = e.join(labels.withColumnRenamed("node", "src"), "src").select("dst", "label")
        cnt = nbr.groupBy("dst", "label").agg(F.count(F.lit(1)).alias("c"))
        best = F.struct(F.col("c"), (-F.col("label")).alias("nl"), F.col("label").alias("l"))
        return (
            cnt.groupBy("dst")
            .agg(F.max(best).alias("b"))
            .select(F.col("dst").alias("node"), F.col("b.l").alias("label"))
        )

    return iterate(_endpoints(e).withColumn("label", F.col("node")), step, iters)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over a
    CANONICAL undirected edge list ``edges(a, b)`` (a < b, distinct,
    bigint). Returns ``(node, degree, triangles, clustering)`` for every
    endpoint, triangles = number of triangles the node belongs to,
    clustering = 2·T / (d·(d−1)) rounded to 9 (0.0 when d < 2).

    The scalable algorithm — DEGREE ORIENTATION (Chiba–Nishizeki /
    node-iterator++): orient every edge from its lower-(degree, id)
    endpoint to the higher one, generate wedges only from each node's
    out-edges, and close them against the oriented edge set. Every
    triangle then has exactly ONE wedge apex (its minimum node in the
    (degree, id) total order), so each triangle is produced once, and —
    the scale property — a node's out-degree is bounded by O(√m) on any
    graph, so the wedge join emits O(m^1.5) rows worst-case instead of
    the Σd² of naive adjacency self-joins: the hot-key (celebrity-node)
    problem is structurally removed rather than sampled away. All steps
    are equi-joins + grouped counts; no cross join, map-side partials
    throughout. The DuckDB oracle counts the same triangles via the
    id-ordered 3-way join (orientation-invariant, exact at test scale).
    """
    # pin the edge list ONCE: it is referenced by the degree union, the
    # orientation join and the closing join — without the checkpoint each
    # reuse would recompute the (possibly expensive) upstream projection
    # that produced the edges (measured 3× the whole query at sf0.1). The
    # materialized relation is edge-sized fixed-width bigints.
    e = edges.select(
        F.col("a").cast("bigint").alias("a"), F.col("b").cast("bigint").alias("b")
    ).localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=True)
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("__db"))
    lt = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(lt, F.col("__db")).otherwise(F.col("__da")).alias("__dd"),
        )
        .localCheckpoint(eager=True)  # reused by the wedge join AND the closer
    )
    o1 = oriented.select("src", F.col("dst").alias("v"), F.col("__dd").alias("__dv"))
    o2 = oriented.select("src", F.col("dst").alias("w"), F.col("__dd").alias("__dw"))
    # out-neighbor pair (v, w) ordered by (degree, id) == the orientation
    # of the closing edge, so one equi-join on (v, w) finishes the triangle
    wedges = (
        o1.join(o2, "src")
        .where(
            (F.col("__dv") < F.col("__dw"))
            | ((F.col("__dv") == F.col("__dw")) & (F.col("v") < F.col("w")))
        )
        .select("src", "v", "w")
    )
    tri = wedges.join(oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")), ["v", "w"])
    # r13: one pipelined 1→3 fan-out instead of a 3-way union of selections
    # from `tri` — the union form re-executed the wedge join (the O(m^1.5)
    # step) once per branch (exchange reuse covers the shuffle write, not
    # the post-shuffle join work). Same multiset of nodes, same counts.
    per_node = (
        tri.select(F.explode(F.array("src", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__t"))
    )
    joined = deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("__t"), F.lit(0)).cast("bigint").alias("triangles"),
    )
    return joined.select(
        "node",
        "degree",
        "triangles",
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.lit(2.0)
                * F.col("triangles")
                / (F.col("degree").cast("double") * (F.col("degree") - F.lit(1.0))),
                9,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def triangle_oracle_sql(
    edges_cte: str,
    select: str = "SELECT node, degree, triangles, clustering FROM result",
) -> str:
    """DuckDB oracle for :func:`triangle_counts` — triangles enumerated by
    the id-ordered 3-way self-join (each triangle once as a<b<c; the count
    is orientation-invariant, so this checks the degree-oriented Spark
    plan's OUTPUT while using the simplest exact formulation). The
    clustering expression is the identical IEEE sequence
    ``round(2.0·t / (d·(d−1.0)), 9)``. ``edges_cte`` must define
    ``edges(a, b)`` with a < b, distinct."""
    return f"""WITH {edges_cte},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
  ) GROUP BY node
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
pern AS (
  SELECT node, count(*) AS t FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
    UNION ALL SELECT z AS node FROM tri
  ) GROUP BY node
),
result AS (
  SELECT d.node, d.degree,
         CAST(COALESCE(p.t, 0) AS BIGINT) AS triangles,
         CASE WHEN d.degree >= 2
              THEN round(2.0 * COALESCE(p.t, 0)
                         / (CAST(d.degree AS DOUBLE) * (d.degree - 1.0)), 9)
              ELSE 0.0 END AS clustering
  FROM deg d LEFT JOIN pern p USING (node)
)
{select}"""


def bfs_levels(edges: DataFrame, seeds: DataFrame, max_level: int = 4) -> DataFrame:
    """Multi-source breadth-first search over directed ``edges(src, dst)``
    from ``seeds(node)``: returns ``(node, level)`` where level is the
    MINIMUM hop distance from any seed, for every node within
    ``max_level`` hops. Deterministic by construction (min distance is a
    pure function of the edge set), so the unrolled DuckDB oracle replays
    it frontier-for-frontier.

    At 100 TB: the textbook Pregel frontier loop — per round ONE equi-join
    of the frontier (shrinking/bounded, node-sized) against the edge list
    plus one distinct and one anti-join against the visited set; the
    visited relation carries fixed-width bigints only. ``localCheckpoint``
    per round keeps plan depth constant (pagerank/kmeans device). The
    frontier join partitions by src — reachability fan-out never
    re-shuffles the payload, only node ids."""
    if max_level < 1:
        raise ValueError(f"max_level must be >= 1, got {max_level}")
    e = _bigint_edges(edges).localCheckpoint(eager=True)
    frontier = (
        seeds.select(F.col("node").cast("bigint").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # only FRONTIERS are checkpointed (each is new work); the visited set
    # and the result are unions of already-materialized frontiers, so
    # re-checkpointing them every round would re-write the same rows
    # O(max_level) times for nothing
    tagged = [frontier.withColumn("level", F.lit(0).cast("bigint"))]
    visited = frontier
    for i in range(1, max_level + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = nxt.join(visited, "node", "left_anti").localCheckpoint(eager=True)
        tagged.append(frontier.withColumn("level", F.lit(i).cast("bigint")))
        visited = visited.unionByName(frontier)
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out


def bfs_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    max_level: int = 4,
    select: str = "SELECT node, level FROM {last}",
) -> str:
    """Generated DuckDB oracle for :func:`bfs_levels` — one frontier CTE +
    one visited CTE per hop, from the same constants. ``seeds_cte`` must
    define ``seeds(node)``. The visited-set exclusion is ``NOT EXISTS``
    (not ``NOT IN``): a single NULL node id in a malformed CTE would make
    NOT IN return no rows and silently empty every later frontier in the
    oracle only, whereas NOT EXISTS matches Spark's left_anti semantics
    (ADVICE r08)."""
    parts = [
        edges_cte,
        seeds_cte,
        "f0 AS (SELECT DISTINCT node FROM seeds)",
        "lv0 AS (SELECT node, CAST(0 AS BIGINT) AS level FROM f0)",
    ]
    for i in range(1, max_level + 1):
        parts.append(
            f"""f{i} AS (
  SELECT DISTINCT e.dst AS node
  FROM edges e JOIN f{i - 1} f ON f.node = e.src
  WHERE NOT EXISTS (SELECT 1 FROM lv{i - 1} v WHERE v.node = e.dst)
),
lv{i} AS (
  SELECT node, level FROM lv{i - 1}
  UNION ALL SELECT node, CAST({i} AS BIGINT) AS level FROM f{i}
)"""
        )
    return "WITH " + ",\n".join(parts) + "\n" + select.format(last=f"lv{max_level}")


def kcore(edges: DataFrame, k: int = 3, rounds: int = 4) -> DataFrame:
    """Iterative k-core peel over SYMMETRIC ``edges(src, dst)``: each round
    drops every node whose current degree is < k, then removes edges
    touching dropped nodes; after ``rounds`` peels, returns the surviving
    nodes with their within-subgraph degree ``(node, degree)``. With
    enough rounds this is exactly the k-core (the maximal subgraph of
    min-degree ≥ k); a FIXED round count keeps the computation a pure
    function of (edges, k, rounds) so the unrolled DuckDB oracle replays
    every peel. Callers pick rounds ≥ the graph's peel depth (test-scale
    convergence is pytest-pinned; pathological chains need O(n) peels —
    at scale you run until a cheap O(1)-row fixed-point check passes:
    ``fixpoint.iterate(..., fixpoint=True)``'s convergence checksum).

    At 100 TB: per round one degree aggregation plus two node-keyed
    semi-joins — fixed-width bigint relations, monotonically shrinking;
    the peels run on ``fixpoint.iterate`` with lazy pins."""
    if k < 1 or rounds < 1:
        raise ValueError(f"k >= 1 and rounds >= 1 required, got k={k}, rounds={rounds}")

    def peel(live: DataFrame, _r: int) -> DataFrame:
        # NOTE (r14, measured negative): an explicit repartition("src")
        # shared by the degree agg and the src-side semi-join was tried to
        # merge their exchanges — but AQE broadcasts `keep` at small keep
        # sizes, which makes the join side exchange-free, and the explicit
        # repartition then becomes a pure extra shuffle AQE cannot remove
        # (final plans: 2 BHJ + 1 extra Exchange). The un-hinted shape
        # lets AQE pick broadcast (small keep) or SMJ (node-scale keep).
        keep = (
            live.groupBy("src")
            .agg(F.count(F.lit(1)).alias("__d"))
            .where(F.col("__d") >= k)
            .select(F.col("src").alias("node"))
        )
        return (
            live.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )

    live = iterate(_bigint_edges(edges).localCheckpoint(eager=False), peel, rounds)
    return live.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def kcore_oracle_sql(
    sym_edges_cte: str,
    k: int = 3,
    rounds: int = 4,
    select: str = "SELECT src AS node, CAST(count(*) AS BIGINT) AS degree FROM {last} GROUP BY src",
) -> str:
    """Generated DuckDB oracle for :func:`kcore` — one (degree-filter,
    edge-filter) CTE pair per peel round. ``sym_edges_cte`` must define a
    symmetric relation ``e0(src, dst)``.

    Every per-round CTE is ``AS MATERIALIZED`` (r12): each ``e{i}`` is
    referenced TWICE by round i+1 (the degree filter and the edge filter),
    so DuckDB's default inline-if-cheap heuristic re-expanded the whole
    peel chain 2^rounds times — the measured sf0.01 oracle went >550 s
    un-hinted vs 1.5 s materialized, with identical output. Execution
    hint only; the values the driver hashes are unchanged."""
    parts = [sym_edges_cte]
    for i in range(1, rounds + 1):
        prev = f"e{i - 1}"
        parts.append(
            f"""k{i} AS MATERIALIZED (
  SELECT src AS node FROM {prev} GROUP BY src HAVING count(*) >= {k}
),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  JOIN k{i} a ON a.node = e.src
  JOIN k{i} b ON b.node = e.dst
)"""
        )
    return "WITH " + ",\n".join(parts) + "\n" + select.format(last=f"e{rounds}")


def adamic_adar(
    edges: DataFrame, hub_cap: int = 64, min_common: int = 2
) -> DataFrame:
    """Adamic–Adar link prediction over CANONICAL undirected ``edges(a, b)``
    (a < b, distinct): for every NON-edge pair (id_a, id_b) sharing
    ≥ ``min_common`` neighbors, the score Σ_u 1/ln(deg(u)) over common
    neighbors u — the classic "which links are missing" ranking, rarer
    shared neighbors weighing more.

    Scale discipline: a common neighbor of degree d emits C(d, 2) wedge
    pairs, so ONE celebrity hub would emit quadratically — wedge centers
    with degree > ``hub_cap`` are excluded (documented precision trade:
    a mega-hub's AA weight 1/ln(d) is near-zero anyway; the same hot-key
    cap as the Jaccard stop-shingle and DIMSUM basket caps). Engine
    portability: each center's weight is round(1/ln(d), 9) — the single
    rounded transcendental absorbs cross-engine libm ulps (zipf device) —
    summed exactly in DECIMAL(38,9), cast back to double.

    Everything is equi-joins + grouped sums: wedge join on the center,
    anti-join against the edge set, no cross join anywhere."""
    if hub_cap < 2 or min_common < 1:
        raise ValueError(
            f"hub_cap >= 2 and min_common >= 1 required, got {hub_cap}, {min_common}"
        )
    e = edges.select(
        F.col("a").cast("bigint").alias("a"), F.col("b").cast("bigint").alias("b")
    ).localCheckpoint(eager=True)
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("n")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("n"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("__d"))
    centers = deg.where((F.col("__d") >= 2) & (F.col("__d") <= hub_cap)).select(
        "u", F.round(F.lit(1.0) / F.log(F.col("__d").cast("double")), 9).alias("__w")
    )
    adj = sym.join(centers, "u")
    lhs = adj.select("u", F.col("n").alias("id_a"), "__w")
    rhs = adj.select("u", F.col("n").alias("id_b"))
    wedges = lhs.join(rhs, "u").where(F.col("id_a") < F.col("id_b"))
    non_edges = wedges.join(
        e.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")),
        ["id_a", "id_b"],
        "left_anti",
    )
    return (
        non_edges.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.col("__w").cast("decimal(38,9)")).alias("__s"),
        )
        .where(F.col("n_common") >= min_common)
        .select(
            "id_a", "id_b", "n_common", F.col("__s").cast("double").alias("aa_score")
        )
    )


def adamic_adar_oracle_sql(
    edges_cte: str,
    hub_cap: int = 64,
    min_common: int = 2,
    select: str = "SELECT id_a, id_b, n_common, aa_score FROM result",
) -> str:
    """DuckDB oracle for :func:`adamic_adar` — identical wedge/cap/anti-join
    construction; the per-center weight is the same single rounded
    transcendental and the sum runs in DECIMAL(38,9). ``edges_cte`` must
    define ``edges(a, b)`` with a < b, distinct."""
    return f"""WITH {edges_cte},
sym AS (
  SELECT a AS u, b AS n FROM edges UNION ALL SELECT b AS u, a AS n FROM edges
),
centers AS (
  SELECT u, round(1.0 / ln(CAST(count(*) AS DOUBLE)), 9) AS w
  FROM sym GROUP BY u HAVING count(*) >= 2 AND count(*) <= {hub_cap}
),
adj AS (SELECT s.u, s.n, c.w FROM sym s JOIN centers c ON c.u = s.u),
wedges AS (
  SELECT l.n AS id_a, r.n AS id_b, l.w
  FROM adj l JOIN adj r ON l.u = r.u AND l.n < r.n
),
non_edges AS (
  SELECT w.id_a, w.id_b, w.w FROM wedges w
  LEFT JOIN edges e ON e.a = w.id_a AND e.b = w.id_b
  WHERE e.a IS NULL
),
result AS (
  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS aa_score
  FROM non_edges GROUP BY id_a, id_b
  HAVING count(*) >= {min_common}
)
{select}"""


def lpa_oracle_sql(
    edges_cte: str,
    iters: int = 4,
    select: str = "SELECT node, label FROM {last}",
) -> str:
    """Generated DuckDB oracle for :func:`label_propagation` — one CTE per
    round, same mode/min-tie rule (ORDER BY count DESC, label)."""
    parts = [
        edges_cte,
        "l0 AS (SELECT node, node AS label FROM "
        "(SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst AS node FROM edges))",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""l{i} AS (
  SELECT node, label FROM (
    SELECT e.dst AS node, r.label, count(*) AS c,
           row_number() OVER (
             PARTITION BY e.dst ORDER BY count(*) DESC, r.label
           ) AS rn
    FROM edges e JOIN l{i - 1} r ON r.node = e.src
    GROUP BY e.dst, r.label
  ) WHERE rn = 1
)"""
        )
    return "WITH " + ",\n".join(parts) + "\n" + select.format(last=f"l{iters}")
