"""Distributed graph ranking: fixed-iteration PageRank.

Complements the other iterative-fixpoint operators (transitive closure
in ``operators/hierarchies.py``, connected components in
``operators/dedup.py``) with the weighted-importance family — the
training-data use is domain/source ranking (rank crawl domains by link
mass, downweight link-farm sources before sampling).

Exactness contract: ranks are kept in integer micro-units (BIGINT,
``SCALE`` = 1e12 units per unit of probability mass) and every
iteration uses only integer division and integer sums, so the result
is bit-identical across engines and partitionings — the same
integral-quantization trick the k-means codebook uses
(``operators/similarity.py:_lattice``). Floating point appears only
in the final cosmetic ``rank`` column (one division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..persist import materialize, materialize_eager

#: integer units per 1.0 of rank mass; 1e12 keeps sums far below 2^63
SCALE = 10**12
#: damping factor as an integer percentage (0.85)
DAMPING_PCT = 85


#: node-table rows below which the rank/contribution tables are
#: broadcast each iteration instead of shuffle-joined, at the 64 MB
#: reference broadcast threshold (operators/_bcast.py scales it with the
#: session's threshold). (node, rank_q) is 16 bytes/row, so 10M rows is
#: a ~300 MB built hash relation — comfortably under the 8 GB /
#: 512M-row broadcast caps on production executors.
BROADCAST_NODES_DEFAULT = 10_000_000


def pagerank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration simplified PageRank over directed ``(src, dst)``
    edges: ``rank = (1-d)/N + d * Σ_in rank/deg`` (no dangling-mass
    redistribution — dangling rank damps away; documented so the
    oracle matches by construction). Output: (node, rank_q, rank).

    Scale shape (optimization guide §2.4/§3.1): the node count ``n`` is
    computed ONCE on the driver (a scalar count over the materialized
    node table — the checkpointed blocks are scanned, not the raw
    edges) and folded into the arithmetic as a literal, so the unrolled
    plan no longer recomputes the count aggregate + cross-join per
    iteration. When ``n`` is under the broadcast row cap
    (:data:`BROADCAST_NODES_DEFAULT` — rank tables are 16 bytes/row),
    every per-iteration join broadcasts the node-sized side (ranks into
    the edge join, contributions into the rank update), leaving exactly
    ONE exchange per iteration: the map-side-combined contribution
    aggregation.
    The corpus-sized edge table is never shuffled after setup. Above
    the threshold the joins fall back to shuffle joins on node keys —
    the same declarative plan as before, minus the count subtrees.

    The per-iteration contribution ``rank_q div deg`` floors away up to
    ``deg-1`` units (≤1e-12·deg of mass) — deterministic in both
    engines, and why the quantized form is exact where a double sum
    would be order-dependent.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # the caller's edge plan feeds three derivations (nodes, outdeg,
    # ed); materialize it once so an expensive upstream (join+distinct)
    # is computed a single time instead of per-derivation
    edges = materialize(edges)
    # nodes and the degree-annotated edge table appear in EVERY unrolled
    # iteration; lazy checkpoints materialize each once instead of
    # re-deriving them per round (and keep the single declarative plan
    # from growing a re-scan of the raw edges per iteration)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(materialize)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_q"),
            F.lit(0.0).alias("rank"),
        )
    spark = edges.sparkSession
    # row cap scales with the cluster's configured auto-broadcast
    # threshold (disabled threshold disables the hint too) — see
    # operators/_bcast.py
    from ._bcast import broadcast_row_cap

    bcast_cap = broadcast_row_cap(spark, BROADCAST_NODES_DEFAULT)
    small = n <= bcast_cap

    def node_sized(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ed = (
        edges.join(node_sized(outdeg), "src")
        .select("src", "dst", "deg")
        .transform(materialize)
    )

    # init: rank_q = SCALE div N (n is a driver literal; identical
    # floor division for positive operands)
    ranks = nodes.select("node", F.lit(SCALE // n).cast("long").alias("rank_q"))
    base = ((SCALE * (100 - DAMPING_PCT)) // 100) // n
    for _ in range(iters):
        contribs = (
            node_sized(ranks).join(ed, ranks.node == ed.src)
            .select(F.col("dst").alias("node"), F.expr("rank_q div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_q"))
        )
        ranks = (
            nodes.join(node_sized(contribs), "node", "left")
            .select(
                "node",
                F.expr(
                    f"{base}L + (coalesce(in_q, 0L) * {DAMPING_PCT}) div 100"
                ).alias("rank_q"),
            )
        )
    return ranks.select(
        "node", "rank_q", (F.col("rank_q") / F.lit(float(SCALE))).alias("rank")
    )


def pagerank_sql(edges_sql: str, iters: int = 3) -> str:
    """DuckDB twin of :func:`pagerank`: the fixed iteration count is
    UNROLLED into chained CTEs (standard SQL forbids aggregation inside
    a recursive CTE term, and unrolling keeps the arithmetic visibly
    identical to the Spark loop). ``edges_sql`` must select columns
    (src, dst)."""
    base = f"((CAST({SCALE} AS BIGINT) * {100 - DAMPING_PCT}) // 100) // n"
    parts = [
        f"edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nc AS (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        "ed AS (SELECT src, dst, deg FROM edges JOIN outdeg USING (src))",
        f"r0 AS (SELECT node, CAST({SCALE} AS BIGINT) // n AS rank_q FROM nodes, nc)",
    ]
    for i in range(iters):
        parts.append(
            f"""r{i + 1} AS (
  SELECT nodes.node,
         CAST({base} + (COALESCE(c.in_q, 0) * {DAMPING_PCT}) // 100 AS BIGINT) AS rank_q
  FROM nodes
  LEFT JOIN (
    SELECT dst AS node, SUM(rank_q // deg) AS in_q
    FROM r{i} JOIN ed ON r{i}.node = ed.src
    GROUP BY dst
  ) c ON nodes.node = c.node
  CROSS JOIN nc
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, rank_q, rank_q / {float(SCALE)} AS rank FROM r{iters}"
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as
    (u, v) pairs (either orientation, self-loops ignored). Output:
    (node, n_triangles) for every node in ≥1 triangle.

    The standard distributed shape: canonicalize each edge to u < v,
    then count paths u<v<w whose closing edge (u, w) exists — two
    self-joins of the canonical edge list, each triangle found exactly
    once. The node-ordering trick is what bounds the join: each edge
    joins only its higher-ordered continuations, so the path-candidate
    table is Σ_v deg⁺(v)² with deg⁺ ordered-degree (≤ √|E| after
    orientation), not Σ deg² — the same plan a dedicated graph engine
    runs, in three Catalyst joins. Triangle participation is the
    standard spam/anomaly feature over co-occurrence graphs (here:
    clustering quality of near-dup graphs, co-supply density)."""
    canon = (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
        # EAGER: three independent exchanges consume canon (the two
        # path sides shuffle by different keys, plus the closing-edge
        # join) — concurrent AQE first-touch on a lazy checkpoint would
        # recompute the upstream distinct per consumer (persist.py)
        .transform(materialize_eager)
    )
    paths = (
        canon.alias("a")
        .join(canon.alias("b"), F.col("a.v") == F.col("b.u"))
        .select(
            F.col("a.u").alias("x"), F.col("a.v").alias("y"), F.col("b.v").alias("z")
        )
    )
    tri = paths.join(
        canon.select(F.col("u").alias("x"), F.col("v").alias("z")), ["x", "z"]
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def triangle_count_sql(edges_sql: str) -> str:
    """DuckDB twin of :func:`triangle_count`; ``edges_sql`` must select
    (u, v)."""
    return f"""
WITH raw AS ({edges_sql}),
canon AS (
  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
  FROM raw WHERE least(u, v) < greatest(u, v)
),
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM canon a
  JOIN canon b ON a.v = b.u
  JOIN canon c ON c.u = a.u AND c.v = b.v
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT unnest([x, y, z]) AS node FROM tri
)
GROUP BY node
"""


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Nodes of the k-core (the maximal subgraph where every node has
    degree >= ``k``), with their core-subgraph degree — the standard
    graph-cleaning pass before community/link analysis (strip leaf
    chains and weak tendrils so PageRank/triangles run on the dense
    part).

    Iterative peeling as a Spark fixpoint, the same discipline as the
    other fixpoints here (`dedup.py:_star_components`,
    `hierarchies.py:transitive_closure`): each round is ONE map-side-
    combined degree aggregate + one semi join filtering edges whose
    endpoints survive; the round's edge set is materialized once
    (`persist.materialize`) and the loop stops when the surviving-edge
    count is stable — one count job per round, mirroring the
    connected-components loop's one-job-per-round contract. Rounds are
    bounded by ``max_iterations`` (peeling depth is the graph's
    degeneracy ordering length; 50 covers any realistic web/link
    graph — it raises rather than silently returning a non-core).

    Input edges are treated as UNDIRECTED and are symmetrized +
    dedup'd internally; self-loops are dropped (they inflate degree
    without connecting anything).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from ..persist import release

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b")).where(
                F.col("a") != F.col("b")
            )
        )
        .distinct()
    )
    e = materialize(e)
    n_edges = e.count()
    for _ in range(max_iterations):
        if n_edges == 0:
            break
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("a")
        e_next = materialize(
            e.join(keep, "a", "left_semi").join(
                keep.withColumnRenamed("a", "b"), "b", "left_semi"
            )
        )
        n_next = e_next.count()  # the round's ONE job
        release(e)
        e = e_next
        if n_next == n_edges:
            break
        n_edges = n_next
    else:
        release(e)
        raise RuntimeError(
            f"k_core did not converge within {max_iterations} rounds"
        )
    out = e.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )
    return out
