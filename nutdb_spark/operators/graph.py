"""[EXT] Link-graph centrality — exact integer-scaled PageRank.

Web-scale training pipelines rank pages/domains by link-graph
centrality (the Common Crawl quality-signal family: a page linked
from many well-linked pages is likelier to be worth keeping), and
PageRank is the canonical such score. The reference engine has no
graph operators at all (its dedup story stops at pairs); this module
adds the centrality half next to the connected-components half in
``operators/dedup.py``.

Exactness discipline: floating-point PageRank cannot hash-oracle
(iterated float sums are order-sensitive), so ranks are held as
int64 in units of 1/SCALE and every step is integer arithmetic —
``r' = (15·(SCALE div N) + 85·Σ_in (r_u div outdeg_u)) div 100``,
i.e. damping 0.85 as an exact rational. Both engines replay the
identical div/sum/div sequence, so values are bit-equal. (The spec
IS the integer recurrence; it converges to within 1/SCALE of the
float fixpoint and, like the float version, total mass drifts only
through the documented floor losses.)

Scale design: one iteration = one equi-join of the rank vector
(N rows) against the edge list + one groupBy on dst — the standard
Pregel-free DataFrame PageRank. Iterations are a FIXED count (a
literal in the plan), so the whole computation is one lazy unrolled
plan: Catalyst sees K join/agg pairs over a rank frame that never
exceeds N rows, AQE picks broadcast for the rank side when it is
small, and at 100 TB the edge list partitions on src once and is
reused by every iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12

# damping = DAMP_NUM / DAMP_DEN (0.85), applied in integer math
DAMP_NUM = 85
DAMP_DEN = 100
BASE_NUM = DAMP_DEN - DAMP_NUM  # 15


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    iters: int = 8,
    scale: int = SCALE,
    n_nodes: int | None = None,
) -> DataFrame:
    """Exact integer PageRank.

    ``edges``: (src, dst) long columns — duplicates count as parallel
    links (they add contribution twice, matching the oracle).
    ``nodes``: one ``id`` column covering every vertex (dangling
    nodes — no out-edges — contribute nothing, the classic
    "sink loses mass to the floor" simplification; with the suite's
    synthesized graphs every node has outdeg ≥ 1).

    Returns (id, rank) with rank in units of 1/scale.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    # N is part of the spec constants (base share = scale div N); a
    # 1-row count action if the caller doesn't already know it.
    n = nodes.count() if n_nodes is None else n_nodes
    base = scale // n
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # The unrolled plan reuses the edge list and node set once per
    # iteration — checkpoint both (lazy; materialized on first
    # execution) so 100 TB of edges is scanned/shuffled once, not
    # `iters` times. The GraphX discipline; at these sizes the copy is
    # node/edge-bounded, never iteration-bounded. Not persist(): a
    # cached plan outlives this call, and a later read of a re-created
    # table at the same path matches it and lists the old files.
    e = edges.join(outdeg, "src").localCheckpoint(eager=False)
    nodes = nodes.select("id").localCheckpoint(eager=False)
    ranks = nodes.select("id", F.lit(base).cast("long").alias("rank"))
    # Per iteration: ONE equi-join (edge × rank) and ONE aggregation.
    # The zero-contribution seed row unioned in per node replaces the
    # old nodes-LEFT-JOIN-contrib step (a third Exchange per
    # iteration): SUM over {contribs ∪ one 0-row per node} is the
    # same integer as COALESCE(SUM(contribs), 0) for every node —
    # valid because ``nodes`` covers every vertex (the function's
    # documented contract), so no dst introduces an id outside it.
    # 8 iterations = 16 shuffle boundaries instead of 24.
    zero = nodes.select("id", F.lit(0).cast("long").alias("c"))
    for _ in range(iters):
        contrib = e.join(ranks, e["src"] == ranks["id"]).select(
            F.col("dst").alias("id"),
            F.expr("rank div outdeg").alias("c"),
        )
        ranks = (
            contrib.unionByName(zero)
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
            .select(
                "id",
                F.expr(
                    f"({BASE_NUM} * cast({base} as bigint)"
                    f" + {DAMP_NUM} * s) div {DAMP_DEN}"
                ).alias("rank"),
            )
        )
    return ranks


def oracle_pagerank_ctes(
    edges_cte: str,
    nodes_cte: str,
    *,
    iters: int = 8,
    scale: int = SCALE,
    n_expr: str = "(SELECT COUNT(*) FROM __nodes)",
) -> tuple[str, str]:
    """The unrolled-replay CTE parts, for embedding into a larger
    WITH: returns (comma-joined parts, name of the final rank
    relation — columns (id, rank))."""
    parts = [
        f"__edges AS ({edges_cte})",
        f"__nodes AS ({nodes_cte})",
        f"__n AS (SELECT {scale} // {n_expr} AS base)",
        "__deg AS (SELECT src, COUNT(*) AS outdeg"
        " FROM __edges GROUP BY src)",
        "__e AS (SELECT e.src, e.dst, d.outdeg"
        " FROM __edges e JOIN __deg d USING (src))",
        "r0 AS (SELECT id, (SELECT base FROM __n) AS rank FROM __nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"c{i} AS (SELECT e.dst AS id,"
            f" SUM(r.rank // e.outdeg) AS s"
            f" FROM __e e JOIN r{i} r ON e.src = r.id GROUP BY e.dst)"
        )
        parts.append(
            f"r{i + 1} AS (SELECT n.id,"
            f" ({BASE_NUM} * (SELECT base FROM __n)"
            f" + {DAMP_NUM} * COALESCE(c.s, 0)) // {DAMP_DEN} AS rank"
            f" FROM __nodes n LEFT JOIN c{i} c USING (id))"
        )
    return ",\n".join(parts), f"r{iters}"


def oracle_pagerank_sql(
    edges_cte: str,
    nodes_cte: str,
    *,
    iters: int = 8,
    scale: int = SCALE,
    n_expr: str = "(SELECT COUNT(*) FROM __nodes)",
) -> str:
    """DuckDB replay: the identical integer recurrence, unrolled as
    ``iters`` chained CTEs (aggregates are not allowed in a recursive
    CTE's recursive term, so unrolling is the portable spelling).
    ``edges_cte``/``nodes_cte`` are full SELECTs producing
    (src, dst) / (id)."""
    parts, final = oracle_pagerank_ctes(
        edges_cte, nodes_cte, iters=iters, scale=scale, n_expr=n_expr
    )
    return (
        "WITH " + parts
        + f"\nSELECT id, CAST(rank AS BIGINT) AS rank FROM {final}"
    )


def triangle_count(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph of
    ``edges`` (direction, duplicates and self-loops are normalized
    away first).

    The scale move is degree orientation: each undirected edge is
    directed from its (degree, id)-smaller endpoint to the larger, so
    every triangle is generated exactly once as a<b<c in orientation
    order and — the classic bound — per-node out-degree is O(√m),
    keeping the wedge join's fan-out under control on power-law
    graphs (the naive id-orientation explodes on hubs). Two equi-joins
    total: wedges (a→b, a→c) then closure against the oriented edge
    set (b→c); no cartesian.

    Returns (id, tri) for EVERY node (0 for triangle-free ones).
    """
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    oriented = (
        und.join(deg.withColumnRenamed("id", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(
            deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(
                F.struct(F.col("v").alias("a"), F.col("u").alias("b"))
            )
            .alias("e")
        )
        .select("e.a", "e.b")
    )
    wedges = oriented.alias("x").join(
        oriented.alias("y"),
        (F.col("x.a") == F.col("y.a")) & (F.col("x.b") < F.col("y.b")),
    ).select(
        F.col("x.a").alias("a"),
        F.col("x.b").alias("b"),
        F.col("y.b").alias("c"),
    )
    tris = wedges.join(
        oriented.select(
            F.col("a").alias("b"), F.col("b").alias("c")
        ).union(
            # closure edge may be oriented either way between b and c
            oriented.select(
                F.col("b").alias("b"), F.col("a").alias("c")
            )
        ),
        ["b", "c"],
    )
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("tri"))
    )
    return nodes.join(per_node, "id", "left").select(
        "id", F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri")
    )


def oracle_triangles_sql(edges_cte: str, nodes_cte: str) -> str:
    """DuckDB replay of :func:`triangle_count` — the identical
    degree orientation and two-join enumeration."""
    return f"""WITH __edges AS ({edges_cte}),
__nodes AS ({nodes_cte}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM __edges WHERE src != dst
),
deg AS (
  SELECT id, COUNT(*) AS deg FROM (
    SELECT u AS id FROM und UNION ALL SELECT v FROM und
  ) GROUP BY id
),
o AS (
  SELECT CASE WHEN du.deg < dv.deg
              OR (du.deg = dv.deg AND und.u < und.v)
         THEN und.u ELSE und.v END AS a,
         CASE WHEN du.deg < dv.deg
              OR (du.deg = dv.deg AND und.u < und.v)
         THEN und.v ELSE und.u END AS b
  FROM und JOIN deg du ON und.u = du.id JOIN deg dv ON und.v = dv.id
),
w AS (
  SELECT x.a AS a, x.b AS b, y.b AS c
  FROM o x JOIN o y ON x.a = y.a AND x.b < y.b
),
t AS (
  SELECT w.a, w.b, w.c FROM w
  JOIN (SELECT a AS b, b AS c FROM o
        UNION ALL SELECT b, a FROM o) cl USING (b, c)
),
pn AS (
  SELECT id, COUNT(*) AS tri FROM (
    SELECT a AS id FROM t UNION ALL SELECT b FROM t
    UNION ALL SELECT c FROM t
  ) GROUP BY id
)
SELECT n.id, CAST(COALESCE(pn.tri, 0) AS BIGINT) AS tri
FROM __nodes n LEFT JOIN pn USING (id)"""


__all__ = [
    "pagerank",
    "oracle_pagerank_sql",
    "triangle_count",
    "oracle_triangles_sql",
    "SCALE",
]
