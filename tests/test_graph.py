"""Exact integer PageRank (operators/graph.py).

The contract: ranks are int64 in units of 1/SCALE and every step is
the integer recurrence r' = (15·(SCALE div N) + 85·Σ_in (r div
outdeg)) div 100 — bit-equal to a driver-side pure-Python replay.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nutdb_spark.operators.graph import SCALE, pagerank


def _py_pagerank(edges, node_ids, iters, scale=SCALE):
    n = len(node_ids)
    base = scale // n
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: base for v in node_ids}
    for _ in range(iters):
        contrib = {v: 0 for v in node_ids}
        for s, d in edges:
            contrib[d] += r[s] // outdeg[s]
        r = {v: (15 * base + 85 * contrib[v]) // 100 for v in node_ids}
    return r


@pytest.mark.parametrize("iters", [0, 1, 3, 8])
def test_pagerank_matches_python_reference(spark, iters):
    # a small directed graph with a hub, a dangling node (3), and a
    # parallel edge (0->1 twice)
    edges = [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0), (4, 2), (4, 0)]
    nodes = [0, 1, 2, 3, 4]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in nodes], "id long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(e, v, iters=iters).collect()
    }
    assert got == _py_pagerank(edges, nodes, iters)


def test_pagerank_properties(spark):
    edges = [(i, (i * 7 + 3) % 20) for i in range(20)] + [
        (i, (i * 11 + 5) % 20) for i in range(20)
    ]
    edges = [(s, d) for s, d in edges if s != d]
    nodes = list(range(20))
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in nodes], "id long")
    r8 = {r["id"]: r["rank"] for r in pagerank(e, v, iters=8).collect()}
    assert set(r8) == set(nodes)
    assert all(x >= 0 for x in r8.values())
    # total mass stays within the documented floor losses of SCALE:
    # each iteration floors at most (|E| + N) units plus the damping
    # div, so after 8 rounds the drift is tiny relative to SCALE
    assert abs(sum(r8.values()) - SCALE) < SCALE // 10**6
    # iterating 9 vs 8 moves every rank by < 1% of base (converged)
    r9 = {r["id"]: r["rank"] for r in pagerank(e, v, iters=9).collect()}
    base = SCALE // 20
    assert all(abs(r9[k] - r8[k]) < base // 100 for k in nodes)


def test_pagerank_rejects_bad_iters(spark):
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    v = spark.createDataFrame([(0,), (1,)], "id long")
    with pytest.raises(ValueError):
        pagerank(e, v, iters=-1)


def test_pagerank_suite_plan_is_jvm_only(spark):
    from nutdb_spark.suite import QUERIES

    plan = (
        QUERIES["q_graph_pagerank"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_table_fn_errors_and_values(spark):
    """pageRank(...) dialect surface: arity/iters validation raises
    LoweringError; a uniform 3-regular graph yields the uniform rank
    SCALE div N for every node."""
    import pytest as _pytest

    from nutdb_spark.engine import NutEngine
    from nutdb_spark.frontend.lower import LoweringError

    eng = NutEngine(spark, data_dir="/root/testdata/sf0.001")
    with _pytest.raises(LoweringError, match="pageRank takes"):
        eng.sql("select * from pageRank('t', 'src', 'dst')")
    with _pytest.raises(LoweringError, match="iters must be >= 0"):
        eng.sql("select * from pageRank('t', 'src', 'dst', -1)")
    eng.sql("DROP TABLE IF EXISTS pr_ring")
    eng.sql(
        "CREATE TABLE pr_ring AS "
        "SELECT number AS src, (number + 1) % 10 AS dst FROM numbers(10)"
    )
    got = eng.sql(
        "select id, rank from pageRank('pr_ring', 'src', 'dst', 5) "
        "order by id"
    ).collect()
    from nutdb_spark.operators.graph import SCALE

    assert len(got) == 10
    assert all(r["rank"] == SCALE // 10 for r in got)


def test_pagerank_table_fn_after_edges_recreated(spark, tmp_path):
    """pageRank over a table dropped and re-created with other edges
    ranks the new edges: the first call leaves no cached plan that a
    later read of the same path matches (it would list the dropped
    table's files, or answer from the old edges)."""
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir="/root/testdata/sf0.001", catalog_dir=str(tmp_path)
    )
    graphs = [
        [(i, (i + 1) % 6) for i in range(6)],
        [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 0), (5, 4), (5, 3)],
        [(0, 1), (1, 0), (2, 0), (3, 0), (4, 0), (5, 1)],
    ]
    sql = "select id, rank from pageRank('pr_re', 'src', 'dst', 4)"
    lazy = None
    for i, edges in enumerate(graphs):
        eng.sql("DROP TABLE IF EXISTS pr_re")
        values = ", ".join(f"({s}, {d})" for s, d in edges)
        eng.sql(
            "CREATE TABLE pr_re AS SELECT CAST(a AS Int64) AS src, "
            f"CAST(b AS Int64) AS dst FROM (VALUES {values}) t(a, b)"
        )
        if i == 0:
            lazy = eng.sql(sql)  # planned, never run
            continue
        got = {r["id"]: r["rank"] for r in eng.sql(sql).collect()}
        assert got == _py_pagerank(edges, sorted(got), 4), i
    assert lazy is not None


def _py_triangles(edges, nodes):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj: dict[int, set] = {v: set() for v in nodes}
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    tri = {v: 0 for v in nodes}
    count = 0
    ns = sorted(nodes)
    for i, a in enumerate(ns):
        for b in ns[i + 1:]:
            if b not in adj[a]:
                continue
            for c in ns:
                if c > b and c in adj[a] and c in adj[b]:
                    tri[a] += 1
                    tri[b] += 1
                    tri[c] += 1
                    count += 1
    return tri, count


def test_triangle_count_k4_and_normalization(spark):
    """K4 (with duplicate, reversed and self-loop noise) has 4
    triangles; every node sits in 3."""
    from nutdb_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(1, 0), (2, 2), (0, 1), (3, 1)]
    e = spark.createDataFrame(noisy, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(5)], "id long")
    got = {r["id"]: r["tri"] for r in triangle_count(e, v).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 0}


def test_triangle_count_matches_bruteforce(spark):
    import random

    from nutdb_spark.operators.graph import triangle_count

    rnd = random.Random(12)
    nodes = list(range(30))
    edges = [
        (rnd.randrange(30), rnd.randrange(30)) for _ in range(120)
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in nodes], "id long")
    got = {r["id"]: r["tri"] for r in triangle_count(e, v).collect()}
    want, _ = _py_triangles(edges, nodes)
    assert got == want


def test_triangles_suite_plan_has_no_cartesian(spark):
    from nutdb_spark.suite import QUERIES

    plan = (
        QUERIES["q_graph_triangles"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_triangles_table_fn(spark):
    """triangles(...) dialect surface: arity fence + K4 values through
    pure SQL text."""
    import pytest as _pytest

    from nutdb_spark.engine import NutEngine
    from nutdb_spark.frontend.lower import LoweringError

    eng = NutEngine(spark, data_dir="/root/testdata/sf0.001")
    with _pytest.raises(LoweringError, match="triangles takes"):
        eng.sql("select * from triangles('t', 'src')")
    eng.sql("DROP TABLE IF EXISTS tri_k4")
    eng.sql(
        "CREATE TABLE tri_k4 AS "
        "SELECT a.number AS src, b.number AS dst "
        "FROM numbers(4) a CROSS JOIN numbers(4) b "
        "WHERE a.number < b.number"
    )
    got = eng.sql(
        "select id, tri from triangles('tri_k4', 'src', 'dst') order by id"
    ).collect()
    assert [(r["id"], r["tri"]) for r in got] == [
        (0, 3), (1, 3), (2, 3), (3, 3),
    ]


def test_pagerank_star_graph_skew(spark):
    """Hub-skew armor: a star graph (every spoke -> one hub, hub -> one
    spoke) concentrates the whole contribution sum on a single dst key
    — the adversarial shuffle shape at scale. Values still match the
    closed-form integer recurrence: after round 1 the hub holds
    15%·base + 85%·(n-1)·(base div 1) style mass while spokes drop to
    the damping floor (spoke 0 additionally receives the hub's entire
    rank each round). Checked against the pure-Python replay."""
    n = 2000
    edges = [(i, 0) for i in range(1, n)] + [(0, 1)]
    nodes = list(range(n))
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in nodes], "id long")
    got = {r["id"]: r["rank"] for r in pagerank(e, v, iters=3).collect()}
    want = _py_pagerank(edges, nodes, 3)
    assert got == want
    # the hub dominates, spokes 2.. sit at the uniform damping floor
    floor = want[2]
    assert got[0] > 100 * floor
    assert all(got[i] == floor for i in range(2, n, 97))
