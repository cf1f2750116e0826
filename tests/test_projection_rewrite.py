"""Summing-view auto-rewrite pins (engine._try_projection_rewrite).

The oracled entry (q_ddl_projection_rewrite) pins values; these pin
the PLAN (the rewrite must actually read the view state, and the
fallback cases must actually read the base) and the soundness fences
(shapes the rewrite must refuse).
"""

from __future__ import annotations

import tempfile

import pytest


@pytest.fixture()
def eng(spark):
    from nutdb_spark.engine import NutEngine

    e = NutEngine(
        spark,
        data_dir="/root/testdata/sf0.001",
        catalog_dir=tempfile.mkdtemp(),
    )
    e.sql(
        "CREATE TABLE pr_sales (region String, item String, qty Int64, "
        "amount Int64)"
    )
    e.sql(
        "INSERT INTO pr_sales VALUES ('e','a',1,10), ('e','b',2,20), "
        "('w','a',3,30), ('w','a',4,40)"
    )
    e.sql(
        "CREATE VIEW pr_sum UPDATE BY Summing ORDER BY (region, item) "
        "AS SELECT region, item, qty, amount FROM pr_sales"
    )
    return e


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _reads_view(plan: str) -> bool:
    return "pr_sum" in plan


def test_rewrite_reads_view_and_matches_base(eng):
    df = eng.sql(
        "SELECT region, sum(qty) AS q FROM pr_sales GROUP BY region"
    )
    assert _reads_view(_plan(df))
    direct = eng.sql(
        "SELECT region, sum(qty) AS q FROM pr_sales GROUP BY region "
        "SETTINGS optimize_use_projections = 0"
    )
    assert not _reads_view(_plan(direct))
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_rewrite_rollup_and_key_filter(eng):
    df = eng.sql(
        "SELECT item, sum(amount) AS a FROM pr_sales "
        "WHERE item = 'a' GROUP BY item"
    )
    assert _reads_view(_plan(df))
    [r] = df.collect()
    assert (r["item"], r["a"]) == ("a", 80)


def test_no_rewrite_fences(eng):
    """Shapes the rewrite must refuse: non-key predicate (qty is a
    VALUE column — filtering it before vs after the merge differs),
    non-sum aggregate, expression keys, and joins."""
    for sql in (
        "SELECT region, sum(qty) AS q FROM pr_sales WHERE qty > 2 "
        "GROUP BY region",
        "SELECT region, count(*) AS n FROM pr_sales GROUP BY region",
        "SELECT upper(region) AS r, sum(qty) AS q FROM pr_sales "
        "GROUP BY upper(region)",
        "SELECT a.region, sum(a.qty) AS q FROM pr_sales a "
        "JOIN pr_sales b ON a.region = b.region GROUP BY a.region",
    ):
        assert not _reads_view(_plan(eng.sql(sql))), sql
    # and the refused shapes still compute correctly from base
    rows = {
        r["region"]: r["q"]
        for r in eng.sql(
            "SELECT region, sum(qty) AS q FROM pr_sales WHERE qty > 2 "
            "GROUP BY region"
        ).collect()
    }
    assert rows == {"w": 7}


def test_rewrite_freshness_after_insert(eng):
    eng.sql("INSERT INTO pr_sales VALUES ('n','z',100,1)")
    df = eng.sql(
        "SELECT region, sum(qty) AS q FROM pr_sales GROUP BY region"
    )
    assert _reads_view(_plan(df))
    rows = {r["region"]: r["q"] for r in df.collect()}
    assert rows == {"e": 3, "w": 7, "n": 100}


def test_aggregating_view_rewrite(eng):
    """Aggregating views extend the answer path to count/min/max:
    count re-aggregates as SUM of partial counts, min/max keep the
    extreme — exact merges; avg is not re-aggregatable and must read
    the base."""
    eng.sql(
        "CREATE VIEW pr_agg UPDATE BY Aggregating ORDER BY (region) AS "
        "SELECT region, count(*) AS n, sum(qty) AS sq, min(qty) AS mn, "
        "max(qty) AS mx FROM pr_sales GROUP BY region"
    )
    df = eng.sql(
        "SELECT region, count(*) AS n, min(qty) AS mn, max(qty) AS mx "
        "FROM pr_sales GROUP BY region ORDER BY region"
    )
    assert "pr_agg" in _plan(df)
    assert [tuple(r) for r in df.collect()] == [
        ("e", 2, 1, 2), ("w", 2, 3, 4)
    ]
    # freshness through the aggregating merge path
    eng.sql("INSERT INTO pr_sales VALUES ('e','a',9,90)")
    df2 = eng.sql(
        "SELECT region, count(*) AS n, max(qty) AS mx FROM pr_sales "
        "GROUP BY region ORDER BY region"
    )
    assert "pr_agg" in _plan(df2)
    assert [tuple(r) for r in df2.collect()] == [("e", 3, 9), ("w", 2, 4)]
    # avg fence
    df3 = eng.sql("SELECT region, avg(qty) AS a FROM pr_sales GROUP BY region")
    assert "pr_agg" not in _plan(df3)


def test_unaliased_aggregate_keeps_schema(eng):
    """The rewrite's default output name must match the lowerer's for
    the ORIGINAL call (count→sum re-agg must still be named 'count')."""
    eng.sql(
        "CREATE VIEW pr_agg2 UPDATE BY Aggregating ORDER BY (region) AS "
        "SELECT region, count(*) AS n FROM pr_sales GROUP BY region"
    )
    df = eng.sql("SELECT region, count(*) FROM pr_sales GROUP BY region")
    assert "pr_agg2" in _plan(df)
    base = eng.sql(
        "SELECT region, count(*) FROM pr_sales GROUP BY region "
        "SETTINGS optimize_use_projections = 0"
    )
    assert df.columns == base.columns


@pytest.mark.parametrize(
    "view",
    [
        "CREATE VIEW pr_dsum UPDATE BY Summing ORDER BY (k) AS "
        "SELECT k, x, u FROM pr_dec",
        "CREATE VIEW pr_dagg UPDATE BY Aggregating ORDER BY (k) AS "
        "SELECT k, sum(x) AS sx, sum(u) AS su, count() AS n, "
        "min(x) AS lo, max(u) AS hi FROM pr_dec GROUP BY k",
    ],
    ids=["summing", "aggregating"],
)
def test_rewrite_keeps_decimal_sum_types(eng, view):
    """A sum over Decimal64(2) or UInt64 (both decimals) answered from
    a view has the type and values of the same query over the base: the
    view's column already holds the sum, and summing it again must not
    widen the decimal a second time."""
    eng.sql("CREATE TABLE pr_dec (k Int32, x Decimal64(2), u UInt64)")
    eng.sql(view)
    eng.sql("INSERT INTO pr_dec VALUES (1, 1.25, 10), (2, 2.5, 7)")
    eng.sql("INSERT INTO pr_dec VALUES (1, 0.75, 5)")
    name = view.split()[2]
    queries = ["SELECT k, sum(x), sum(u) FROM pr_dec GROUP BY k"]
    if name == "pr_dagg":
        queries.append(
            "SELECT k, sum(u) AS su, count(*), min(x), max(u) "
            "FROM pr_dec GROUP BY k"
        )
    for sql in queries:
        df = eng.sql(sql)
        assert name in _plan(df), sql
        base = eng.sql(sql + " SETTINGS optimize_use_projections = 0")
        assert df.dtypes == base.dtypes, sql
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, base.collect())
        ), sql


def test_detach_attach_and_backup_errors(eng, tmp_path):
    """Error fences for the operational DDL: DETACH on views/unknowns,
    double ATTACH, RESTORE onto an existing table, RESTORE from a
    non-backup directory."""
    import pytest as _pytest

    from nutdb_spark.catalog import CatalogError

    with _pytest.raises(CatalogError, match="unknown table"):
        eng.sql("DETACH TABLE nope")
    with _pytest.raises(CatalogError, match="tables"):
        eng.sql("DETACH TABLE pr_sum")  # a view
    eng.sql("DETACH TABLE pr_sales")
    with _pytest.raises(CatalogError, match="unknown table"):
        eng.sql("DETACH TABLE pr_sales")  # already parked
    eng.sql("ATTACH TABLE pr_sales")
    with _pytest.raises(CatalogError, match="already attached"):
        eng.sql("ATTACH TABLE pr_sales")
    with _pytest.raises(CatalogError, match="no backup"):
        eng.sql(f"RESTORE TABLE fresh FROM '{tmp_path}/empty'")
    eng.sql(f"BACKUP TABLE pr_sales TO '{tmp_path}/bk'")
    with _pytest.raises(CatalogError, match="DROP it"):
        eng.sql(f"RESTORE TABLE pr_sales FROM '{tmp_path}/bk'")


def test_rewrite_randomized_equivalence(eng):
    """Randomized end-to-end equivalence: for a batch of random
    GROUP BY queries over the base table (random key subsets, random
    key-only filters, random aggregate subsets), the rewritten result
    must equal the optimize_use_projections = 0 result row-for-row —
    whether or not the rewrite fired."""
    import random

    rnd = random.Random(11)
    eng.sql(
        "CREATE VIEW pr_rand UPDATE BY Aggregating ORDER BY "
        "(region, item) AS SELECT region, item, sum(qty) AS sq, "
        "count(*) AS n, min(amount) AS mn, max(amount) AS mx "
        "FROM pr_sales GROUP BY region, item"
    )
    # widen the data a little so rollups are non-trivial
    rows = ", ".join(
        f"('{rnd.choice('ewns')}','{rnd.choice('abc')}',"
        f"{rnd.randint(0, 9)},{rnd.randint(0, 99)})"
        for _ in range(40)
    )
    eng.sql(f"INSERT INTO pr_sales VALUES {rows}")
    aggs = {
        "sum(qty) AS sq": True, "count(*) AS n": True,
        "min(amount) AS mn": True, "max(amount) AS mx": True,
        "avg(qty) AS av": False,  # not re-aggregatable: must fall back
    }
    fired = 0
    for _ in range(12):
        keys = rnd.sample(["region", "item"], rnd.randint(1, 2))
        chosen = rnd.sample(sorted(aggs), rnd.randint(1, 3))
        where = ""
        if rnd.random() < 0.5:
            where = f" WHERE {rnd.choice(keys)} != '{rnd.choice('ex')}'"
        sql = (
            f"SELECT {', '.join(keys)}, {', '.join(chosen)} "
            f"FROM pr_sales{where} GROUP BY {', '.join(keys)}"
        )
        via = eng.sql(sql)
        direct = eng.sql(sql + " SETTINGS optimize_use_projections = 0")
        a = sorted(tuple(r) for r in via.collect())
        b = sorted(tuple(r) for r in direct.collect())
        assert a == b, sql
        if "pr_" in _plan(via).replace("pr_sales", ""):
            fired += 1
        if any(not aggs[c] for c in chosen):
            assert "pr_rand" not in _plan(via), sql  # avg fence
    assert fired >= 4  # the rewrite actually exercised


def test_no_rewrite_onto_finer_grained_aggregating_view(eng):
    """An Aggregating view whose GROUP BY is FINER than its ORDER BY
    merge keys falls back to full maintenance, and _view_job then
    merges the stored rows Summing-style per merge key — summing the
    min column across the extra grain. The rewrite must refuse such a
    view: min(qty) through it would be a min over summed minima."""
    eng.sql(
        "CREATE VIEW pr_finer UPDATE BY Aggregating ORDER BY (region) "
        "AS SELECT region, item, min(qty) AS mn, sum(qty) AS sq "
        "FROM pr_sales GROUP BY region, item"
    )
    df = eng.sql(
        "SELECT region, min(qty) AS mn FROM pr_sales GROUP BY region "
        "ORDER BY region"
    )
    assert "pr_finer" not in _plan(df)
    assert [tuple(r) for r in df.collect()] == [("e", 1), ("w", 3)]


def test_no_rewrite_after_detach(eng):
    """DETACH's visibility contract: once the base is parked, a
    GROUP BY over it must fail with unknown table — never be silently
    answered from the (still-materialized) view state."""
    from nutdb_spark.frontend.lower import LoweringError

    eng.sql("DETACH TABLE pr_sales")
    with pytest.raises(LoweringError, match="unknown table"):
        eng.sql(
            "SELECT region, sum(qty) AS q FROM pr_sales GROUP BY region"
        ).collect()
    eng.sql("ATTACH TABLE pr_sales")
    df = eng.sql(
        "SELECT region, sum(qty) AS q FROM pr_sales GROUP BY region"
    )
    assert _reads_view(_plan(df))


def test_no_rewrite_on_nondeterministic_where(eng):
    """WHERE rand() < x must filter BASE rows, not merged view rows —
    a different result distribution. The rewrite must stand down on
    any nondeterministic call in WHERE or ORDER BY."""
    for pred in ("rand() <= 1.0", "rand64() % 2 = 0"):
        df = eng.sql(
            "SELECT region, sum(qty) AS q FROM pr_sales "
            f"WHERE {pred} GROUP BY region"
        )
        assert not _reads_view(_plan(df)), pred
    # deterministic predicates keep firing
    df2 = eng.sql(
        "SELECT region, sum(qty) AS q FROM pr_sales "
        "WHERE region != 'zz' GROUP BY region"
    )
    assert _reads_view(_plan(df2))


def test_backup_refuses_non_backup_target(eng, tmp_path):
    """BACKUP must never rmtree a destination it did not create: a
    non-empty directory without the meta.json + data/ signature
    raises; a prior backup is replaced; an empty dir is fine."""
    from nutdb_spark.catalog import CatalogError

    precious = tmp_path / "precious"
    precious.mkdir()
    (precious / "keep.txt").write_text("irreplaceable")
    with pytest.raises(CatalogError, match="refusing"):
        eng.sql(f"BACKUP TABLE pr_sales TO '{precious}'")
    assert (precious / "keep.txt").read_text() == "irreplaceable"

    asfile = tmp_path / "plainfile"
    asfile.write_text("x")
    with pytest.raises(CatalogError, match="not a directory"):
        eng.sql(f"BACKUP TABLE pr_sales TO '{asfile}'")

    empty = tmp_path / "empty"
    empty.mkdir()
    eng.sql(f"BACKUP TABLE pr_sales TO '{empty}'")
    eng.sql(f"BACKUP TABLE pr_sales TO '{empty}'")  # replace prior backup
    eng.sql("DROP TABLE pr_sales")
    eng.sql(f"RESTORE TABLE pr_sales FROM '{empty}'")
    assert eng.sql("SELECT count(*) AS n FROM pr_sales").first()["n"] == 4
