"""View maintenance lifecycle (S7): incremental Summing + Replacing.

The reference defines `CREATE VIEW … UPDATE BY <strategy>`
(src/parser/ast/item.rs:219-228; strategy parse src/parser/mod.rs:834-844,
example tests/sql/12.sql); these tests pin the maintenance semantics the
dialect implies: Summing views over delta-decomposable queries maintain
by bucketed micro-merge (only touched buckets rewritten), everything
else full-refreshes, and Replacing keeps max-version per key.
"""

from __future__ import annotations

import os
import tempfile
from decimal import Decimal

import pytest

from nutdb_spark.engine import NutEngine


@pytest.fixture()
def eng(spark, sf_dir):
    return NutEngine(spark, data_dir=sf_dir, catalog_dir=tempfile.mkdtemp())


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_summing_view_marked_incremental(eng):
    eng.sql("CREATE TABLE vm_a (k Int32, v Int64)")
    eng.sql(
        "CREATE VIEW vm_v UPDATE BY Summing ORDER BY (k) AS "
        "SELECT k, v FROM vm_a"
    )
    meta = eng.catalog._load_meta("vm_v")
    assert meta["maintenance"] == "incremental"
    # empty view reads as an empty frame with the merged schema
    assert eng.sql("SELECT k, v FROM vm_v").count() == 0


def test_summing_view_incremental_merge_only_touched_buckets(eng):
    eng.sql("CREATE TABLE vm_a (k Int32, v Int64)")
    eng.sql(
        "CREATE VIEW vm_v UPDATE BY Summing ORDER BY (k) AS "
        "SELECT k, v FROM vm_a"
    )
    # spread keys across buckets
    vals = ", ".join(f"({k}, {k * 10})" for k in range(40))
    eng.sql(f"INSERT INTO vm_a (k, v) VALUES {vals}")
    state = eng.catalog._state_path("vm_v")
    dirs = [d for d in os.listdir(state) if d.startswith("__bucket=")]
    assert len(dirs) > 1  # bucketed layout, not a flat overwrite
    mtimes = {
        d: max(
            os.path.getmtime(os.path.join(state, d, f))
            for f in os.listdir(os.path.join(state, d))
        )
        for d in dirs
    }
    # one-key insert touches exactly one bucket
    eng.sql("INSERT INTO vm_a (k, v) VALUES (1, 5)")
    touched = 0
    for d in dirs:
        now = max(
            os.path.getmtime(os.path.join(state, d, f))
            for f in os.listdir(os.path.join(state, d))
        )
        touched += now != mtimes[d]
    assert touched == 1
    out = dict(
        (r["k"], r["v"]) for r in eng.sql("SELECT k, v FROM vm_v").collect()
    )
    assert out[1] == 15 and out[0] == 0 and len(out) == 40


def test_summing_view_multi_table_union(eng):
    eng.sql("CREATE TABLE vm_a (k Int32, v Int64)")
    eng.sql("CREATE TABLE vm_b (k Int32, v Int64)")
    eng.sql(
        "CREATE VIEW vm_u UPDATE BY Summing ORDER BY (k) AS "
        "SELECT k, v FROM vm_a UNION ALL SELECT k, v FROM vm_b"
    )
    assert eng.catalog._load_meta("vm_u")["maintenance"] == "incremental"
    eng.sql("INSERT INTO vm_a (k, v) VALUES (1, 10)")
    # insert into b must NOT re-add a's rows (only b-branches flow)
    eng.sql("INSERT INTO vm_b (k, v) VALUES (1, 1), (2, 2)")
    eng.sql("INSERT INTO vm_a (k, v) VALUES (2, 20)")
    assert _rows(eng.sql("SELECT k, v FROM vm_u")) == {(1, 11), (2, 22)}


def test_summing_view_join_branch_incremental(eng):
    """A fact⋈dim branch is delta-decomposable: inserting into the
    FACT binds Δfact⋈dim; inserting into the DIM binds fact⋈Δdim —
    each produces exactly the new match set (other tables resolve to
    their current full state)."""
    eng.sql("CREATE TABLE vm_fact (k Int32, v Int64)")
    eng.sql("CREATE TABLE vm_dim (k Int32, w Int64)")
    eng.sql(
        "CREATE VIEW vm_j UPDATE BY Summing ORDER BY (k) AS "
        "SELECT f.k AS k, f.v * d.w AS v FROM vm_fact f "
        "JOIN vm_dim d ON f.k = d.k"
    )
    assert eng.catalog._load_meta("vm_j")["maintenance"] == "incremental"
    eng.sql("INSERT INTO vm_dim (k, w) VALUES (1, 10), (2, 100)")
    eng.sql("INSERT INTO vm_fact (k, v) VALUES (1, 2), (1, 3), (2, 4)")
    assert _rows(eng.sql("SELECT k, v FROM vm_j")) == {(1, 50), (2, 400)}
    # new dim row for a NEW key joins future + existing facts once
    eng.sql("INSERT INTO vm_fact (k, v) VALUES (3, 7)")  # no dim yet
    eng.sql("INSERT INTO vm_dim (k, w) VALUES (3, 1000)")
    assert _rows(eng.sql("SELECT k, v FROM vm_j")) == {
        (1, 50), (2, 400), (3, 7000),
    }


def test_self_join_view_falls_back_to_full(eng):
    # a table referenced twice in one branch is NOT delta-decomposable
    eng.sql("CREATE TABLE vm_sj (k Int32, v Int64)")
    eng.sql(
        "CREATE VIEW vm_sjv UPDATE BY Summing ORDER BY (k) AS "
        "SELECT a.k AS k, a.v * b.v AS v FROM vm_sj a "
        "JOIN vm_sj b ON a.k = b.k"
    )
    assert eng.catalog._load_meta("vm_sjv")["maintenance"] == "full"
    eng.sql("INSERT INTO vm_sj (k, v) VALUES (1, 3)")
    assert _rows(eng.sql("SELECT k, v FROM vm_sjv")) == {(1, 9)}


def test_quantified_subquery_view_falls_back_to_full(eng):
    # `> ALL (subquery)` depends on the whole of `u`: a delta through
    # it would count the rows of `t` again on every insert into `u`
    eng.sql("CREATE TABLE vm_t (k Int32, v Int64)")
    eng.sql("CREATE TABLE vm_u (x Int64)")
    eng.sql("INSERT INTO vm_t (k, v) VALUES (1, 5), (2, 10)")
    eng.sql("INSERT INTO vm_u (x) VALUES (1)")
    query = "SELECT k, v FROM vm_t WHERE v > ALL (SELECT x FROM vm_u)"
    eng.sql(f"CREATE VIEW vm_qv UPDATE BY Summing ORDER BY (k) AS {query}")
    assert eng.catalog._load_meta("vm_qv")["maintenance"] == "full"
    eng.sql("INSERT INTO vm_u (x) VALUES (7)")
    assert _rows(eng.sql("SELECT k, v FROM vm_qv")) == _rows(eng.sql(query))
    assert _rows(eng.sql(query)) == {(2, 10)}


def test_aggregating_view_falls_back_to_full(eng):
    eng.sql("CREATE TABLE vm_a (k Int32, v Int64)")
    eng.sql(
        "CREATE VIEW vm_g UPDATE BY Summing ORDER BY (k) AS "
        "SELECT k, sum(v) AS v FROM vm_a GROUP BY k"
    )
    assert eng.catalog._load_meta("vm_g")["maintenance"] == "full"
    eng.sql("INSERT INTO vm_a (k, v) VALUES (1, 10), (1, 5)")
    assert _rows(eng.sql("SELECT k, v FROM vm_g")) == {(1, 15)}


def test_non_numeric_view_falls_back_to_full(eng):
    eng.sql("CREATE TABLE vm_s (k Int32, name String)")
    eng.sql(
        "CREATE VIEW vm_sv UPDATE BY Summing ORDER BY (k) AS "
        "SELECT k, name FROM vm_s"
    )
    assert eng.catalog._load_meta("vm_sv")["maintenance"] == "full"


def test_replacing_view_keeps_max_version(eng):
    eng.sql("CREATE TABLE vm_r (k Int32, ver Int64, v Int64)")
    eng.sql("INSERT INTO vm_r (k, ver, v) VALUES (1, 1, 10), (1, 3, 30)")
    eng.sql(
        "CREATE VIEW vm_rv UPDATE BY Replacing PRIMARY KEY (ver) "
        "ORDER BY (k) AS SELECT k, ver, v FROM vm_r"
    )
    # simple per-row query → maintained incrementally (keep-max merge)
    assert eng.catalog._load_meta("vm_rv")["maintenance"] == "incremental"
    eng.sql("INSERT INTO vm_r (k, ver, v) VALUES (1, 2, 20), (2, 1, 7)")
    assert _rows(eng.sql("SELECT k, ver, v FROM vm_rv")) == {
        (1, 3, 30), (2, 1, 7),
    }
    # a LATER higher version replaces state written before it
    eng.sql("INSERT INTO vm_r (k, ver, v) VALUES (1, 9, 90)")
    assert _rows(eng.sql("SELECT k, ver, v FROM vm_rv")) == {
        (1, 9, 90), (2, 1, 7),
    }


def test_replacing_view_non_numeric_payload_incremental(eng):
    # keep-max merges ANY payload type — strings don't force full refresh
    eng.sql("CREATE TABLE vm_rs (k Int32, ver Int64, name String)")
    eng.sql(
        "CREATE VIEW vm_rsv UPDATE BY Replacing PRIMARY KEY (ver) "
        "ORDER BY (k) AS SELECT k, ver, name FROM vm_rs"
    )
    assert eng.catalog._load_meta("vm_rsv")["maintenance"] == "incremental"
    eng.sql("INSERT INTO vm_rs (k, ver, name) VALUES (1, 1, 'old'), (1, 2, 'new')")
    assert _rows(eng.sql("SELECT k, ver, name FROM vm_rsv")) == {(1, 2, "new")}


def test_replacing_requires_version(eng):
    from nutdb_spark.catalog import CatalogError

    eng.sql("CREATE TABLE vm_r2 (k Int32, v Int64)")
    with pytest.raises(CatalogError, match="PRIMARY KEY"):
        eng.sql(
            "CREATE VIEW vm_bad UPDATE BY Replacing ORDER BY (k) AS "
            "SELECT k, v FROM vm_r2"
        )


def test_unknown_strategy_rejected(eng):
    from nutdb_spark.catalog import CatalogError

    eng.sql("CREATE TABLE vm_r3 (k Int32, v Int64)")
    with pytest.raises(CatalogError, match="strategy"):
        eng.sql(
            "CREATE VIEW vm_bad2 UPDATE BY Frobnicating ORDER BY (k) AS "
            "SELECT k, v FROM vm_r3"
        )


def test_aggregating_view_is_incremental(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir="/root/testdata/sf0.001", catalog_dir=str(tmp_path)
    )
    eng.sql("create table ag (k Int32, v Int64) ORDER BY (k)")
    eng.sql("insert into ag (k, v) values (1, 10), (2, 7)")
    eng.sql(
        "create view agv update by Aggregating order by (k) as "
        "select k, count(*) as n, sum(v) as s, min(v) as lo, "
        "max(v) as hi from ag group by k"
    )
    assert eng.catalog._load_meta("agv")["maintenance"] == "incremental"
    eng.sql("insert into ag (k, v) values (1, 3), (1, 99)")
    got = {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in eng.sql("select k, n, s, lo, hi from agv").collect()
    }
    assert got == {1: (3, 112, 3, 99), 2: (1, 7, 7, 7)}


def test_aggregating_view_avg_falls_back_to_full(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir="/root/testdata/sf0.001", catalog_dir=str(tmp_path)
    )
    eng.sql("create table ag2 (k Int32, v Int64) ORDER BY (k)")
    eng.sql(
        "create view agv2 update by Aggregating order by (k) as "
        "select k, avg(v) as a from ag2 group by k"
    )
    # avg is not re-aggregatable — must be full-refresh, still correct
    assert eng.catalog._load_meta("agv2")["maintenance"] == "full"
    eng.sql("insert into ag2 (k, v) values (1, 10), (1, 20)")
    assert eng.sql("select a from agv2").collect()[0]["a"] == 15.0


def test_aggregating_view_filtered_delta(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir="/root/testdata/sf0.001", catalog_dir=str(tmp_path)
    )
    eng.sql("create table ag3 (k Int32, v Int64) ORDER BY (k)")
    eng.sql(
        "create view agv3 update by Aggregating order by (k) as "
        "select k, sum(v) as s from ag3 where v > 5 group by k"
    )
    assert eng.catalog._load_meta("agv3")["maintenance"] == "incremental"
    eng.sql("insert into ag3 (k, v) values (1, 3), (1, 10), (2, 6)")
    eng.sql("insert into ag3 (k, v) values (1, 2), (2, 100)")
    got = {r["k"]: r["s"] for r in eng.sql("select k, s from agv3").collect()}
    assert got == {1: 10, 2: 106}  # v<=5 rows never contribute


def test_aggregating_view_decimal_sums_read_after_insert(spark, tmp_path):
    """The state keeps the view query's own types, the ones it is read
    with: merging a sum into the state does not widen a decimal sum
    (Decimal64 and UInt64 are decimals) a second time."""
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir="/root/testdata/sf0.001", catalog_dir=str(tmp_path)
    )
    eng.sql("create table ag4 (k Int32, x Decimal64(2), u UInt64) ORDER BY (k)")
    eng.sql(
        "create view agv4 update by Aggregating order by (k) as "
        "select k, sum(x) as sx, sum(u) as su, max(x) as hi "
        "from ag4 group by k"
    )
    assert eng.catalog._load_meta("agv4")["maintenance"] == "incremental"
    eng.sql("insert into ag4 (k, x, u) values (1, 1.25, 10), (2, 2.5, 7)")
    eng.sql("insert into ag4 (k, x, u) values (1, 0.75, 5)")
    got = {
        r["k"]: (r["sx"], r["su"], r["hi"])
        for r in eng.sql("select k, sx, su, hi from agv4").collect()
    }
    assert got == {
        1: (Decimal("2.00"), 15, Decimal("1.25")),
        2: (Decimal("2.50"), 7, Decimal("2.50")),
    }


def test_aggregating_view_of_distinct_aggregates_is_full(spark, tmp_path):
    """count(DISTINCT x) and sum(DISTINCT x) are not re-aggregatable:
    merging the partials of two inserts of the same rows counts and
    sums each value twice. Such a view refreshes whole and equals its
    query."""
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir="/root/testdata/sf0.001", catalog_dir=str(tmp_path)
    )
    eng.sql("create table ag5 (k Int32, x Int64) ORDER BY (k)")
    query = (
        "select k, count(DISTINCT x) as n, sum(DISTINCT x) as s "
        "from ag5 group by k"
    )
    eng.sql(f"create view agv5 update by Aggregating order by (k) as {query}")
    assert eng.catalog._load_meta("agv5")["maintenance"] == "full"
    for _ in range(2):
        eng.sql("insert into ag5 (k, x) values (1, 5), (1, 6)")
    assert _rows(eng.sql("select k, n, s from agv5")) == {(1, 2, 11)}
    assert _rows(eng.sql(query)) == {(1, 2, 11)}


def test_full_aggregating_view_keeps_query_types(spark, tmp_path):
    """A full-refresh Aggregating view merges its rows per key and
    stores them in its query's own types: the merge's sum of a decimal
    sum does not widen it."""
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir="/root/testdata/sf0.001", catalog_dir=str(tmp_path)
    )
    eng.sql("create table f (k Int32, x Decimal64(2)) ORDER BY (k)")
    query = "select k, sum(x) as sx, avg(x) as ax from f group by k"
    eng.sql(f"create view fv update by Aggregating order by (k) as {query}")
    assert eng.catalog._load_meta("fv")["maintenance"] == "full"
    eng.sql("insert into f (k, x) values (1, 1.25), (1, 0.75), (2, 2.5)")
    view = eng.sql("select k, sx, ax from fv")
    assert view.dtypes == eng.sql(query).dtypes
    assert dict(view.dtypes)["sx"] == "decimal(28,2)"
    assert _rows(view) == _rows(eng.sql(query))


# --- [EXT] plain (non-materialized) views ---------------------------------


def test_plain_view_composes_and_pushes_down(spark, sf_dir):
    import tempfile

    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir=sf_dir, catalog_dir=tempfile.mkdtemp()
    )
    eng.sql(
        "create view pv as select l_orderkey, l_quantity from lineitem"
    )
    df = eng.sql("select * from pv where l_orderkey < 50")
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "l_orderkey" in plan
    direct = eng.sql(
        "select count() as n from lineitem where l_orderkey < 50"
    ).first()["n"]
    assert df.count() == direct
    # always-fresh: new base rows appear without any refresh
    eng.sql("create table pt (x Int64)")
    eng.sql("create view pvt as select sum(x) as s from pt")
    eng.sql("insert into pt values (1), (2)")
    assert eng.sql("select * from pvt").first()["s"] == 3
    eng.sql("insert into pt values (10)")
    assert eng.sql("select * from pvt").first()["s"] == 13


def test_plain_view_cycle_guard(spark, sf_dir):
    import tempfile

    import pytest as _pytest

    from nutdb_spark.engine import NutEngine
    from nutdb_spark.frontend.lower import LoweringError

    eng = NutEngine(
        spark, data_dir=sf_dir, catalog_dir=tempfile.mkdtemp()
    )
    # create order dodges reference validation; reading must not hang
    eng.sql("create table seed (x Int64)")
    eng.sql("create view ca as select x from seed")
    eng.sql("create or replace view ca as select x from cb")
    eng.sql("create view cb as select x from ca")
    with _pytest.raises(LoweringError, match="circular view"):
        eng.sql("select * from cb")


def test_show_create_plain_view(spark, sf_dir):
    import tempfile

    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir=sf_dir, catalog_dir=tempfile.mkdtemp()
    )
    eng.sql("create table sc (a Int32)")
    eng.sql("create view scv as select a from sc")
    out = eng.sql("show create table scv").first()["create_query"]
    assert "CREATE VIEW scv AS" in out
