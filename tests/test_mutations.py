"""[EXT] ClickHouse-style mutations: ALTER TABLE ... UPDATE / DELETE —
parse rules, invariant enforcement, layout preservation, and dependent
incremental-view repair.
"""

from __future__ import annotations

import os

import pytest

from nutdb_spark.frontend.parser import ParseError, parse

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def eng(spark):
    from nutdb_spark.engine import NutEngine

    return NutEngine(spark, data_dir=SF)


def test_update_delete_parse_shapes():
    s = parse("alter table t update a = 1, b = b + 1 where k = 2")
    assert s.action == "update"
    assignments, cond = s.payload
    assert [c for c, _ in assignments] == ["a", "b"]
    d = parse("alter table t delete where k = 2")
    assert d.action == "delete"


def test_mutations_require_where():
    with pytest.raises(ParseError):
        parse("alter table t update a = 1")
    with pytest.raises(ParseError):
        parse("alter table t delete")


def test_update_rewrites_matched_rows(eng):
    eng.sql("DROP TABLE IF EXISTS mu1")
    eng.sql("CREATE TABLE mu1 (k Int64, v Int64)")
    eng.sql("INSERT INTO mu1 (k, v) VALUES (1, 10), (2, 20), (3, 30)")
    eng.sql("ALTER TABLE mu1 UPDATE v = v + 100 WHERE k >= 2")
    rows = {r["k"]: r["v"] for r in eng.sql("SELECT k, v FROM mu1").collect()}
    assert rows == {1: 10, 2: 120, 3: 130}


def test_delete_null_predicate_keeps_rows(eng):
    eng.sql("DROP TABLE IF EXISTS mu2")
    eng.sql("CREATE TABLE mu2 (k Int64, v Nullable(Int64))")
    eng.sql("INSERT INTO mu2 (k, v) VALUES (1, 1), (2, NULL), (3, 3)")
    eng.sql("ALTER TABLE mu2 DELETE WHERE v > 1")
    ks = sorted(r["k"] for r in eng.sql("SELECT k FROM mu2").collect())
    assert ks == [1, 2]  # NULL predicate row survives


def test_update_enforces_check_constraint(eng):
    from nutdb_spark.catalog import CatalogError

    eng.sql("DROP TABLE IF EXISTS mu3")
    eng.sql(
        "CREATE TABLE mu3 (k Int64, v Int64, "
        "CONSTRAINT pos CHECK v >= 0)"
    )
    eng.sql("INSERT INTO mu3 (k, v) VALUES (1, 5)")
    with pytest.raises(CatalogError, match="pos"):
        eng.sql("ALTER TABLE mu3 UPDATE v = v - 10 WHERE k = 1")
    # the failed mutation must not have clobbered the data
    assert eng.sql("SELECT v FROM mu3").collect()[0]["v"] == 5


def test_update_serial_column_rejected(eng):
    from nutdb_spark.catalog import CatalogError

    eng.sql("DROP TABLE IF EXISTS mu4")
    eng.sql("CREATE TABLE mu4 (id Serial64, v Int64)")
    eng.sql("INSERT INTO mu4 (v) VALUES (1)")
    with pytest.raises(CatalogError, match="serial"):
        eng.sql("ALTER TABLE mu4 UPDATE id = 99 WHERE v = 1")


def test_mutation_preserves_partition_layout(eng):
    eng.sql("DROP TABLE IF EXISTS mu5")
    eng.sql(
        "CREATE TABLE mu5 (k Int64, p String) PARTITION BY p"
    )
    eng.sql(
        "INSERT INTO mu5 (k, p) VALUES (1, 'x'), (2, 'y'), (3, 'x')"
    )
    eng.sql("ALTER TABLE mu5 DELETE WHERE k = 2")
    data = eng.catalog._data_path("mu5")
    parts = {d for d in os.listdir(data) if d.startswith("p=")}
    assert parts == {"p=x"}  # y partition emptied, x kept as a dir
    ks = sorted(r["k"] for r in eng.sql("SELECT k FROM mu5").collect())
    assert ks == [1, 3]


def _part_files(data: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(data)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_optimize_keeps_partition_layout(eng):
    eng.sql("DROP TABLE IF EXISTS mu7")
    eng.sql("CREATE TABLE mu7 (k Int64, p String) ORDER BY (k) PARTITION BY p")
    eng.sql("INSERT INTO mu7 (k, p) VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    eng.sql("OPTIMIZE TABLE mu7 FINAL")
    data = eng.catalog._data_path("mu7")
    assert all("p=" in f for f in _part_files(data))
    eng.sql("INSERT INTO mu7 (k, p) VALUES (4, 'a')")
    got = eng.sql("SELECT p, count() AS n FROM mu7 GROUP BY p").collect()
    assert {r["p"]: r["n"] for r in got} == {"a": 2, "b": 1, "c": 1}
    eng.sql("ALTER TABLE mu7 DROP PARTITION 'a'")
    assert sorted(r["k"] for r in eng.sql("SELECT k FROM mu7").collect()) == [2, 3]


def test_schema_alter_keeps_partition_layout(eng):
    eng.sql("DROP TABLE IF EXISTS mu8")
    eng.sql("CREATE TABLE mu8 (k Int64, p String) ORDER BY (k) PARTITION BY p")
    eng.sql("INSERT INTO mu8 (k, p) VALUES (1, 'a'), (2, 'b')")
    eng.sql("ALTER TABLE mu8 ADD COLUMN w Int64 DEFAULT 7")
    data = eng.catalog._data_path("mu8")
    assert {d for d in os.listdir(data) if d.startswith("p=")} == {"p=a", "p=b"}
    assert all("p=" in f for f in _part_files(data))
    eng.sql("ALTER TABLE mu8 RENAME COLUMN p q")
    assert {d for d in os.listdir(data) if d.startswith("q=")} == {"q=a", "q=b"}
    eng.sql("ALTER TABLE mu8 DROP PARTITION 'a'")
    rows = eng.sql("SELECT k, q, w FROM mu8").collect()
    assert [tuple(r) for r in rows] == [(2, "b", 7)]
    with pytest.raises(Exception, match="ORDER BY or PARTITION BY"):
        eng.sql("ALTER TABLE mu8 DROP COLUMN q")


def test_partitioned_files_keep_order_by_clustering(eng):
    import pyarrow.parquet as pq

    eng.sql("DROP TABLE IF EXISTS mu9")
    eng.sql("CREATE TABLE mu9 (k Int64, p String) ORDER BY (k) PARTITION BY p")
    rows = ", ".join(f"({k}, '{'ab'[k % 2]}')" for k in range(40, 0, -1))
    data = eng.catalog._data_path("mu9")
    for stmt in (f"INSERT INTO mu9 (k, p) VALUES {rows}", "OPTIMIZE TABLE mu9 FINAL"):
        eng.sql(stmt)
        files = _part_files(data)
        assert files and all("p=" in f for f in files)
        for f in files:
            ks = pq.read_table(f).column("k").to_pylist()
            assert ks == sorted(ks), (stmt, f)


def test_mutation_repairs_incremental_view(eng):
    eng.sql("DROP VIEW IF EXISTS mu_v")
    eng.sql("DROP TABLE IF EXISTS mu6")
    eng.sql("CREATE TABLE mu6 (k Int32, v Int64)")
    eng.sql("INSERT INTO mu6 (k, v) VALUES (1, 10), (1, 5), (2, 20)")
    eng.sql(
        "CREATE VIEW mu_v UPDATE BY Summing ORDER BY (k) AS "
        "SELECT k, v FROM mu6"
    )
    before = {r["k"]: r["v"] for r in eng.sql("SELECT k, v FROM mu_v").collect()}
    assert before == {1: 15, 2: 20}
    eng.sql("ALTER TABLE mu6 DELETE WHERE v = 5")
    after = {r["k"]: r["v"] for r in eng.sql("SELECT k, v FROM mu_v").collect()}
    assert after == {1: 10, 2: 20}
    eng.sql("ALTER TABLE mu6 UPDATE v = v + 1 WHERE k = 2")
    after2 = {r["k"]: r["v"] for r in eng.sql("SELECT k, v FROM mu_v").collect()}
    assert after2 == {1: 10, 2: 21}


# --- SHOW + INTO OUTFILE (statement surface) ---------------------------------


def test_show_tables_and_views(eng):
    eng.sql("DROP TABLE IF EXISTS show_t")
    eng.sql("DROP VIEW IF EXISTS show_v")
    eng.sql("CREATE TABLE show_t (k Int64)")
    eng.sql("INSERT INTO show_t (k) VALUES (1)")
    eng.sql("CREATE VIEW show_v UPDATE BY Summing ORDER BY (k) AS "
            "SELECT k, k AS v FROM show_t")
    tables = {r["name"] for r in eng.sql("SHOW TABLES").collect()}
    views = {r["name"] for r in eng.sql("SHOW VIEWS").collect()}
    both = {(r["name"], r["type"]) for r in eng.sql("SHOW DATABASE").collect()}
    assert "show_t" in tables and "show_t" not in views
    assert "show_v" in views and "show_v" not in tables
    assert ("show_t", "table") in both and ("show_v", "view") in both


def test_outfile_formats_roundtrip(eng, tmp_path):
    for fmt in ("parquet", "json", "orc", "csv"):
        out = tmp_path / f"o.{fmt}"
        df = eng.sql(
            "select l_returnflag as rf, count(*) as n from lineitem "
            f"group by l_returnflag into outfile '{out}' format {fmt}"
        )
        rows = {r["rf"]: int(r["n"]) for r in df.collect()}
        assert len(rows) == 3 and all(v > 0 for v in rows.values())
        import os

        assert os.path.isdir(out)  # distributed write, one dir of parts


def test_outfile_requires_string_literal():
    from nutdb_spark.frontend.parser import ParseError, parse

    with pytest.raises(ParseError, match="string literal"):
        parse("select 1 into outfile 42")
    with pytest.raises(ParseError):
        parse("select 1 into outfile '/tmp/x' format")
    s = parse("select 1 as x into outfile '/tmp/x.csv' format csv")
    assert s.outfile == ("/tmp/x.csv", "csv")


def test_outfile_bad_format_rejected(eng):
    from nutdb_spark.frontend.lower import LoweringError

    with pytest.raises(LoweringError, match="OUTFILE format"):
        eng.sql("select 1 as x into outfile '/tmp/x.xyz' format xml")


def test_settings_clause_applies_conf(eng):
    eng.spark.conf.set("spark.sql.shuffle.partitions", "8")
    df = eng.sql(
        "select l_returnflag, count(*) as n from lineitem "
        "group by l_returnflag settings spark_sql_shuffle_partitions = 3"
    )
    # SETTINGS is statement-scoped: the conf was in effect while the
    # statement's physical plan was resolved, then restored — BOTH the
    # Spark conf and the engine config entry (a SETTINGS name must not
    # clobber session state the way a durable SET does)
    assert eng.spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert "spark_sql_shuffle_partitions" not in eng.config
    # the already-planned frame keeps the 3-partition shuffle
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "3" in plan.split("Exchange")[1][:120]
    assert df.count() == 3
    eng.spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_settings_underscore_escape(eng):
    # `__` spells a literal underscore in the Spark conf key
    from nutdb_spark.engine import _conf_key

    assert _conf_key("spark_sql_shuffle_partitions") == (
        "spark.sql.shuffle.partitions"
    )
    assert _conf_key("spark_foo__bar_baz") == "spark.foo_bar.baz"


def test_settings_requires_literals():
    from nutdb_spark.frontend.parser import ParseError, parse

    with pytest.raises(ParseError, match="literal"):
        parse("select 1 settings a = b")
    s = parse("select 1 as x settings a = 1, b = 'y'")
    assert s.settings == [("a", 1), ("b", "y")]


def test_explain_modes(eng):
    simple = "\n".join(
        r["plan"] for r in eng.sql("explain select 1 as x").collect()
    )
    assert "Physical Plan" in simple or "Project" in simple
    fmt = "\n".join(
        r["plan"]
        for r in eng.sql(
            "explain formatted select count(*) as n from lineitem"
        ).collect()
    )
    assert "(1) Scan parquet" in fmt or "Scan parquet" in fmt
    ana = "\n".join(
        r["plan"]
        for r in eng.sql(
            "explain analyze select count(*) as n from lineitem"
        ).collect()
    )
    assert "HashAggregate" in ana


def test_delete_from_statement(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir="/root/testdata/sf0.001", catalog_dir=str(tmp_path)
    )
    eng.sql("create table dl (k Int32, v Int64) ORDER BY (k)")
    eng.sql("insert into dl (k, v) values (1, 10), (2, 20), (3, 30)")
    eng.sql("delete from dl where k = 2")
    got = sorted(r["k"] for r in eng.sql("select k from dl").collect())
    assert got == [1, 3]


def test_update_statement(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir="/root/testdata/sf0.001", catalog_dir=str(tmp_path)
    )
    eng.sql("create table up (k Int32, v Int64) ORDER BY (k)")
    eng.sql("insert into up (k, v) values (1, 10), (2, 20)")
    eng.sql("update up set v = v * 2 where k = 2")
    got = {r["k"]: r["v"] for r in eng.sql("select k, v from up").collect()}
    assert got == {1: 10, 2: 40}


def test_update_requires_where(spark):
    from nutdb_spark.frontend.parser import ParseError, parse

    import pytest as _pytest

    with _pytest.raises(ParseError):
        parse("update t set v = 1")


# --- [EXT] OPTIMIZE DEDUPLICATE + MODIFY COLUMN ---------------------------


def test_optimize_deduplicate_full_and_by(spark, sf_dir):
    import tempfile

    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir=sf_dir, catalog_dir=tempfile.mkdtemp()
    )
    eng.sql("create table dd (a Int32, b String, c Float64)")
    eng.sql(
        "insert into dd values (1,'x',1.5),(1,'x',1.5),(1,'y',2.0),"
        "(2,'x',9.0),(1,'x',0.5)"
    )
    eng.sql("optimize table dd deduplicate")
    assert sorted(tuple(r) for r in eng.sql("select * from dd").collect()) == [
        (1, "x", 0.5), (1, "x", 1.5), (1, "y", 2.0), (2, "x", 9.0),
    ]
    eng.sql("optimize table dd final deduplicate by a, b")
    # deterministic keep: MIN over the remaining columns
    assert sorted(tuple(r) for r in eng.sql("select * from dd").collect()) == [
        (1, "x", 0.5), (1, "y", 2.0), (2, "x", 9.0),
    ]
    import pytest as _pytest

    from nutdb_spark.catalog import CatalogError

    with _pytest.raises(CatalogError, match="unknown column"):
        eng.sql("optimize table dd deduplicate by nope")


def test_modify_column_retypes_and_casts(spark, sf_dir):
    import tempfile

    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir=sf_dir, catalog_dir=tempfile.mkdtemp()
    )
    eng.sql("create table mc (a Int32, c Float64)")
    eng.sql("insert into mc values (1, 2.5), (2, 9.0)")
    eng.sql("alter table mc modify column a Int64")
    eng.sql("alter table mc modify column c String")
    df = eng.sql("select * from mc")
    assert dict(df.dtypes) == {"a": "bigint", "c": "string"}
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, "2.5"), (2, "9.0"),
    ]
    from nutdb_spark.catalog import CatalogError

    import pytest as _pytest

    with _pytest.raises(CatalogError, match="unknown column"):
        eng.sql("alter table mc modify column nope Int64")


def test_exchange_tables_swaps_data_and_views_follow(spark, sf_dir):
    import tempfile

    import pytest as _pytest

    from nutdb_spark.catalog import CatalogError
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(
        spark, data_dir=sf_dir, catalog_dir=tempfile.mkdtemp()
    )
    eng.sql("create table ta (k Int32, x Int32)")
    eng.sql("insert into ta values (1, 1)")
    eng.sql("create table tb (k Int32, x Int32)")
    eng.sql("insert into tb values (1, 2), (1, 3)")
    eng.sql(
        "create view va update by Summing order by k as "
        "select k, sum(x) as sx from ta group by k"
    )
    eng.sql("exchange tables ta and tb")
    # the NAMES swapped: ta now holds tb's two rows and vice versa
    assert eng.sql("select count() as n from ta").first()["n"] == 2
    assert eng.sql("select count() as n from tb").first()["n"] == 1
    # the view follows its base table's DATA through the swap (same
    # contract as RENAME TO — incremental state stays valid), so it
    # still sums the original rows, now named tb
    assert eng.sql("select sx from va").first()["sx"] == 1
    eng.sql("insert into tb values (1, 10)")
    assert eng.sql("select sx from va").first()["sx"] == 11
    with _pytest.raises(CatalogError, match="unknown table"):
        eng.sql("exchange tables ta and nope")
