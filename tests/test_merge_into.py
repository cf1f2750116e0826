"""[EXT] MERGE INTO — ANSI upsert semantics over the catalog.

Pins: clause ORDER (first matching WHEN per row wins), the ANSI
cardinality rule (multiple source matches per target row is an
error), conditional NOT MATCHED fall-through, subquery sources,
defaults/serials/CHECK riding the standard insert path, ambiguity
fences, and incremental-view repair after the mutation.
"""

from __future__ import annotations

import tempfile

import pytest

from nutdb_spark.catalog import CatalogError
from nutdb_spark.engine import NutEngine
from nutdb_spark.frontend.parser import ParseError, parse


@pytest.fixture()
def eng(spark):
    return NutEngine(
        spark,
        data_dir="/root/testdata/sf0.001",
        catalog_dir=tempfile.mkdtemp(),
    )


def _mk(eng, rows_t, rows_s):
    eng.sql("CREATE TABLE mt (id Int64, tag String, v Int64)")
    if rows_t:
        eng.sql(f"INSERT INTO mt (id, tag, v) VALUES {rows_t}")
    eng.sql("CREATE TABLE ms (id Int64, tag String, v Int64)")
    if rows_s:
        eng.sql(f"INSERT INTO ms (id, tag, v) VALUES {rows_s}")


def _rows(eng):
    return sorted(tuple(r) for r in eng.sql("select * from mt").collect())


def test_merge_upsert_update_delete_insert(eng):
    _mk(eng, "(1,'a',10), (2,'b',20), (3,'a',30)",
        "(2,'b',99), (3,'x',7), (4,'c',40)")
    eng.sql(
        "MERGE INTO mt AS t USING ms AS s ON t.id = s.id "
        "WHEN MATCHED AND s.tag = 'x' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag "
        "WHEN NOT MATCHED THEN INSERT (id, tag, v) "
        "VALUES (s.id, s.tag, s.v)"
    )
    assert _rows(eng) == [(1, "a", 10), (2, "b", 99), (4, "c", 40)]


def test_merge_first_matching_clause_wins(eng):
    _mk(eng, "(1,'a',10), (2,'a',20)", "(1,'a',1), (2,'a',2)")
    # both clauses match row 1; the FIRST (v = 100) must win
    eng.sql(
        "MERGE INTO mt USING ms AS s ON mt.id = s.id "
        "WHEN MATCHED AND s.v = 1 THEN UPDATE SET v = 100 "
        "WHEN MATCHED THEN UPDATE SET v = 200"
    )
    assert _rows(eng) == [(1, "a", 100), (2, "a", 200)]


def test_merge_multiple_source_matches_error(eng):
    _mk(eng, "(1,'a',10)", "(1,'a',1), (1,'b',2)")
    with pytest.raises(CatalogError, match="multiple source rows"):
        eng.sql(
            "MERGE INTO mt USING ms AS s ON mt.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    assert _rows(eng) == [(1, "a", 10)]  # nothing applied


def test_merge_conditional_insert_fall_through(eng):
    _mk(eng, "(1,'a',10)", "(2,'keep',2), (3,'skip',3), (4,'keep',4)")
    eng.sql(
        "MERGE INTO mt USING ms AS s ON mt.id = s.id "
        "WHEN NOT MATCHED AND s.tag = 'keep' THEN INSERT (id, tag, v) "
        "VALUES (s.id, s.tag, s.v * 10)"
    )
    # 'skip' row matched no clause and is simply not inserted
    assert _rows(eng) == [(1, "a", 10), (2, "keep", 20), (4, "keep", 40)]


def test_merge_subquery_source_and_expressions(eng):
    _mk(eng, "(1,'a',10), (2,'b',20)", "(1,'a',5), (9,'z',9)")
    eng.sql(
        "MERGE INTO mt USING "
        "(SELECT id, tag, v + 1 AS v FROM ms WHERE v < 9) AS s "
        "ON mt.id = s.id AND mt.tag = s.tag "
        "WHEN MATCHED THEN UPDATE SET v = mt.v + s.v "
        "WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (s.id, s.tag, 0)"
    )
    assert _rows(eng) == [(1, "a", 16), (2, "b", 20)]


def test_merge_ambiguous_bare_column_errors(eng):
    _mk(eng, "(1,'a',10)", "(1,'a',1)")
    with pytest.raises(CatalogError, match="ambiguous"):
        eng.sql(
            "MERGE INTO mt USING ms AS s ON mt.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = v + 1"
        )


def test_merge_unknown_and_serial_columns_error(eng):
    eng.sql("CREATE TABLE mt (id Serial64, tag String, v Int64)")
    eng.sql("INSERT INTO mt (tag, v) VALUES ('a', 1)")
    eng.sql("CREATE TABLE ms (tag String, v Int64)")
    eng.sql("INSERT INTO ms (tag, v) VALUES ('a', 2)")
    with pytest.raises(CatalogError, match="serial"):
        eng.sql(
            "MERGE INTO mt USING ms AS s ON mt.tag = s.tag "
            "WHEN MATCHED THEN UPDATE SET id = 99"
        )
    with pytest.raises(CatalogError, match="unknown column"):
        eng.sql(
            "MERGE INTO mt USING ms AS s ON mt.tag = s.tag "
            "WHEN MATCHED THEN UPDATE SET nope = 1"
        )


def test_merge_insert_rides_defaults_serials_checks(eng):
    eng.sql(
        "CREATE TABLE mt (id Serial64, tag String, v Int64 DEFAULT 7, "
        "CONSTRAINT pos CHECK v >= 0)"
    )
    eng.sql("INSERT INTO mt (tag, v) VALUES ('a', 1)")
    eng.sql("CREATE TABLE ms (tag String)")
    eng.sql("INSERT INTO ms (tag) VALUES ('b'), ('c')")
    eng.sql(
        "MERGE INTO mt USING ms AS s ON mt.tag = s.tag "
        "WHEN NOT MATCHED THEN INSERT (tag) VALUES (s.tag)"
    )
    rows = sorted(
        tuple(r) for r in eng.sql("select id, tag, v from mt").collect()
    )
    # serial ids dense 1..3 and the default v = 7 filled on merged
    # inserts; WHICH of b/c draws 2 vs 3 is partition-layout order
    # (dense + unique is the distributed-sequence contract — a
    # content-correlated order would need a sort the statement never
    # asked for), so assert the mapping, not the pairing
    assert sorted(r[1:] for r in rows) == [("a", 1), ("b", 7), ("c", 7)]
    assert sorted(r[0] for r in rows) == [1, 2, 3]
    by_tag = {r[1]: r[0] for r in rows}
    assert by_tag["a"] == 1  # pre-existing row keeps its id
    # a CHECK-violating update refuses and leaves the table untouched
    with pytest.raises(CatalogError):
        eng.sql(
            "MERGE INTO mt USING ms AS s ON mt.tag = s.tag "
            "WHEN MATCHED THEN UPDATE SET v = -1"
        )


def test_merge_repairs_dependent_views(eng):
    _mk(eng, "(1,'a',10), (2,'b',20)", "(1,'a',100), (3,'c',3)")
    eng.sql(
        "CREATE VIEW mv UPDATE BY Summing ORDER BY (tag) AS "
        "SELECT tag, v FROM mt"
    )
    eng.sql(
        "MERGE INTO mt USING ms AS s ON mt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, tag, v) "
        "VALUES (s.id, s.tag, s.v)"
    )
    got = sorted(
        tuple(r) for r in eng.sql("select tag, v from mv").collect()
    )
    assert got == [("a", 100), ("b", 20), ("c", 3)]


def test_merge_parse_errors():
    with pytest.raises(ParseError, match="WHEN clause"):
        parse("MERGE INTO t USING s ON t.id = s.id")
    with pytest.raises(ParseError, match="MATCHED or NOT MATCHED"):
        parse("MERGE INTO t USING s ON t.id = s.id WHEN nope THEN DELETE")
    with pytest.raises(ParseError, match="UPDATE SET or DELETE"):
        parse(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED THEN INSERT (a) VALUES (1)"
        )
    with pytest.raises(ParseError, match="arity"):
        parse(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (a, b) VALUES (1)"
        )


def test_merge_not_matched_by_source_full_sync(eng):
    """The CDC full-snapshot sync: rows absent from the source delete
    (or flag), matched rows update, new rows insert — one statement."""
    _mk(eng, "(1,'a',10), (2,'b',20), (3,'c',30)",
        "(1,'a',11), (4,'d',40)")
    eng.sql(
        "MERGE INTO mt USING ms AS s ON mt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, tag, v) "
        "VALUES (s.id, s.tag, s.v) "
        "WHEN NOT MATCHED BY SOURCE AND mt.tag = 'b' THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'"
    )
    assert _rows(eng) == [
        (1, "a", 11), (3, "stale", 30), (4, "d", 40),
    ]


def test_merge_by_source_rejects_source_refs(eng):
    _mk(eng, "(1,'a',10)", "(2,'b',2)")
    with pytest.raises(CatalogError, match="target columns only"):
        eng.sql(
            "MERGE INTO mt USING ms AS s ON mt.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.v"
        )


def test_merge_case_over_source_columns(eng):
    """Column references inside CASE branches (tuples in a list) are
    rewritten like any other: the source's `s.v` resolves."""
    _mk(eng, "(1,'a',10), (2,'b',20)", "(1,'a',5), (2,'b',7)")
    eng.sql(
        "MERGE INTO mt AS t USING ms AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET "
        "v = CASE WHEN s.v > 6 THEN s.v ELSE t.v END"
    )
    assert _rows(eng) == [(1, "a", 10), (2, "b", 7)]


def test_merge_by_source_rejects_source_refs_inside_case(eng):
    _mk(eng, "(1,'a',10)", "(2,'b',2)")
    with pytest.raises(CatalogError, match="target columns only"):
        eng.sql(
            "MERGE INTO mt AS t USING ms AS s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
            "v = CASE WHEN s.v > 6 THEN 1 ELSE t.v END"
        )


def test_merge_by_source_parse_errors():
    with pytest.raises(ParseError, match="SOURCE or TARGET"):
        parse(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN NOT MATCHED BY nope THEN DELETE"
        )
    with pytest.raises(ParseError, match="UPDATE SET or DELETE"):
        parse(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN INSERT (a) VALUES (1)"
        )
    # BY TARGET is the explicit spelling of the plain form
    stmt = parse(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED BY TARGET THEN INSERT (a) VALUES (1)"
    )
    assert len(stmt.not_matched) == 1
    assert not stmt.not_matched_by_source


def test_merge_randomized_against_python_simulator(eng):
    """Randomized scenario armor: random target/source tables run
    through a fixed 3-clause MERGE and must equal a pure-Python
    apply implementing the same semantics (ordered clauses,
    first-match-wins, unmatched-delete fall-through, BY SOURCE
    flagging)."""
    import random

    rnd = random.Random(1214)
    for trial in range(6):
        eng.sql("DROP TABLE IF EXISTS mt")
        eng.sql("DROP TABLE IF EXISTS ms")
        tgt = {
            k: (rnd.choice("abc"), rnd.randrange(100))
            for k in rnd.sample(range(12), rnd.randrange(1, 9))
        }
        src = {
            k: (rnd.choice("abcx"), rnd.randrange(100))
            for k in rnd.sample(range(12), rnd.randrange(1, 9))
        }
        _mk(
            eng,
            ", ".join(
                f"({k},'{t}',{v})" for k, (t, v) in sorted(tgt.items())
            ),
            ", ".join(
                f"({k},'{t}',{v})" for k, (t, v) in sorted(src.items())
            ),
        )
        eng.sql(
            "MERGE INTO mt USING ms AS s ON mt.id = s.id "
            "WHEN MATCHED AND s.tag = 'x' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET v = s.v + mt.v "
            "WHEN NOT MATCHED AND s.tag != 'x' THEN INSERT (id, tag, v) "
            "VALUES (s.id, s.tag, s.v) "
            "WHEN NOT MATCHED BY SOURCE AND mt.v < 50 THEN "
            "UPDATE SET tag = 'old'"
        )
        want = {}
        for k, (t, v) in tgt.items():
            if k in src:
                st, sv = src[k]
                if st == "x":
                    continue  # clause 1: delete
                want[k] = (t, sv + v)  # clause 2 updates v, keeps tag
            else:
                want[k] = ("old" if v < 50 else t, v)  # BY SOURCE flag
        for k, (t, v) in src.items():
            if k not in tgt and t != "x":
                want[k] = (t, v)
        got = {r[0]: (r[1], r[2]) for r in _rows(eng)}
        assert got == want, (trial, tgt, src)
