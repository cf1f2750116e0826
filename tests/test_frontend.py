"""Frontend unit tests — mirrors the reference's own test layers:
tokenizer positive+negative cases (tokenizer/mod.rs:545-783), unescape
(literal.rs:122-152), corpus parse-only integration
(tests/parser_test.rs), plus parser semantics the reference leaves
untested (precedence, folding, statement shapes).
"""

from __future__ import annotations

import pytest

from nutdb_spark.frontend import ast_nodes as A
from nutdb_spark.frontend import tokenizer as T
from nutdb_spark.frontend.parser import ParseError, parse
from nutdb_spark.frontend.tokenizer import TokenizeError, tokenize, unescape

# --- tokenizer (mirror tokenizer/mod.rs:545-783) --------------------------


def kinds(sql):
    return [(t.type, t.text) for t in tokenize(sql)[:-1]]


def test_numeric_literals():
    assert kinds("42") == [(T.INT, "42")]
    assert kinds("0x1F")[0][0] == T.HEX
    assert tokenize("0x1F")[0].value == 31
    assert kinds("1.5") == [(T.FLOAT, "1.5")]
    assert kinds(".5") == [(T.FLOAT, ".5")]
    assert kinds("1.") == [(T.FLOAT, "1.")]
    assert kinds(".") == [(T.SYM, ".")]


def test_numeric_failures():
    with pytest.raises(TokenizeError):
        tokenize("1abc")
    with pytest.raises(TokenizeError):
        tokenize("1.5x")


def test_strings_and_escapes():
    assert tokenize("'it''s'")[0].value == "it's"
    assert tokenize('"say ""hi"""')[0].value == 'say "hi"'
    assert tokenize(r"'a\nb'")[0].value == "a\nb"
    assert tokenize(r"'a\tb'")[0].value == "a\tb"
    assert tokenize(r"'\u{48}i'")[0].value == "Hi"
    assert tokenize(r"'\q'")[0].value == "q"  # \<any> → <any>


def test_string_failures():
    with pytest.raises(TokenizeError):
        tokenize("'unterminated")
    with pytest.raises(TokenizeError):
        tokenize("'raw\nnewline'")


def test_identifiers_config_params():
    assert kinds("`weird name`") == [(T.DELIM_IDENT, "weird name")]
    assert kinds("@conf_1") == [(T.CONFIG, "conf_1")]
    assert tokenize("$3")[0].value == 3
    with pytest.raises(TokenizeError):
        tokenize("@1bad")
    with pytest.raises(TokenizeError):
        tokenize("$")
    with pytest.raises(TokenizeError):
        tokenize("``")


def test_comments_are_whitespace():
    assert kinds("1 -- comment\n + 2 /* block */ + 3") == [
        (T.INT, "1"), (T.SYM, "+"), (T.INT, "2"), (T.SYM, "+"), (T.INT, "3"),
    ]


def test_symbols():
    assert kinds("<> != <= >= << >>") == [
        (T.SYM, "!="), (T.SYM, "!="), (T.SYM, "<="),
        (T.SYM, ">="), (T.SYM, "<<"), (T.SYM, ">>"),
    ]
    with pytest.raises(TokenizeError):
        tokenize("!")


def test_unescape_line_continuation():
    assert unescape("a\\\nb".replace("\\\n", "\\\n"), "'") == "a\nb"


# --- corpus integration (mirror tests/parser_test.rs) ---------------------


@pytest.mark.parametrize("n", range(1, 15))
def test_reference_corpus_parses(n):
    sql = open(f"/root/reference/tests/sql/{n}.sql").read()
    parse(sql)  # must not raise


# --- AST traversal ----------------------------------------------------------


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT CASE WHEN a > 1 THEN zz ELSE 0 END FROM t",
        "SELECT {'k': zz} FROM t",
        "SELECT * REPLACE (zz + 1 AS a) FROM t",
        "SELECT a FROM t ORDER BY a WITH FILL FROM zz TO 10",
        "SELECT a FROM t SAMPLE 0.5 BY (zz)",
        "WITH zz + 1 AS x SELECT x FROM t",
        "WITH x AS (SELECT a FROM zz) SELECT a FROM x",
        "SELECT a, b FROM t ORDER BY a WITH FILL INTERPOLATE (b AS zz + 1)",
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = zz",
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (v) VALUES (zz)",
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = zz",
        "INSERT INTO t VALUES (1, 'a'), (2, zz + 1)",
        "SELECT * FROM (VALUES (1, zz)) AS v(a, b)",
    ],
)
def test_walk_and_replace_reach_every_container(sql):
    """An Ident or TableRef named zz planted in each container shape a
    node field takes (lists, tuples, tuples in lists, nested tuples,
    lists of lists) is reached by walk and rebuilt by replace."""

    def names(tree):
        return {
            n.name for n in A.walk(tree)
            if isinstance(n, (A.Ident, A.TableRef))
        }

    def rename(n):
        if isinstance(n, (A.Ident, A.TableRef)) and n.name == "zz":
            return type(n)("yy")
        return None

    stmt = parse(sql)
    assert "zz" in names(stmt)
    assert A.replace(stmt, lambda n: None) == stmt
    renamed = A.replace(stmt, rename)
    assert "yy" in names(renamed) and "zz" not in names(renamed)
    assert "zz" in names(stmt)  # replace never mutates its input
    # a stop type is yielded but not descended
    assert not any(
        isinstance(n, (A.Ident, A.TableRef))
        for n in A.walk(stmt, stop=type(stmt))
    )


# --- parser semantics -----------------------------------------------------


def q(sql) -> A.SelectCore:
    stmt = parse(sql)
    assert isinstance(stmt, A.SelectStmt)
    return stmt.query


def test_precedence_arith_vs_compare():
    e = q("SELECT 1 + 2 * 3 < x AND y").columns[0][0]
    # AND is loosest; < next; * binds over +
    assert isinstance(e, A.BinOp) and e.op == "and"
    cmp = e.left
    assert isinstance(cmp, A.BinOp) and cmp.op == "<"
    add = cmp.left
    assert isinstance(add, A.BinOp) and add.op == "+"
    assert isinstance(add.right, A.BinOp) and add.right.op == "*"


def test_constant_folding():
    # simplify.rs behaviors, parse-time
    assert q("SELECT 1 = 1").columns[0][0] == A.Lit(True, "bool")
    assert q("SELECT 2 != 2").columns[0][0] == A.Lit(False, "bool")
    assert q("SELECT null IS NULL").columns[0][0] == A.Lit(True, "bool")
    assert q("SELECT 5 IS NOT NULL").columns[0][0] == A.Lit(True, "bool")
    e = q("SELECT x AND true").columns[0][0]
    assert e == A.Ident("x")
    e = q("SELECT x OR true").columns[0][0]
    assert e == A.Lit(True, "bool")
    e = q("SELECT NOT false").columns[0][0]
    assert e == A.Lit(True, "bool")


def test_union_precedence():
    s = q("SELECT a FROM t UNION ALL SELECT b FROM u INTERSECT SELECT c FROM v")
    assert isinstance(s, A.SetOp) and s.op == "union_all"
    assert isinstance(s.right, A.SetOp) and s.right.op == "intersect"


def test_union_requires_all_or_distinct():
    with pytest.raises(ParseError):
        parse("SELECT a FROM t UNION SELECT b FROM u")


def test_limit_forms():
    assert q("SELECT a FROM t LIMIT 5").limit == A.Limit(A.Lit(5, "int"))
    lim = q("SELECT a FROM t LIMIT 2, 5").limit
    assert lim.n == A.Lit(5, "int") and lim.offset == A.Lit(2, "int")
    lim = q("SELECT a FROM t LIMIT 5 OFFSET 2").limit
    assert lim.n == A.Lit(5, "int") and lim.offset == A.Lit(2, "int")
    lim = q("SELECT a FROM t ORDER BY a LIMIT 3 WITH TIES").limit
    assert lim.with_ties


def test_join_kinds():
    s = q(
        "SELECT 1 FROM a LEFT SEMI JOIN b ON a.x = b.y "
        "RIGHT ANTI JOIN c USING (k) FULL OUTER JOIN d ON 1 = 1"
    )
    assert [j.kind for j in s.joins] == ["left_semi", "right_anti", "full"]
    assert s.joins[1].using == ["k"]


def test_distinct_on():
    s = q("SELECT DISTINCT ON (a, b) a, b, c FROM t")
    assert len(s.distinct_on) == 2 and not s.distinct


def test_case_if_sugar():
    e = q("SELECT IF a > 1 THEN 'x' ELSE 'y' END").columns[0][0]
    assert isinstance(e, A.Case) and e.scrutinee is None
    e = q("SELECT CASE x WHEN 1 THEN 'a' ELSE 'b' END").columns[0][0]
    assert isinstance(e, A.Case) and e.scrutinee == A.Ident("x")


def test_insert_arity_check():
    with pytest.raises(ParseError):
        parse("INSERT INTO t VALUES (1, 2), (3)")
    with pytest.raises(ParseError):
        parse("INSERT INTO t (a, b) VALUES (1, 2, 3)")


def test_create_table_shape():
    stmt = parse(
        """
        CREATE TABLE IF NOT EXISTS t (
          id UInt32,
          price Decimal64(2),
          tags Array(String),
          kind Enum('x', 'y' = 5, 'z'),
          note Nullable(String) DEFAULT 'n/a' COMMENT 'c',
          INDEX ix minmax(price),
          CONSTRAINT pos CHECK price >= 0
        ) PRIMARY KEY (id) ORDER BY (id, price) PARTITION BY kind COMMENT 'tbl'
        """
    )
    d = stmt.definition
    assert d.if_not_exists and d.primary_key == ["id"]
    assert d.order_by == ["id", "price"]
    assert [c.name for c in d.columns] == ["id", "price", "tags", "kind", "note"]
    enum = d.columns[3].dtype
    assert [(b.name, b.value) for b in enum.args] == [("x", 1), ("y", 5), ("z", 6)]
    assert d.columns[4].dtype.nullable  # Nullable(...) wrapper
    assert not d.columns[0].dtype.nullable  # non-nullable by default
    assert d.indexes[0].name == "ix" and d.constraints[0].name == "pos"


def test_view_strategy_forms():
    # [EXT] omitting UPDATE BY creates a PLAIN (non-materialized) view
    stmt = parse("CREATE VIEW v AS SELECT 1")
    assert stmt.definition.strategy == "plain"
    stmt = parse("CREATE VIEW v UPDATE BY Summing ORDER BY (k) AS SELECT 1")
    assert stmt.definition.strategy == "Summing"


def test_single_statement_enforced():
    with pytest.raises(ParseError):
        parse("SELECT 1; SELECT 2")
    parse("SELECT 1;")  # trailing semicolon ok


def test_set_statement():
    s = parse("SET @max_memory = 4096")
    assert s.name == "max_memory" and s.value == A.Lit(4096, "int")


def test_map_type_logical_order():
    stmt = parse("CREATE TABLE t (m Map(String, Int64))")
    m = stmt.definition.columns[0].dtype
    # reference has a k/v swap bug (mod.rs:1780); we keep documented order
    assert m.args[0].name == "string" and m.args[1].name == "int64"


def test_multiset_setops_parse_and_precedence():
    from nutdb_spark.frontend import ast_nodes as A
    from nutdb_spark.frontend.parser import parse

    # ALL variants produce the multiset ops; INTERSECT still binds
    # tighter than EXCEPT, left-associative chains
    st = parse(
        "SELECT a FROM t EXCEPT ALL SELECT b FROM u "
        "INTERSECT ALL SELECT c FROM v"
    )
    q = st.query
    assert isinstance(q, A.SetOp) and q.op == "except_all"
    assert isinstance(q.right, A.SetOp) and q.right.op == "intersect_all"
    # explicit DISTINCT spellings keep the distinct ops
    st2 = parse("SELECT a FROM t INTERSECT DISTINCT SELECT b FROM u")
    assert st2.query.op == "intersect"
    st3 = parse("SELECT a FROM t EXCEPT DISTINCT SELECT b FROM u")
    assert st3.query.op == "except"
