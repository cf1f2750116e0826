"""[EXT] AST → dialect-SQL printer.

Renders a parsed query back to dialect text — the engine side of
EXPLAIN SYNTAX and the catalog's stored format: every stored expression
and view query is printed text, parsed again on use (so SHOW CREATE
prints it as it is). The contract is ROUND-TRIP FIDELITY, not byte
identity: parse(print(ast)) must lower to the same result as the
original (pinned in tests/test_printer.py). Unknown node types raise
``Unprintable`` instead of emitting wrong SQL.
"""

from __future__ import annotations

from nutdb_spark.frontend import ast_nodes as A


class Unprintable(ValueError):
    pass


def _str_lit(s: str) -> str:
    body = (
        s.replace("\\", "\\\\")
        .replace("'", "''")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )
    return f"'{body}'"


def expr(e) -> str:  # noqa: C901 — one dispatch table, flat by design
    if e is None:
        raise Unprintable("None expression")
    if isinstance(e, A.Lit):
        if e.kind == "string":
            return _str_lit(e.value)
        if e.kind == "null":
            return "NULL"
        if e.kind == "bool":
            return "true" if e.value else "false"
        return repr(e.value)
    if isinstance(e, A.Ident):
        return f"{e.qualifier}.{e.name}" if e.qualifier else e.name
    if isinstance(e, A.Param):
        return f"${e.index}"
    if isinstance(e, A.ConfigIdent):
        return f"@{e.name}"
    if isinstance(e, A.Interval):
        return f"INTERVAL {e.count} {e.unit.upper()}"
    if isinstance(e, A.Wildcard):
        out = f"{e.qualifier}.*" if e.qualifier else "*"
        if e.except_cols:
            out += f" EXCEPT ({', '.join(e.except_cols)})"
        if e.replaces:
            out += " REPLACE (" + ", ".join(
                f"{expr(x)} AS {c}" for x, c in e.replaces
            ) + ")"
        for fn in e.applies or []:
            out += f" APPLY({fn})"
        return out
    if isinstance(e, A.FnCall):
        inner = ", ".join(expr(a) for a in e.args)
        if e.distinct:
            inner = "DISTINCT " + inner
        if e.params is not None:
            ps = ", ".join(expr(p) for p in e.params)
            out = f"{e.name}({ps})({inner})"
        else:
            out = f"{e.name}({inner})"
        # COLUMNS('re') carries its APPLY chain on the call node —
        # dropping it would print WRONG SQL (raw columns under GROUP BY)
        for fn in getattr(e, "applies", None) or []:
            out += f" APPLY({fn})"
        return out
    if isinstance(e, A.Lambda):
        ps = ", ".join(e.params)
        head = ps if len(e.params) == 1 else f"({ps})"
        return f"{head} -> {expr(e.body)}"
    if isinstance(e, A.BinOp):
        # multi-word ops whose AST tag is not their SQL spelling
        op = {
            "is_distinct": "IS DISTINCT FROM",
            "is_not_distinct": "IS NOT DISTINCT FROM",
        }.get(e.op, e.op.upper())
        return f"({expr(e.left)} {op} {expr(e.right)})"
    if isinstance(e, A.UnOp):
        op = e.op
        inner = expr(e.operand)
        if op == "not":
            return f"(NOT {inner})"
        if op == "neg":
            return f"(-{inner})"
        if op == "bitnot":
            return f"(~{inner})"
        if op == "isnull":
            return f"({inner} IS NULL)"
        if op == "isnotnull":
            return f"({inner} IS NOT NULL)"
        raise Unprintable(f"unary op {op!r}")
    if isinstance(e, A.Between):
        neg = "NOT " if e.negated else ""
        return (
            f"({expr(e.expr)} {neg}BETWEEN {expr(e.low)} "
            f"AND {expr(e.high)})"
        )
    if isinstance(e, A.InList):
        neg = "NOT " if e.negated else ""
        return (
            f"({expr(e.expr)} {neg}IN "
            f"({', '.join(expr(x) for x in e.items)}))"
        )
    if isinstance(e, A.InSubquery):
        neg = "NOT " if e.negated else ""
        return f"({expr(e.expr)} {neg}IN ({query(e.query)}))"
    if isinstance(e, A.Exists):
        neg = "NOT " if e.negated else ""
        return f"({neg}EXISTS ({query(e.query)}))"
    if isinstance(e, A.ScalarSubquery):
        return f"({query(e.query)})"
    if isinstance(e, A.QuantCompare):
        return (
            f"({expr(e.expr)} {e.op} {e.quant.upper()} "
            f"({query(e.query)}))"
        )
    if isinstance(e, A.Case):
        out = "CASE"
        if e.scrutinee is not None:
            out += f" {expr(e.scrutinee)}"
        for c, r in e.whens:
            out += f" WHEN {expr(c)} THEN {expr(r)}"
        if e.else_ is not None:
            out += f" ELSE {expr(e.else_)}"
        return out + " END"
    if isinstance(e, A.ArrayLit):
        return "[" + ", ".join(expr(x) for x in e.items) + "]"
    if isinstance(e, A.TupleLit):
        return "(" + ", ".join(expr(x) for x in e.items) + ")"
    if isinstance(e, A.MapLit):
        inner = ", ".join(f"{expr(k)}: {expr(v)}" for k, v in e.entries)
        return "{" + inner + "}"
    if isinstance(e, A.IndexAccess):
        return f"{expr(e.base)}[{expr(e.index)}]"
    if isinstance(e, A.TupleAccess):
        return f"{expr(e.expr)}.{e.field}"
    if isinstance(e, A.Cast):
        return f"CAST({expr(e.expr)} AS {_dtype(e.dtype)})"
    if isinstance(e, A.WindowCall):
        over = []
        if e.partition_by:
            over.append(
                "PARTITION BY "
                + ", ".join(expr(p) for p in e.partition_by)
            )
        if e.order_by:
            over.append(
                "ORDER BY " + ", ".join(_order_item(o) for o in e.order_by)
            )
        if e.frame is not None:
            kind, lo, hi = e.frame
            over.append(
                f"{kind.upper()} BETWEEN {_bound(lo)} AND {_bound(hi)}"
            )
        return f"{expr(e.fn)} OVER ({' '.join(over)})"
    raise Unprintable(f"node {type(e).__name__}")


def _bound(b) -> str:
    from nutdb_spark.frontend import ast_nodes as A

    kind, n = b
    if isinstance(n, A.Interval):
        n = f"INTERVAL {n.count} {n.unit.upper()}"
    return {
        "up": "UNBOUNDED PRECEDING",
        "uf": "UNBOUNDED FOLLOWING",
        "cur": "CURRENT ROW",
        "pre": f"{n} PRECEDING",
        "fol": f"{n} FOLLOWING",
    }[kind]


def _dtype(d) -> str:
    name = getattr(d, "name", None)
    if name is None:
        raise Unprintable("untyped CAST")
    base = {
        "int8": "Int8", "int16": "Int16", "int32": "Int32",
        "int64": "Int64", "uint8": "UInt8", "uint16": "UInt16",
        "uint32": "UInt32", "uint64": "UInt64", "float32": "Float32",
        "float64": "Float64", "string": "String", "boolean": "Boolean",
        "date": "Date", "datetime": "Datetime",
    }.get(name)
    if base is None:
        if name == "array" and d.args:
            return f"Array({_dtype(d.args[0])})"
        raise Unprintable(f"type {name!r}")
    if getattr(d, "nullable", False):
        return f"Nullable({base})"
    return base


def _order_item(o) -> str:
    out = expr(o.expr)
    if not o.asc:
        out += " DESC"
    if o.nulls:
        out += f" NULLS {o.nulls.upper()}"
    if o.fill is not None:
        f_from, f_to, f_step = o.fill
        out += " WITH FILL"
        if f_from is not None:
            out += " FROM " + expr(f_from)
        if f_to is not None:
            out += " TO " + expr(f_to)
        if f_step is not None:
            out += " STEP " + expr(f_step)
    return out


def _source(src, alias) -> str:
    if isinstance(src, A.TableRef):
        out = src.name
    elif isinstance(src, A.TableFn):
        out = f"{src.name}({', '.join(expr(a) for a in src.args)})"
    elif isinstance(src, A.ValuesTable):
        out = "(VALUES " + ", ".join(
            "(" + ", ".join(expr(x) for x in row) + ")" for row in src.rows
        ) + ")"
        if alias:
            out += f" AS {alias}"
        if src.names:
            out += "(" + ", ".join(src.names) + ")"
        return out
    elif isinstance(src, (A.SelectCore, A.SetOp)) or hasattr(
        src, "columns"
    ):
        out = f"({query(src)})"
    else:
        raise Unprintable(f"source {type(src).__name__}")
    if alias:
        out += f" AS {alias}"
    return out


def query(q) -> str:  # noqa: C901
    if isinstance(q, A.SetOp):
        op = {
            "union_all": "UNION ALL",
            "union_distinct": "UNION DISTINCT",
            "intersect": "INTERSECT",
            "intersect_all": "INTERSECT ALL",
            "except": "EXCEPT",
            "except_all": "EXCEPT ALL",
        }.get(q.op)
        if op is None:
            raise Unprintable(f"set op {q.op!r}")
        return f"{query(q.left)} {op} {query(q.right)}"
    if not isinstance(q, A.SelectCore):
        raise Unprintable(f"query {type(q).__name__}")
    for attr in ("settings", "outfile"):
        if getattr(q, attr, None):
            raise Unprintable(f"clause {attr}")
    # named WINDOW clause: `OVER w` references are resolved into the
    # WindowCall nodes at parse time, so every call prints its full
    # inline spec and the clause itself needs no output — the printed
    # query is round-trip-identical without it
    parts = []
    if q.ctes or getattr(q, "expr_aliases", None):
        items = []
        for c in q.ctes:
            items.append(f"{c.name} AS ({query(c.query)})")
        for name, e in getattr(q, "expr_aliases", None) or []:
            # ClickHouse scalar WITH: `WITH <expr> AS <name>`
            items.append(f"{expr(e)} AS {name}")
        kw = (
            "WITH RECURSIVE "
            if any(c.recursive for c in q.ctes)
            else "WITH "
        )
        parts.append(kw + ", ".join(items))
    sel = "SELECT "
    if q.distinct:
        sel += "DISTINCT "
    if getattr(q, "distinct_on", None):
        sel = (
            "SELECT DISTINCT ON ("
            + ", ".join(expr(x) for x in q.distinct_on)
            + ") "
        )
    cols = []
    for e, a in q.columns:
        s = expr(e)
        if a:
            s += f" AS {a}"
        cols.append(s)
    parts.append(sel + ", ".join(cols))
    if q.from_ is not None:
        src = "FROM " + _source(q.from_.source, q.from_.alias)
        if getattr(q.from_, "final", False):
            src += " FINAL"
        smp = getattr(q.from_, "sample", None)
        if smp is not None:
            frac, key = smp
            src += f" SAMPLE {frac} BY ({expr(key)})"
        parts.append(src)
    for j in q.joins:
        if isinstance(j, A.ArrayJoin):
            # bare-ident items alias themselves at parse time, so
            # printing the explicit AS form is always re-parseable
            parts.append(
                ("LEFT " if j.left else "")
                + "ARRAY JOIN "
                + ", ".join(
                    f"{expr(e)} AS {a}" for e, a in j.items
                )
            )
            continue
        kw = {
            "inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN",
            "full": "FULL JOIN", "cross": "CROSS JOIN",
            "left_semi": "LEFT SEMI JOIN", "right_semi": "RIGHT SEMI JOIN",
            "left_anti": "LEFT ANTI JOIN", "right_anti": "RIGHT ANTI JOIN",
            "asof": "ASOF JOIN", "left_asof": "LEFT ASOF JOIN",
            "inner_any": "INNER ANY JOIN", "left_any": "LEFT ANY JOIN",
            "right_any": "RIGHT ANY JOIN",
        }.get(j.kind)
        if kw is None:
            raise Unprintable(f"join {j.kind!r}")
        if getattr(j, "broadcast", False):
            kw = "GLOBAL " + kw
        s = f"{kw} {_source(j.source, j.alias)}"
        if j.on is not None:
            s += f" ON {expr(j.on)}"
        elif j.using is not None:
            s += f" USING ({', '.join(j.using)})"
        if getattr(j, "within", None) is not None:
            s += f" WITHIN {expr(j.within)}"
        parts.append(s)
    if getattr(q, "prewhere", None) is not None:
        parts.append("PREWHERE " + expr(q.prewhere))
    if q.where is not None:
        parts.append("WHERE " + expr(q.where))
    if getattr(q, "group_all", False):
        parts.append("GROUP BY ALL")
    elif getattr(q, "group_sets", None) is not None:
        # group_by holds the ordered union of set members; each set is
        # a list of indexes into it
        parts.append(
            "GROUP BY GROUPING SETS ("
            + ", ".join(
                "(" + ", ".join(expr(q.group_by[i]) for i in idxs) + ")"
                for idxs in q.group_sets
            )
            + ")"
        )
    elif q.group_by:
        g = "GROUP BY " + ", ".join(expr(x) for x in q.group_by)
        mod = getattr(q, "group_modifier", None)
        if mod in ("rollup", "cube", "totals"):
            g += f" WITH {mod.upper()}"
        elif mod is not None:
            raise Unprintable(f"group modifier {mod!r}")
        parts.append(g)
    if q.having is not None:
        parts.append("HAVING " + expr(q.having))
    if getattr(q, "qualify", None) is not None:
        parts.append("QUALIFY " + expr(q.qualify))
    if q.order_by:
        parts.append(
            "ORDER BY " + ", ".join(_order_item(o) for o in q.order_by)
        )
        if getattr(q, "interpolate", None):
            parts.append(
                "INTERPOLATE ("
                + ", ".join(
                    name if e is None else f"{name} AS {expr(e)}"
                    for name, e in q.interpolate
                )
                + ")"
            )
    lb = getattr(q, "limit_by", None)
    if lb is not None:
        s = "LIMIT "
        if lb.offset is not None:
            s += expr(lb.offset) + ", "
        s += expr(lb.n) + " BY " + ", ".join(expr(k) for k in lb.keys)
        parts.append(s)
    if q.limit is not None:
        s = "LIMIT " + expr(q.limit.n)
        if q.limit.offset is not None:
            s += " OFFSET " + expr(q.limit.offset)
        if q.limit.with_ties:
            s += " WITH TIES"
        parts.append(s)
    return " ".join(parts)


def _merge_assignments(assignments) -> str:
    return ", ".join(f"{col} = {expr(e)}" for col, e in assignments)


def _merge_action(action) -> str:
    if action[0] == "update":
        return "UPDATE SET " + _merge_assignments(action[1])
    if action[0] == "delete":
        return "DELETE"
    raise Unprintable(f"merge action {action[0]!r}")


def merge(m: "A.MergeStmt") -> str:
    """Re-parseable text of a MERGE INTO statement — the flagship
    mutation statement joins the SELECT family in EXPLAIN SYNTAX /
    SHOW CREATE-style tooling (every clause the parser accepts prints
    back: aliases, subquery sources, guard conditions, ordered WHEN
    clauses, NOT MATCHED BY SOURCE)."""
    parts = [f"MERGE INTO {m.table}"]
    if m.target_alias:
        parts.append(f"AS {m.target_alias}")
    if isinstance(m.source, str):
        parts.append(f"USING {m.source}")
    else:
        parts.append(f"USING ({query(m.source)})")
    if m.source_alias:
        parts.append(f"AS {m.source_alias}")
    parts.append(f"ON {expr(m.on)}")
    for cond, action in m.matched:
        s = "WHEN MATCHED"
        if cond is not None:
            s += f" AND {expr(cond)}"
        parts.append(s + " THEN " + _merge_action(action))
    for cond, cols, exprs in m.not_matched:
        s = "WHEN NOT MATCHED"
        if cond is not None:
            s += f" AND {expr(cond)}"
        s += " THEN INSERT"
        if cols is not None:
            s += " (" + ", ".join(cols) + ")"
        s += " VALUES (" + ", ".join(expr(e) for e in exprs) + ")"
        parts.append(s)
    for cond, action in getattr(m, "not_matched_by_source", []) or []:
        s = "WHEN NOT MATCHED BY SOURCE"
        if cond is not None:
            s += f" AND {expr(cond)}"
        parts.append(s + " THEN " + _merge_action(action))
    return " ".join(parts)


def statement(s) -> str:
    """Statement-level dispatch: queries through ``query``, MERGE
    through ``merge``; everything else stays loudly Unprintable."""
    if isinstance(s, A.MergeStmt):
        return merge(s)
    if isinstance(s, (A.SelectCore, A.SetOp)):
        return query(s)
    raise Unprintable(f"statement {type(s).__name__}")
