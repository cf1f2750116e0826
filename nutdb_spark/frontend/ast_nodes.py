"""NutDB dialect AST — Python mirror of the reference's typed AST
(src/parser/ast/*.rs, 607 LoC). One dataclass per node; field names
follow the reference where readable.

:func:`children`, :func:`walk` and :func:`replace` (end of module) are
the one way to traverse a tree: they know every container shape a node
field takes (a node, or lists and tuples of nodes at any depth, e.g.
``Case.whens``, ``OrderItem.fill``, MERGE clauses, VALUES rows).
Callers keep their own stop rules; :data:`SUBQUERIES` names the nodes
whose value depends on a whole query.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from dataclasses import replace as _rebuild

# --- expressions (ast/expr.rs, ast/item.rs:126-178) -----------------------


@dataclass
class Lit:
    value: object  # int | float | str | bool | None
    kind: str  # 'int','float','string','bool','null','hex'


@dataclass
class Interval:
    count: int
    unit: str  # second|minute|hour|day|month|year


@dataclass
class Ident:
    name: str
    qualifier: str | None = None  # max one qualifier (item.rs:77-87)


@dataclass
class Wildcard:
    qualifier: str | None = None  # `*` or `t.*`
    # [EXT] ClickHouse SELECT-list modifiers: `* EXCEPT (a, b)` drops
    # columns, `* REPLACE (expr AS col)` substitutes an expression for
    # a column in place (name and position preserved)
    except_cols: list | None = None  # [str]
    replaces: list | None = None  # [(expr, str)]
    # [EXT] `* APPLY(fn) [APPLY(fn2) ...]` — wrap every expanded
    # column in fn (chains compose left-to-right); also set
    # dynamically on a COLUMNS('re') FnCall by the parser
    applies: list | None = None  # [str]


@dataclass
class Param:
    index: int  # $n


@dataclass
class ConfigIdent:
    name: str  # @name


@dataclass
class FnCall:
    name: str
    args: list  # Expr list; a lone Subquery arg is how EXISTS(...) works
    # [EXT] ClickHouse parametric aggregates: `fn(params)(args)`,
    # e.g. topK(3)(x), quantiles(0.25, 0.5)(x). None = plain call.
    params: list | None = None
    # [EXT] fn(DISTINCT args) — count/sum only
    distinct: bool = False


@dataclass
class Lambda:
    """[EXT] `x -> body` / `(a, b) -> body` — only valid as an
    argument of a higher-order array function; lowers to a Python
    callable over pyspark lambda variables."""

    params: list  # [str]
    body: object


@dataclass
class WindowCall:
    """[EXT] `fn(args) OVER (...)` — window-function grammar. Absent
    from the reference dialect (SURVEY §2.6) but supported by this
    engine as an extension: the lowering maps 1:1 onto
    pyspark.sql.Window."""

    fn: object  # FnCall
    partition_by: list  # Expr list (may be empty)
    order_by: list  # [OrderItem] (may be empty)
    # None = engine default frame; else ("rows", lo, hi) where each
    # bound is ("up"|"uf"|"cur", None) or ("pre"|"fol", int)
    frame: object | None = None
    # [EXT] `OVER w` — reference to a named WINDOW clause; the parser
    # patches partition_by/order_by/frame in from the definition once
    # the WINDOW clause is reached (it syntactically follows the
    # select list), so the lowering never sees an unresolved ref.
    ref: str | None = None


@dataclass
class BinOp:
    op: str  # + - * / % = != < <= >= > and or xor & | ^ << >> like ilike ...
    left: object
    right: object


@dataclass
class UnOp:
    op: str  # not, neg, bitnot, isnull, isnotnull
    operand: object


@dataclass
class Between:
    expr: object
    low: object
    high: object
    negated: bool = False


@dataclass
class InList:
    expr: object
    items: list
    negated: bool = False


@dataclass
class InSubquery:
    expr: object
    query: "Query"
    negated: bool = False


@dataclass
class ValuesTable:
    """[EXT] `(VALUES (…), (…)) AS t(a, b)` inline table constructor.
    Rows are constant expression lists; lowered to a literal local
    DataFrame (broadcast-sized by construction)."""

    rows: list  # [[expr, ...], ...]
    names: list | None = None  # column names from the alias clause


@dataclass
class TupleAccess:
    """[EXT] tuple element access `expr.1` (1-based) or struct field
    `expr.name` on a non-identifier primary."""

    expr: object
    field: object  # int (1-based) | str


@dataclass
class Cast:
    """[EXT] CAST(expr AS Type) / CAST(expr, 'Type') / expr :: Type /
    accurateCast — Spark cast under the session's ANSI setting
    (overflow errors rather than ClickHouse's wrapping)."""

    expr: object
    dtype: object  # DataType, or a Spark type (projection rewrite)


@dataclass
class QuantCompare:
    """[EXT] quantified comparison `expr <op> ANY/ALL (subquery)`
    (SOME = ANY). Lowered to a single scalar aggregate over the
    subquery (min/max/count/count-nonnull) broadcast-joined to the
    outer side — never a per-row nested-loop."""

    op: str  # = != < <= > >=
    expr: object
    quant: str  # 'any' | 'all'
    query: "Query" = None


@dataclass
class Exists:
    query: "Query"
    negated: bool = False


@dataclass
class ScalarSubquery:
    query: "Query"


@dataclass
class Case:
    scrutinee: object | None  # simple CASE has one; searched has None
    whens: list  # [(cond_or_value, result)]
    else_: object | None


@dataclass
class ArrayLit:
    items: list


@dataclass
class MapLit:
    entries: list  # [(k, v)]


@dataclass
class TupleLit:
    items: list  # ≥2 parenthesized exprs (mod.rs:1229-1246)


@dataclass
class IndexAccess:
    base: object
    index: object  # 1-based (dialect family)


# --- query (ast/query.rs) -------------------------------------------------


@dataclass
class OrderItem:
    expr: object
    asc: bool = True
    # [EXT] `WITH FILL [FROM a] [TO b] [STEP s]` — (from, to, step)
    # exprs (each may be None); TO is exclusive, ClickHouse-style.
    fill: tuple | None = None
    # [EXT] NULLS FIRST / NULLS LAST (engine default when None)
    nulls: str | None = None


@dataclass
class Limit:
    n: object
    offset: object | None = None
    with_ties: bool = False


@dataclass
class LimitBy:
    """[EXT] `LIMIT [offset,] n BY keys` (ClickHouse) — first n rows
    PER distinct key tuple, in the query's ORDER BY order; a plain
    LIMIT may still follow and applies to the combined result."""

    n: object
    offset: object | None
    keys: list = field(default_factory=list)


@dataclass
class Join:
    kind: str  # inner|full|left|right|left_semi|right_semi|left_anti|right_anti
    source: "TableRef | Query | TableFn"
    alias: str | None
    on: object | None = None
    using: list[str] | None = None
    within: "Interval | None" = None  # ASOF tolerance bound
    # [EXT] GLOBAL <join> — broadcast the right side (CH ships it to
    # every node; Spark's F.broadcast hint is the same contract)
    broadcast: bool = False


@dataclass
class TableRef:
    name: str


@dataclass
class TableFn:
    name: str
    args: list


@dataclass
class FromClause:
    source: object  # TableRef | Query | TableFn
    alias: str | None = None
    # [EXT] `SAMPLE <fraction> BY (expr)` — the clause the reference
    # grammar left as a question (ast/query.rs:12), realized as
    # DETERMINISTIC hash sampling (operators/sampling.py): a row is
    # kept iff its salted-md5 bucket of the BY key clears the
    # fraction threshold — append-stable, engine-portable, unlike
    # random sampling. (fraction: float, key expr)
    sample: tuple | None = None
    # [EXT] `FROM t FINAL` (ClickHouse): force fully-merged state. The
    # engine's view reads ALWAYS serve merged state (read_view applies
    # the Summing/Replacing merge on every read), so FINAL is accepted
    # for dialect parity and is semantically a no-op — pytest-pinned.
    final: bool = False


@dataclass
class Cte:
    name: str
    query: "Query"
    # [EXT] WITH RECURSIVE — lowered to an iterative fixpoint when the
    # body actually references itself (standard SQL treats a
    # non-self-referencing CTE under RECURSIVE as ordinary)
    recursive: bool = False


@dataclass
class ArrayJoin:
    """[EXT] `[LEFT] ARRAY JOIN expr [AS alias][, ...]` — the clause the
    reference grammar TODO'd (ast/query.rs:27-28). Multiple items
    iterate in LOCKSTEP (ClickHouse semantics), not as a cross
    product; LEFT keeps empty-array rows with NULL elements."""

    items: list  # [(expr, alias)] — alias resolved at parse time
    left: bool = False


@dataclass
class SelectCore:
    ctes: list[Cte] = field(default_factory=list)
    # [EXT] ClickHouse scalar WITH: `WITH <expr> AS <name>` — a named
    # expression macro substituted for every unqualified reference to
    # <name> in this query body (aliases may reference earlier ones)
    expr_aliases: list = field(default_factory=list)  # [(name, expr)]
    distinct: bool = False
    distinct_on: list | None = None
    columns: list = field(default_factory=list)  # (expr|Wildcard, alias|None)
    from_: FromClause | None = None
    joins: list = field(default_factory=list)  # Join | ArrayJoin, in order
    where: object | None = None
    # [EXT] PREWHERE (ClickHouse): a pre-filter evaluated before WHERE.
    # In a column store it gates which columns get read; under Spark
    # both conjunct sets reach the same pushed-down parquet filter, so
    # the clause is accepted for dialect parity and lowered as an
    # additional filter ahead of WHERE.
    prewhere: object | None = None
    group_by: list = field(default_factory=list)
    # [EXT] GROUP BY ALL (ClickHouse/DuckDB): group by every select
    # expression that contains no aggregate; expanded at lowering time
    # (the aggregate-name registry lives there)
    group_all: bool = False
    # [EXT] GROUP BY ... WITH ROLLUP / WITH CUBE (ClickHouse modifier)
    group_modifier: str | None = None  # None | 'rollup' | 'cube'
    # [EXT] GROUP BY GROUPING SETS ((a,b),(a),()) — explicit sets; when
    # set, group_by holds the ordered union of all set members and each
    # entry of group_sets is a list of indexes into group_by.
    group_sets: list | None = None
    having: object | None = None
    # [EXT] QUALIFY — filter on window-function results (the top-N
    # idiom); evaluated after windows, before ORDER BY/LIMIT
    qualify: object | None = None
    # [EXT] named WINDOW clause: [(name, WindowCall-shaped spec)] — the
    # spec is a WindowCall with fn=None used purely as a carrier for
    # (partition_by, order_by, frame).
    windows: list = field(default_factory=list)
    order_by: list[OrderItem] = field(default_factory=list)
    # [EXT] INTERPOLATE (col [AS expr], ...) riding on WITH FILL:
    # how generated rows populate non-key columns (carry-forward, or
    # closed-form linear col ± const per filled step)
    interpolate: list = field(default_factory=list)  # [(name, expr|None)]
    limit: Limit | None = None
    # [EXT] LIMIT n BY keys (ClickHouse per-group head)
    limit_by: "LimitBy | None" = None


@dataclass
class SetOp:
    op: str  # union_all | union_distinct | intersect | except
    #          | intersect_all | except_all ([EXT] multiset forms)
    left: "Query"
    right: "Query"


Query = SelectCore | SetOp


# --- DDL items (ast/item.rs:180-228) --------------------------------------


@dataclass
class DataType:
    name: str  # lowercase dialect name
    args: list = field(default_factory=list)  # nested types / params
    nullable: bool = False  # wrapped in Nullable(...)


@dataclass
class EnumBind:
    name: str
    value: int


@dataclass
class ColumnDef:
    name: str
    dtype: DataType
    default: object | None = None
    comment: str | None = None


@dataclass
class IndexDef:
    name: str
    fn: FnCall


@dataclass
class ConstraintDef:
    name: str
    check: object


@dataclass
class TableDefinition:
    name: str
    columns: list[ColumnDef]
    indexes: list[IndexDef] = field(default_factory=list)
    constraints: list[ConstraintDef] = field(default_factory=list)
    primary_key: list[str] | None = None
    order_by: list[str] | None = None
    partition_by: object | None = None
    comment: str | None = None
    if_not_exists: bool = False
    # [EXT] CREATE TABLE ... AS SELECT (CTAS): schema derived from the
    # query; `engine` is accepted for ClickHouse parity and recorded
    # only (storage is always parquet + JSON sidecar here)
    as_query: object | None = None
    engine: str | None = None
    or_replace: bool = False


@dataclass
class ViewDefinition:
    name: str
    strategy: str  # UPDATE BY <strategy> — mandatory (mod.rs:823-833)
    query: Query = None
    primary_key: list[str] | None = None
    order_by: list[str] | None = None
    partition_by: object | None = None
    if_not_exists: bool = False
    or_replace: bool = False  # [EXT] CREATE OR REPLACE VIEW


# --- statements (ast/mod.rs:13-107, ast/alter.rs) -------------------------


@dataclass
class SelectStmt:
    query: Query
    # [EXT] `INTO OUTFILE '<path>' [FORMAT fmt]` — write sink; the
    # engine writes the result and returns the read-back frame so the
    # full write+read roundtrip is checkable.
    outfile: tuple | None = None  # (path, format)
    # [EXT] trailing `SETTINGS name = lit [, ...]` (ClickHouse): applied
    # to the engine config before lowering; spark_* names map onto
    # spark.* confs (same rule as SET @name)
    settings: list = field(default_factory=list)  # [(name, Lit)]


@dataclass
class ShowStmt:
    entity: str  # table | view | database | create (SHOW CREATE TABLE)
    name: str | None = None  # for SHOW CREATE TABLE <name>


@dataclass
class ExplainStmt:
    query: Query
    # [EXT] EXPLAIN [FORMATTED | ANALYZE]: formatted Catalyst plan /
    # executed plan with runtime metrics (runs the query)
    mode: str = "simple"  # simple | formatted | analyze


@dataclass
class InsertStmt:
    table: str
    columns: list[str] | None
    source: object  # ('values', rows) | ('query', Query) | ('fn', TableFn)


@dataclass
class MergeStmt:
    # [EXT] ANSI MERGE INTO (upsert DML over the mutation path)
    table: str
    target_alias: str | None
    source: object  # table name str | Query (USING (subquery))
    source_alias: str | None
    on: object
    # [(cond|None, ("update", [(col, expr), …]) | ("delete",)), …]
    matched: list
    # [(cond|None, cols|None, exprs), …]
    not_matched: list
    # [EXT] WHEN NOT MATCHED BY SOURCE (stale-target handling) —
    # same shape as `matched`; expressions may reference TARGET
    # columns only
    not_matched_by_source: list = field(default_factory=list)


@dataclass
class CreateTableStmt:
    definition: TableDefinition


@dataclass
class CreateViewStmt:
    definition: ViewDefinition


@dataclass
class AlterStmt:
    table: str
    action: str  # add_column|add_index|add_constraint|drop_column|...
    payload: object  # ColumnDef/IndexDef/... or names
    position: tuple | None = None  # ('first',) | ('after', col)
    if_clause: bool = False  # IF [NOT] EXISTS


@dataclass
class DescribeStmt:
    entity: str  # table|view|database
    name: str | None


@dataclass
class DropStmt:
    entity: str  # table|view
    name: str
    if_exists: bool = False


@dataclass
class ExchangeStmt:
    """[EXT] EXCHANGE TABLES a AND b — atomic-ish two-way swap (three
    renames through a temp name; dependent views follow both ways)."""

    a: str
    b: str


@dataclass
class RenameStmt:
    """[EXT] RENAME TABLE a TO b[, c TO d ...] — statement-level form
    of ALTER ... RENAME TO; each pair applies in order."""

    pairs: list  # [(old, new)]


@dataclass
class TruncateStmt:
    entity: str
    name: str
    if_exists: bool = False


@dataclass
class OptimizeStmt:
    table: str
    partition: object | None = None
    # [EXT] OPTIMIZE ... [FINAL] DEDUPLICATE [BY col, ...]
    deduplicate: bool = False
    dedup_by: list | None = None


@dataclass
class SetStmt:
    name: str
    value: object


@dataclass
class DetachStmt:
    """[EXT] DETACH TABLE t / ATTACH TABLE t — ClickHouse's
    visibility toggle: DETACH hides the table from resolution while
    leaving its data untouched; ATTACH re-registers it."""

    name: str
    attach: bool = False


@dataclass
class BackupStmt:
    """[EXT] BACKUP TABLE t TO '<dir>' / RESTORE TABLE t FROM
    '<dir>' — copy the table's metadata + parquet data to (from) a
    directory outside the catalog."""

    name: str
    path: str
    restore: bool = False


# --- traversal -------------------------------------------------------------

# Nodes that evaluate a whole query: their value depends on every row
# of it, never on the row at hand alone.
SUBQUERIES = (ScalarSubquery, Exists, InSubquery, QuantCompare)


def _nodes(v):
    """The nodes in one field value: the value itself, or the nodes in
    its lists and tuples at any depth."""
    if hasattr(v, "__dataclass_fields__"):
        yield v
    elif isinstance(v, (list, tuple)):
        for x in v:
            yield from _nodes(x)


def children(node):
    """Every node directly below ``node``, in field order."""
    for f in getattr(node, "__dataclass_fields__", ()):
        yield from _nodes(getattr(node, f))


def walk(node, stop=()):
    """``node`` and every node below it, pre-order; a node of a ``stop``
    type is yielded but not descended."""
    todo = [node]
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(n, stop):
            todo.extend(reversed(list(children(n))))


def replace(node, fn):
    """The tree with each node ``n`` for which ``fn(n)`` returns a node
    replaced by that node (not descended); where ``fn`` returns None the
    node is rebuilt from its replaced children. Unchanged subtrees are
    shared with ``node``, which is never mutated."""
    new = fn(node)
    if new is not None:
        return new
    changed = {}
    for f in node.__dataclass_fields__:
        v = getattr(node, f)
        r = _replace_in(v, fn)
        if r is not v:
            changed[f] = r
    return _rebuild(node, **changed) if changed else node


def _replace_in(v, fn):
    if hasattr(v, "__dataclass_fields__"):
        return replace(v, fn)
    if isinstance(v, (list, tuple)):
        items = [_replace_in(x, fn) for x in v]
        if all(a is b for a, b in zip(items, v)):
            return v
        return tuple(items) if isinstance(v, tuple) else items
    return v
