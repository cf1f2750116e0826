"""Managed catalog: parquet tables + JSON sidecar metadata.

The dialect's DDL surface (SURVEY.md §2.1 S6-S15) maps to:
- a directory per table of parquet files, written with
  ``partitionBy(PARTITION BY)`` and ``sortWithinPartitions(ORDER BY)``
  (clustering → parquet row-group min/max skipping, the dialect's
  `minmax` INDEX intent for free)
- a JSON sidecar per object holding what parquet can't: dialect types
  (unsigned/serial/enum), PRIMARY KEY, ORDER BY, skip indexes, CHECK
  constraints, defaults, comments, nullability (dialect default is
  NON-nullable — the inverse of Spark), serial counters, and for views
  the merge strategy + defining query. Every stored expression and
  query is printed dialect SQL, parsed again when it is used.

Every replacement or removal of a live catalog path goes through
:func:`commit`.

Correctness-enforced at INSERT time (the write path is the only gate a
storage-less dialect has): arity, type coercion, non-null, CHECK
constraints, Enum membership, DEFAULT fill-in, Serial generation.
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as S

from nutdb_spark.frontend import ast_nodes as A
from nutdb_spark.frontend import printer
from nutdb_spark.frontend.parser import Parser, parse

# --- §1.3 type mapping ----------------------------------------------------

_SIMPLE_TYPES: dict[str, S.DataType] = {
    "int8": S.ByteType(),
    "int16": S.ShortType(),
    "int32": S.IntegerType(),
    "int64": S.LongType(),
    "int128": S.DecimalType(38, 0),
    "uint8": S.ShortType(),  # widen to preserve range (no unsigned in Spark)
    "uint16": S.IntegerType(),
    "uint32": S.LongType(),
    "uint64": S.DecimalType(20, 0),
    "uint128": S.DecimalType(38, 0),
    "serial32": S.IntegerType(),
    "serial64": S.LongType(),
    "serial128": S.DecimalType(38, 0),
    "userial32": S.IntegerType(),
    "userial64": S.LongType(),
    "userial128": S.DecimalType(38, 0),
    "float32": S.FloatType(),
    "float64": S.DoubleType(),
    "boolean": S.BooleanType(),
    "string": S.StringType(),
    "chars": S.StringType(),
    "uuid": S.StringType(),
    "date": S.DateType(),
    "datetime": S.TimestampType(),
}

_SERIAL_TYPES = {
    "serial32", "serial64", "serial128", "userial32", "userial64", "userial128",
}


def to_spark_type(dt: A.DataType | S.DataType) -> S.DataType:
    if isinstance(dt, S.DataType):
        # the projection rewrite casts to a stored column's Spark type,
        # which no dialect type may name (e.g. decimal(28,2))
        return dt
    name = dt.name
    if name in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[name]
    if name in ("decimal32", "decimal64"):
        scale = dt.args[0]
        return S.DecimalType(9 if name == "decimal32" else 18, scale)
    if name == "array":
        return S.ArrayType(to_spark_type(dt.args[0]))
    if name == "enum":
        return S.StringType()  # names stored; id map kept in metadata
    if name == "tuple":
        return S.StructType(
            [
                S.StructField(f"_{i + 1}", to_spark_type(a))
                for i, a in enumerate(dt.args)
            ]
        )
    if name == "map":
        return S.MapType(to_spark_type(dt.args[0]), to_spark_type(dt.args[1]))
    if name == "dictionary":
        # encoding hint only; parquet dictionary-encodes automatically
        return to_spark_type(dt.args[0])
    raise ValueError(f"unmapped dialect type {name!r}")


def _dtype_meta(dt: A.DataType) -> dict:
    out = {"name": dt.name, "nullable": dt.nullable}
    if dt.name == "enum":
        out["members"] = {b.name: b.value for b in dt.args}
    elif dt.args and all(isinstance(a, A.DataType) for a in dt.args):
        out["args"] = [_dtype_meta(a) for a in dt.args]
    elif dt.args:
        out["args"] = list(dt.args)
    return out


class CatalogError(ValueError):
    pass


# --- one commit for every path swap ----------------------------------------

_COMMIT = ".commit-"


def _entry(parent: str, cid: str, role: str) -> str:
    """A commit's own name in ``parent``: ``new`` (staged entries),
    ``old`` (live entries moved aside), ``plan`` (its journal) or
    ``lock`` (held by the owner while the commit lives). Dot-prefixed,
    so Spark's file index skips it, and never ending in ``.json``, so
    no listing takes it for a sidecar."""
    return os.path.join(parent, f"{_COMMIT}{cid}-{role}")


def _move(src: str, dst: str) -> None:
    os.replace(src, dst)


def _link(src: str, dst: str) -> None:
    """Stage live entry ``src`` (a file or a tree) at ``dst`` as hard
    links, which a staging directory in the same parent can take: no
    live file is written in place, so no data is copied."""
    if os.path.isdir(src):
        shutil.copytree(src, dst, copy_function=os.link)
    else:
        os.link(src, dst)


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)


@contextlib.contextmanager
def _claim(parent: str):
    """Own a fresh commit id in ``parent`` for the life of the block.

    The owner holds an exclusive ``flock`` on ``.commit-<id>-lock``,
    made before any other entry of the commit, and :func:`recover`
    passes over a commit whose lock is held, in this process or
    another. The lock file is deleted on the way out unless entries of
    the commit are left (a cleanup failed), so the next recover, which
    finds the lock free, drops them."""
    while True:
        cid = uuid.uuid4().hex
        lock = _entry(parent, cid, "lock")
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        fcntl.flock(fd, fcntl.LOCK_EX)
        if os.fstat(fd).st_nlink:
            break
        # a recover took the still-empty claim for a dead one and
        # deleted it before the lock was ours
        os.close(fd)
    try:
        yield cid
    finally:
        roles = ("new", "old", "plan")
        if not any(os.path.lexists(_entry(parent, cid, r)) for r in roles):
            with contextlib.suppress(OSError):
                os.remove(lock)
        os.close(fd)


def commit(parent: str, names: list[str], write=None) -> None:
    """Replace or remove the entries ``names`` of directory ``parent``
    as one unit. A name may be a path below ``parent`` (a partition
    directory or a part file of a table). ``write(staged)`` writes the
    new contents of each entry at ``staged/<name>`` and may return more
    names, of entries it staged that only it could name; an entry it
    does not write (every entry when ``write`` is None) is removed. The
    steps:

    1. ``write`` stages the new entries in ``.commit-<id>-new``;
    2. the journal ``.commit-<id>-plan`` records each name and whether
       it exists;
    3. each live entry moves aside into ``.commit-<id>-old``;
    4. each staged entry moves in;
    5. the journal is deleted (the commit point), then the aside
       copies and what is left of the staging directory.

    If a step before the commit point raises, the completed steps are
    undone in this process and the error propagates. A failure while
    deleting after the commit point is not raised: the next
    :func:`recover` drops the leftovers. ``Catalog`` runs ``recover``
    over its root and each object directory when it opens, so what a
    killed process leaves is rolled back (journal present) or dropped;
    the commit's lock (:func:`_claim`) keeps it off a commit whose
    owner is alive.

    Every catalog statement is one commit: a table write covers the
    views derived from the table, and RENAME/EXCHANGE stage each table
    under its new name (:func:`_link`) with its views' sidecars.

    Out of scope: a streaming sink's state outside a catalog is never
    swept; concurrent writers of one entry get nothing beyond unique
    staging names (the last commit wins)."""
    with _claim(parent) as cid:
        new, old, plan = (_entry(parent, cid, r) for r in ("new", "old", "plan"))
        try:
            os.makedirs(new)
            if write is not None:
                names = [*names, *(write(new) or ())]
            _dump(plan, {n: os.path.lexists(os.path.join(parent, n)) for n in names})
            for n in names:
                if os.path.lexists(os.path.join(parent, n)):
                    aside = os.path.join(old, n)
                    os.makedirs(os.path.dirname(aside), exist_ok=True)
                    _move(os.path.join(parent, n), aside)
            for n in names:
                if os.path.lexists(os.path.join(new, n)):
                    live = os.path.join(parent, n)
                    os.makedirs(os.path.dirname(live), exist_ok=True)
                    _move(os.path.join(new, n), live)
            os.remove(plan)
        except BaseException:
            _finish(parent, cid)
            raise
        try:
            _finish(parent, cid)
        except OSError:
            pass  # committed; recover() drops the leftovers


def _finish(parent: str, cid: str) -> None:
    """Roll commit ``cid`` back if its journal survives, then drop its
    staged and aside entries."""
    new, old, plan = (_entry(parent, cid, r) for r in ("new", "old", "plan"))
    if os.path.exists(plan):
        try:
            with open(plan) as f:
                entries = json.load(f)
        except ValueError:
            entries = {}  # the journal was cut short: nothing had moved
        for name, existed in entries.items():
            live, aside = os.path.join(parent, name), os.path.join(old, name)
            if os.path.lexists(aside):
                _remove(live)
                _move(aside, live)
            elif not existed and not os.path.lexists(os.path.join(new, name)):
                _remove(live)  # moved in where nothing stood
        os.remove(plan)
    _remove(old)
    _remove(new)


def recover(parent: str) -> None:
    """Finish every commit in ``parent`` whose owner is gone: no process
    holds its lock, or it has no lock file (a commit written before
    commits took locks). A commit whose lock is held is live and left
    alone."""
    cids = {
        f[len(_COMMIT):].split("-", 1)[0]
        for f in os.listdir(parent)
        if f.startswith(_COMMIT)
    }
    for cid in cids:
        lock = _entry(parent, cid, "lock")
        try:
            fd = os.open(lock, os.O_WRONLY)
        except FileNotFoundError:
            # its owner finished (nothing is left to do), or the commit
            # predates commit locks
            _finish(parent, cid)
            continue
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            os.close(fd)
            continue  # live
        try:
            _finish(parent, cid)
            with contextlib.suppress(FileNotFoundError):
                os.remove(lock)  # a second recover may have been first
        finally:
            os.close(fd)


def _parquet_files(root: str) -> list[str]:
    """The parquet files under ``root``, as paths relative to it."""
    return [
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    ]


def _move_files(src: str, dst: str) -> None:
    """Move the parquet files under ``src`` into ``dst``, keeping
    partition subdirectories. Part-file names carry write-unique ids,
    so the moves never collide."""
    for f in _parquet_files(src):
        os.makedirs(os.path.dirname(os.path.join(dst, f)), exist_ok=True)
        os.rename(os.path.join(src, f), os.path.join(dst, f))


def _lowerer_over(low, table: str, frame: DataFrame):
    """A lowerer like ``low`` that reads ``frame`` for ``table``."""
    from nutdb_spark.frontend.lower import Lowerer

    def resolve(name: str) -> DataFrame:
        return frame if name == table else low.resolve_table(name)

    return Lowerer(
        low.spark, resolve, low.params, config=low.config,
        list_tables=low.list_tables,
    )


def _deterministic(df: DataFrame) -> bool:
    """Whether every query over ``df`` computes the same rows. Spark
    counts ``now()`` and ``today()`` as deterministic, since they are
    fixed once per query, but each query takes its own."""
    plan = df._jdf.queryExecution().analyzed()
    patterns = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    return plan.deterministic() and not plan.containsPattern(
        patterns.CURRENT_LIKE()
    )


def _run_beside(jobs) -> list:
    """Run ``jobs[0]`` in this thread and each other job in a
    ``pyspark.InheritableThread``, whose Spark jobs therefore carry this
    thread's job group and local properties. Every job is joined before
    the first error is raised; returns the jobs' results in order."""
    from pyspark import InheritableThread

    results: list = [None] * len(jobs)
    errors: list[BaseException] = []

    def guard(i: int) -> None:
        try:
            results[i] = jobs[i]()
        except BaseException as e:  # raised below, once all are joined
            errors.append(e)

    threads = [
        InheritableThread(functools.partial(guard, i))
        for i in range(1, len(jobs))
    ]
    for t in threads:
        t.start()
    try:
        if jobs:
            results[0] = jobs[0]()
    finally:
        for t in threads:
            t.join()
    if errors:
        raise errors[0]
    return results


# --- incremental-view eligibility (S7) ------------------------------------

def _unionall_branches(q) -> list | None:
    """Flatten a view query into UNION ALL branches; None if any other
    set operator appears (those are not delta-decomposable)."""
    if isinstance(q, A.SetOp):
        if q.op != "union_all":
            return None
        left = _unionall_branches(q.left)
        right = _unionall_branches(q.right)
        if left is None or right is None:
            return None
        return left + right
    return [q]


def _table_refs(node):
    """Every TableRef in a query tree."""
    return (n for n in A.walk(node) if isinstance(n, A.TableRef))


def _branch_delta_ok(b) -> bool:
    """A UNION ALL branch is delta-decomposable iff applying it to a
    batch of newly inserted rows yields exactly that batch's
    contribution to the view: per-row projection/filter over base
    tables, inner joins only, each table referenced at most once (a
    self-join of T needs ΔT⋈T_old and T_old⋈ΔT terms), and no
    aggregates/subqueries (their value depends on the whole input).
    This is the ClickHouse materialized-view contract: the insert block
    flows through the query."""
    from nutdb_spark.frontend.lower import _AGG_NAMES

    if not isinstance(b, A.SelectCore):
        return False
    if (
        b.distinct
        or b.distinct_on is not None
        or b.group_by
        or b.having is not None
        or b.limit is not None
        or b.ctes
        or b.from_ is None
        # whole-input constructs added by the dialect extensions:
        # SAMPLE is per-row-pure but conservative-reject keeps the
        # contract obvious; QUALIFY and window functions depend on the
        # entire input, so a per-insert delta would be silently wrong
        or getattr(b, "qualify", None) is not None
        or getattr(b, "group_modifier", None) is not None
        or getattr(b.from_, "sample", None) is not None
    ):
        return False
    if not isinstance(b.from_.source, A.TableRef):
        return False
    for j in b.joins:
        if isinstance(j, A.ArrayJoin):
            # row-local generator — but its lockstep/LEFT shapes are
            # untested under delta merge; take the always-correct
            # full-refresh path
            return False
        if j.kind != "inner" or not isinstance(j.source, A.TableRef):
            return False
    refs: dict[str, int] = {}
    for node in A.walk(b):
        if isinstance(node, A.TableRef):
            refs[node.name] = refs.get(node.name, 0) + 1
        if isinstance(node, A.SUBQUERIES):
            return False
        if isinstance(node, A.WindowCall):
            # window results depend on the whole partition, not the
            # insert batch
            return False
        if isinstance(node, A.FnCall) and node.name.lower() in _AGG_NAMES:
            return False
    return all(c == 1 for c in refs.values())


# How the stored partials of each re-aggregatable aggregate merge:
# counts add, extremes keep the extreme. Each is associative and
# commutative, so merge(agg(old), agg(Δ)) = agg(old ∪ Δ) exactly.
REAGGREGATE = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}


def agg_form(e) -> tuple | None:
    """The canonical form of a re-aggregatable call, (name, argument
    reprs) with count() ≡ count(*); None for any other expression,
    DISTINCT and parametric calls included."""
    if not isinstance(e, A.FnCall) or e.params is not None or e.distinct:
        return None
    name = e.name.lower()
    if name not in REAGGREGATE:
        return None
    args = e.args
    if name == "count" and len(args) == 1 and isinstance(args[0], A.Wildcard):
        args = []
    return name, tuple(map(repr, args))


def view_aggregates(meta: dict, q) -> dict | None:
    """What each stored column of view ``meta`` with defining query
    ``q`` holds, as ``{column: (held, merge op)}``. A merge-key column
    holds the base column named ``held`` (op None); any other column
    holds the base aggregate whose :func:`agg_form` is ``held``, and
    merges under op. None unless the view's rows are, per merge key,
    mergeable aggregates of one table's rows:

    - Summing: a plain projection of one table; each non-key column
      holds the sum of its base column.
    - Aggregating: ``SELECT keys…, agg(…) AS a… FROM t [WHERE …] GROUP
      BY …`` whose key columns are exactly the merge keys and whose
      other columns are aliased sum/count/min/max calls.

    Pure AST code: it lowers nothing and starts no Spark job."""
    if meta.get("strategy") not in ("summing", "aggregating"):
        return None
    if (
        not isinstance(q, A.SelectCore)
        or q.ctes or q.expr_aliases or q.distinct
        or q.distinct_on is not None or q.joins or q.from_ is None
        or q.from_.sample is not None
        or not isinstance(q.from_.source, A.TableRef)
        or q.group_all or q.group_modifier or q.group_sets is not None
        or q.having is not None or q.qualify is not None
        or q.limit is not None or q.limit_by is not None
        or any(o.fill for o in q.order_by)  # WITH FILL adds rows
    ):
        return None
    summing = meta["strategy"] == "summing"
    if summing and (
        q.where is not None or q.prewhere is not None or q.group_by
    ):
        return None
    groups = set()
    for g in q.group_by:
        if not isinstance(g, A.Ident) or g.qualifier:
            return None
        groups.add(g.name)
    keys = set(meta["order_by"] or [])
    out: dict[str, tuple] = {}
    for e, alias in q.columns:
        if isinstance(e, A.Ident) and not e.qualifier and (
            summing or e.name in groups
        ):
            col = alias or e.name
            if summing and col not in keys:
                held = (("sum", (repr(e),)), "sum")
            else:
                held = (e.name, None)
        elif not summing and alias and (form := agg_form(e)) is not None:
            col, held = alias, (form, REAGGREGATE[form[0]])
        else:
            return None
        if col in out:
            return None
        out[col] = held
    if summing:
        return out
    stored_keys = {c for c, (_, op) in out.items() if op is None}
    if not groups or stored_keys != keys or len(stored_keys) == len(out):
        return None
    return out


class Catalog:
    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self.root = root or os.environ.get("NUTDB_CATALOG_DIR") or os.path.join(
            tempfile.gettempdir(), "nutdb_catalog"
        )
        os.makedirs(self.root, exist_ok=True)
        recover(self.root)
        for f in os.listdir(self.root):
            path = os.path.join(self.root, f)
            if not f.startswith(".") and os.path.isdir(path):
                recover(path)

    # --- metadata plumbing ------------------------------------------------

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.json")

    def _data_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _load_meta(self, name: str) -> dict | None:
        p = self._meta_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _taken(self, name: str) -> bool:
        """Whether an object, attached or detached, has ``name``."""
        path = self._data_path(name)
        return os.path.lexists(path) or os.path.lexists(path + ".json")

    def objects(self):
        """Every catalog object's sidecar, in name order."""
        for f in sorted(os.listdir(self.root)):
            if f.endswith(".json") and not f.startswith("."):
                meta = self._load_meta(f[:-5])
                if meta:
                    yield meta

    def view_query(self, meta: dict):
        """The parsed defining query of a view. A view whose stored
        query does not parse raises on every read; maintenance and the
        projection rewrite pass it over, so it blocks no other object."""
        try:
            stmt = parse(meta["query"])
            if not isinstance(stmt, A.SelectStmt):
                raise ValueError("not a query")
        except ValueError as e:
            raise CatalogError(
                f"view {meta['name']!r}: stored query does not parse "
                f"({e}); drop and recreate the view"
            ) from None
        return stmt.query

    def has_table(self, name: str) -> bool:
        m = self._load_meta(name)
        return m is not None and m["type"] == "table"

    def has_view(self, name: str) -> bool:
        m = self._load_meta(name)
        return m is not None and m["type"] == "view"

    # --- CREATE TABLE (S6) ------------------------------------------------

    def create_table(self, d: A.TableDefinition, low=None) -> None:
        if self._load_meta(d.name) is not None:
            if d.if_not_exists:
                return
            if not getattr(d, "or_replace", False):
                raise CatalogError(f"table {d.name!r} already exists")
            # [EXT] CREATE OR REPLACE TABLE: the new table is committed
            # over the old object only once it is staged, so a
            # self-referencing `CREATE OR REPLACE TABLE t AS SELECT ...
            # FROM t` reads the old data and a failure leaves it intact.
        if getattr(d, "as_query", None) is not None:
            self._create_table_as(d, low)
            return
        meta = {
            "type": "table",
            "name": d.name,
            "columns": [
                {
                    "name": c.name,
                    "dtype": _dtype_meta(c.dtype),
                    "spark_type": to_spark_type(c.dtype).json(),
                    "nullable": c.dtype.nullable,
                    "serial": c.dtype.name in _SERIAL_TYPES,
                    "default": _sql(c.default),
                    "comment": c.comment,
                    "max_len": (
                        c.dtype.args[0]
                        if c.dtype.name in ("chars", "string") and c.dtype.args
                        else None
                    ),
                }
                for c in d.columns
            ],
            "primary_key": d.primary_key,
            "order_by": d.order_by,
            "partition_by": _sql(d.partition_by),
            "indexes": [_index_meta(i) for i in d.indexes],
            "constraints": [
                {"name": c.name, "check": printer.expr(c.check)}
                for c in d.constraints
            ],
            "comment": d.comment,
            "serial_next": {
                c.name: 1 for c in d.columns if c.dtype.name in _SERIAL_TYPES
            },
        }

        def write(staged: str) -> None:
            os.makedirs(os.path.join(staged, d.name))
            _dump(os.path.join(staged, d.name + ".json"), meta)

        commit(self.root, [d.name, d.name + ".json"], write)

    def _create_table_as(self, d: A.TableDefinition, low) -> None:
        """[EXT] CREATE TABLE ... AS SELECT: the schema is the query's
        output schema; data is written through the same
        partition/order-aware parquet path as INSERT. The write is the
        query's own distributed plan — nothing materializes on the
        driver. An ENGINE clause is recorded for ClickHouse parity but
        storage is always parquet + JSON sidecar.

        Atomicity: the query writes the staged data directory and the
        staged sidecar, then :func:`commit` swaps both in as one unit —
        a failed CTAS never leaves a registered table with partial
        data, and OR REPLACE moves the old table aside only after the
        new data is fully staged (so a self-referencing query reads the
        old data while it runs)."""
        if low is None:
            raise CatalogError("CTAS requires a query lowerer")
        df = low.lower_query(d.as_query)
        meta = {
            "type": "table",
            "name": d.name,
            "columns": [
                {
                    "name": f.name,
                    "dtype": {
                        "name": f.dataType.simpleString(),
                        "nullable": True,
                    },
                    "spark_type": f.dataType.json(),
                    "nullable": True,
                    "serial": False,
                    "default": None,
                    "comment": None,
                    "max_len": None,
                }
                for f in df.schema.fields
            ],
            "primary_key": d.primary_key,
            "order_by": d.order_by,
            "partition_by": _sql(d.partition_by),
            "indexes": [],
            "constraints": [],
            "comment": d.comment,
            "engine": d.engine,
            "serial_next": {},
        }
        for c in d.order_by or []:
            if c not in df.columns:
                raise CatalogError(f"ORDER BY column {c!r} not in CTAS output")

        def write(staged: str) -> None:
            # the query executes HERE, against the pre-swap catalog state
            self._write_table(df, os.path.join(staged, d.name), meta, low)
            _dump(os.path.join(staged, d.name + ".json"), meta)

        commit(self.root, [d.name, d.name + ".json"], write)

    def _write_table(self, df: DataFrame, path: str, meta: dict, low) -> None:
        """Write ``df`` at ``path`` in the table's declared layout:
        PARTITION BY directories, ORDER BY clustering. Every write of
        table data goes through here. The sort leads with the partition
        columns, so it already meets the writer's required ordering and
        the writer adds no sort of its own that would drop the ORDER BY
        clustering inside each partition."""
        part_cols: list[str] = []
        if meta["partition_by"]:
            pe = Parser(meta["partition_by"]).parse_expr()
            if isinstance(pe, A.Ident):
                part_cols = [pe.name]
            else:
                df = df.withColumn("__part", low._expr(pe, None, {}, []))
                part_cols = ["__part"]
        if part_cols or meta["order_by"]:
            df = df.sortWithinPartitions(*part_cols, *(meta["order_by"] or []))
        writer = df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(path)

    def _schema(self, meta: dict) -> S.StructType:
        return S.StructType(
            [
                S.StructField(
                    c["name"],
                    _parse_type(c["spark_type"]),
                    # physical files stay nullable (Spark writes nullable
                    # parquet anyway); logical non-nullability is enforced
                    # on the write path
                    True,
                )
                for c in meta["columns"]
            ]
        )

    def read_table(self, name: str) -> DataFrame:
        return self._read_data(self._data_path(name), self._load_meta(name))

    def _read_data(
        self, path: str, meta: dict, parts: list[str] | None = None
    ) -> DataFrame:
        """A table data directory, or only its partition directories
        ``parts``, read with the schema its sidecar stores. The
        directories of an expression PARTITION BY (``__part=<value>``)
        hold data; the column they add is not the table's."""
        schema = self._schema(meta)
        if parts is None and any(
            f.startswith("__part=") or not f.startswith(("_", "."))
            for f in os.listdir(path)
        ):
            parts = [path]
        if not parts:
            return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.schema(schema)
            .option("basePath", path)
            .parquet(*parts)
            .select(*schema.names)
        )

    # --- INSERT (S2-S4) ---------------------------------------------------

    def insert(self, stmt: A.InsertStmt, low) -> None:
        """Append rows in one commit: the new part files, the sidecar
        (serial counters) and every materialized view over the table.
        The views are derived from the written rows (re-running the
        source could draw serial ids or ``now()`` differently; the
        written bytes can't change): an incremental view merges ONLY
        those rows into the buckets they touch (streaming/summing.py);
        any other view is derived again from the table with the rows
        appended."""
        meta = self._load_meta(stmt.table)
        if meta is None or meta["type"] != "table":
            raise CatalogError(f"unknown table {stmt.table!r}")
        table = stmt.table
        src = self._insert_source(stmt, meta, low)
        views = self._materialized_views(table)

        def write(staged: str) -> list[str]:
            path = os.path.join(staged, table)
            self._write_rows(src, meta, low, path)
            delta = self._read_data(path, meta)
            jobs, whole = [], None
            for m in views:
                if m.get("maintenance") == "incremental":
                    job = self._delta_job(m, table, delta, low)
                else:
                    if whole is None:
                        appended = self.read_table(table).unionByName(delta)
                        whole = _lowerer_over(low, table, appended)
                    job = self._view_job(m, whole)
                jobs.append(functools.partial(job, staged))
            touched = _run_beside(jobs)
            _dump(os.path.join(staged, table + ".json"), meta)
            return [
                *(os.path.join(table, f) for f in _parquet_files(path)),
                table + ".json",
                *(n for names in touched for n in names),
            ]

        commit(self.root, [], write)

    def _insert_source(self, stmt: A.InsertStmt, meta: dict, low) -> DataFrame:
        """The INSERT's rows, one column per target column."""
        kind, payload = stmt.source
        col_meta = meta["columns"]
        declared = [c["name"] for c in col_meta]
        target_cols = stmt.columns or [
            c["name"] for c in col_meta if not c["serial"]
        ]
        for c in target_cols:
            if c not in declared:
                raise CatalogError(f"unknown column {c!r}")

        if kind == "values":
            # One inline(array(struct(row)…)) over range(1): one
            # one-task relation and one codegen segment however many
            # rows are listed. Cells are cast to the declared column
            # type, so every struct is same-typed (array() requires it);
            # _write_rows applies the same cast.
            types_by_name = {
                c["name"]: _parse_type(c["spark_type"]) for c in col_meta
            }
            row_structs = []
            for i, row in enumerate(payload):
                if len(row) != len(target_cols):
                    raise CatalogError(
                        f"INSERT row {i + 1} has {len(row)} values but "
                        f"{len(target_cols)} target columns"
                    )
                vals = [
                    low._expr(cell, None, {}, [])
                    .cast(types_by_name[n])
                    .alias(n)
                    for cell, n in zip(row, target_cols)
                ]
                row_structs.append(F.struct(*vals))
            return self.spark.range(1).select(F.inline(F.array(*row_structs)))
        if kind == "query":
            src = low.lower_query(payload)
        elif kind == "fn":
            src = low._table_fn(payload)
        else:  # pragma: no cover
            raise CatalogError(f"bad insert source {kind}")
        if len(src.columns) != len(target_cols):
            via = "SELECT" if kind == "query" else "FROM fn"
            raise CatalogError(f"INSERT…{via} arity mismatch")
        return src.toDF(*target_cols)

    def _write_rows(self, src: DataFrame, meta: dict, low, path: str) -> None:
        """Write new rows ``src`` (named by their target columns) at
        ``path`` as the table's columns: serials drawn, defaults filled,
        types coerced, constraints checked on the write job itself.
        Advances ``meta["serial_next"]``."""
        out_cols: list = []
        serial_bases = dict(meta.get("serial_next") or {})
        need_serial = [
            c for c in meta["columns"]
            if c["serial"] and c["name"] not in src.columns
        ]
        n_rows = 0
        if need_serial:
            # pin partition layout: the counts job and the write job must
            # see identical partition ids / local indexes
            src = src.persist()
            # Dense, distributed serial assignment: one small aggregate
            # computes per-partition row counts; each row's id is
            # base + rows-before-its-partition + its local index (from
            # monotonically_increasing_id's low 33 bits, which ARE the
            # dense within-partition index). No global window, no RDD
            # round-trip — scales to arbitrarily large INSERT…SELECT.
            # Contract: ids are DENSE and UNIQUE; which row draws
            # which id follows the partition layout (the distributed-
            # sequence semantics every parallel engine has) — a
            # content-correlated order would force a global sort the
            # statement never asked for.
            pid = F.spark_partition_id()
            counts = {
                r["p"]: r["n"]
                for r in src.groupBy(pid.alias("p"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            offsets, acc = {}, 0
            for p in sorted(counts):
                offsets[p] = acc
                acc += counts[p]
            n_rows = acc
            # flat array-literal lookup (1-based element_at), not a
            # chained CASE — constant expression depth at any partition
            # count
            off_arr = F.array(
                *[
                    F.lit(offsets.get(p, 0)).cast("long")
                    for p in range(max(counts, default=0) + 1)
                ]
            )
            local_idx = F.monotonically_increasing_id() - (
                pid.cast("long") * F.lit(1 << 33)
            )
            dense_idx = F.element_at(off_arr, pid + 1) + local_idx
        for c in meta["columns"]:
            name = c["name"]
            stype = _parse_type(c["spark_type"])
            if name in src.columns:
                col = F.col(name).cast(stype)
            elif c["serial"]:
                base = serial_bases.get(name, 1)
                col = (F.lit(base) + dense_idx).cast(stype)
                serial_bases[name] = base + n_rows
            elif c["default"] is not None:
                col = low._expr(
                    Parser(c["default"]).parse_expr(), None, {}, []
                ).cast(stype)
            else:
                col = F.lit(None).cast(stype)
            out_cols.append(col.alias(name))
        checked, check = self._observed(src.select(*out_cols), meta, low)
        try:
            self._write_table(checked, path, meta, low)
            check()
        finally:
            if need_serial:
                src.unpersist()
        meta["serial_next"] = serial_bases

    def _observed(self, df: DataFrame, meta: dict, low):
        """``df`` with the table's constraint flags observed on it, and
        the check that raises the first violated one once a job over
        that frame has run. Validation rides the WRITE job itself
        (observe() metrics evaluated while the rows stream to parquet)
        instead of a separate aggregate pass: the source plan is
        computed ONCE, not twice — at 100 TB an INSERT…SELECT's source
        is the whole statement cost."""
        violations = self._violation_conds(meta, low)
        if not violations:
            return df, lambda: None
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(
            obs,
            *[
                F.max(F.coalesce(cond, F.lit(False))).alias(f"v{i}")
                for i, (cond, _) in enumerate(violations)
            ],
        )

        def check() -> None:
            flags = obs.get
            for i, (_, msg) in enumerate(violations):
                if flags.get(f"v{i}"):
                    raise CatalogError(msg)

        return df, check

    def _violation_conds(self, meta: dict, low) -> list[tuple[object, str]]:
        """The (flag expression, message) list behind constraint
        enforcement: NOT-NULL, enum membership, max length, CHECKs."""
        violations: list[tuple[object, str]] = []
        for c in meta["columns"]:
            if not c["nullable"] and not c["serial"]:
                violations.append(
                    (
                        F.col(c["name"]).isNull(),
                        f"column {c['name']!r} is not Nullable but got NULL",
                    )
                )
            members = c["dtype"].get("members")
            if members:
                violations.append(
                    (
                        ~F.col(c["name"]).isin(list(members.keys())),
                        f"enum column {c['name']!r} got a non-member value",
                    )
                )
            if c["max_len"]:
                violations.append(
                    (
                        F.length(F.col(c["name"])) > c["max_len"],
                        f"column {c['name']!r} exceeds max length "
                        f"{c['max_len']}",
                    )
                )
        for con in meta["constraints"]:
            check = low._expr(
                Parser(con["check"]).parse_expr(), None, {}, []
            )
            # SQL semantics: a CHECK whose predicate is UNKNOWN passes.
            violations.append(
                (
                    ~F.coalesce(check, F.lit(True)),
                    f"CHECK constraint {con['name']!r} violated",
                )
            )
        return violations

    def _dependent_views(self, *tables: str):
        """Each view whose defining query reads one of ``tables``, with
        that query parsed."""
        for meta in self.objects():
            if meta["type"] != "view":
                continue
            try:
                q = self.view_query(meta)
            except CatalogError:
                continue  # unreadable: reads of it raise instead
            if any(r.name in tables for r in _table_refs(q)):
                yield meta, q

    def _materialized_views(self, table: str) -> list[dict]:
        """The dependent views of ``table`` that store data."""
        return [
            m for m, _q in self._dependent_views(table)
            if m.get("strategy") != "plain"
        ]

    def rename(self, mapping) -> None:
        """Rename tables by ``mapping`` (``{old: new}`` or its pairs) at
        once, in one commit: ALTER … RENAME TO, RENAME TABLE, EXCHANGE
        TABLES (``{a: b, b: a}``). A target must be free unless renamed
        away too. Each data directory is staged under its new name with
        its new sidecar, and each dependent view's query with every
        TableRef mapped at once, so a view follows its table's data."""
        pairs = dict(mapping)
        metas = {old: self._load_meta(old) for old in pairs}
        for old, new in pairs.items():
            if (metas[old] or {}).get("type") != "table":
                raise CatalogError(f"unknown table {old!r}")
            if new not in pairs and self._taken(new):
                raise CatalogError(f"{new!r} already exists")
        if len(set(pairs.values())) < len(mapping):
            raise CatalogError("RENAME names one table twice")
        views = list(self._dependent_views(*pairs))
        for meta, q in views:
            for n in A.walk(q):
                ref = getattr(n, "source", None)  # a FROM or JOIN source
                if isinstance(ref, A.TableRef) and ref.name in pairs:
                    # a qualified column keeps naming the renamed table
                    n.alias = n.alias or ref.name
                    ref.name = pairs[ref.name]
            meta["query"] = printer.query(q)

        def write(staged: str) -> None:
            for old, new in pairs.items():
                _link(self._data_path(old), os.path.join(staged, new))
                meta = {**metas[old], "name": new}
                _dump(os.path.join(staged, new + ".json"), meta)
            for meta, _q in views:
                _dump(os.path.join(staged, meta["name"] + ".json"), meta)

        tables = sorted({*pairs, *pairs.values()})
        objs = tables + [meta["name"] for meta, _q in views]
        commit(self.root, tables + [n + ".json" for n in objs], write)

    def _replace(
        self, table: str, meta: dict, low, stage, new: DataFrame | None,
        names: list[str] | None = None,
    ) -> None:
        """The one commit of a statement that replaces ``table``'s data.
        ``stage(staged)`` writes the table's new entries ``names`` (the
        data directory by default); every materialized view that reads
        the table is derived again from the new rows and committed with
        them, so the table and its views change together or not at all.
        The insert delta path never sees removed or rewritten rows, so
        an incremental view's state is rebuilt from the full query.

        ``new`` is the table's new rows as a DataFrame. When its plan is
        deterministic, each view is lowered against it and written in a
        thread while ``stage`` writes the table (:func:`_run_beside`).
        Otherwise, or with no ``new``, the views read the staged table
        files once ``stage`` is done. Every job is joined before an
        error is raised and the commit rolls back."""
        views = self._materialized_views(table)
        beside = new is not None and _deterministic(new)

        def jobs(frame: DataFrame, staged: str) -> list:
            over = _lowerer_over(low, table, frame)
            return [
                functools.partial(self._view_job(m, over), staged)
                for m in views
            ]

        def write(staged: str) -> list[str]:
            if beside:
                write_table = functools.partial(stage, staged)
                out = _run_beside([write_table, *jobs(new, staged)])[1:]
            else:
                stage(staged)
                frame = self._read_data(os.path.join(staged, table), meta)
                out = _run_beside(jobs(frame, staged))
            return [n for names in out for n in names]

        commit(self.root, names or [table], write)

    # --- views (S7): CREATE VIEW … UPDATE BY <strategy> -------------------

    def create_view(self, v: A.ViewDefinition, low) -> None:
        existing = self._load_meta(v.name)
        if existing is not None:
            if v.if_not_exists:
                return
            if not getattr(v, "or_replace", False):
                raise CatalogError(f"view {v.name!r} already exists")
            # [EXT] CREATE OR REPLACE VIEW: the new view is committed
            # over the old object, which stays if the new one fails
        strategy = v.strategy.lower()
        if strategy not in ("plain", "summing", "replacing", "aggregating"):
            raise CatalogError(f"unsupported view strategy {v.strategy!r}")
        if strategy != "plain" and not v.order_by:
            raise CatalogError(f"{v.strategy} view requires ORDER BY merge keys")
        if strategy == "replacing" and not v.primary_key:
            raise CatalogError(
                "Replacing view requires PRIMARY KEY (version columns): "
                "the kept row per ORDER BY key is the one with the "
                "greatest version"
            )
        meta = {
            "type": "view",
            "name": v.name,
            "strategy": strategy,
            "order_by": v.order_by,
            "primary_key": v.primary_key,
            "query": printer.query(v.query),
        }
        # [EXT] a plain view stores only its query: reads lower it fresh
        # (engine.resolve_table), so it has no state to maintain
        job = None
        if strategy != "plain":
            self._mark_incremental_if_eligible(meta, low)
            job = self._view_job(meta, low)

        def write(staged: str) -> None:
            if job is not None:
                job(staged)
            _dump(os.path.join(staged, v.name + ".json"), meta)

        commit(self.root, [v.name, v.name + ".json"], write)

    def _mark_incremental_if_eligible(self, meta: dict, low) -> None:
        """A view maintains incrementally when the defining query is a
        UNION ALL of delta-decomposable branches; Summing additionally
        requires every non-key output column to be numeric (summable),
        Replacing requires its version columns in the output (keep-max
        merges any column type). State is then bucketed parquet merged
        per insert — O(touched buckets) per batch instead of a full
        recompute, the property that keeps a 100 TB view maintainable."""
        q = self.view_query(meta)
        if meta["strategy"] == "aggregating":
            # [EXT] Aggregating views carry their OWN GROUP BY; the
            # delta contract is re-aggregatability (sum/count/min/max
            # merge associatively), not row-flow
            self._mark_aggregating_incremental(meta, q, low)
            return
        branches = _unionall_branches(q)
        if branches is None or not all(_branch_delta_ok(b) for b in branches):
            meta["maintenance"] = "full"
            return
        df = low.lower_query(q)
        keys = meta["order_by"]
        if not set(keys) <= set(df.columns):
            meta["maintenance"] = "full"
            return
        non_key = [f for f in df.schema.fields if f.name not in keys]
        if meta["strategy"] == "replacing":
            if not set(meta["primary_key"] or []) <= set(df.columns):
                meta["maintenance"] = "full"
                return
            merged_schema = df.schema.json()
        else:
            if not all(
                isinstance(f.dataType, S.NumericType) for f in non_key
            ):
                meta["maintenance"] = "full"
                return
            probe = df.groupBy(*keys).agg(
                *[F.sum(f.name).alias(f.name) for f in non_key]
            )
            merged_schema = probe.select(*df.columns).schema.json()
        meta["maintenance"] = "incremental"
        meta["out_columns"] = df.columns
        meta["merged_schema"] = merged_schema

    def _mark_aggregating_incremental(self, meta: dict, q, low) -> None:
        """[EXT] UPDATE BY Aggregating — ClickHouse AggregatingMergeTree
        for the re-aggregatable functions. Eligible: a view that
        :func:`view_aggregates` classifies, with no subquery (avg and
        DISTINCT are NOT re-aggregatable and fall back to full refresh;
        spell avg as sum/count). State is the same bucketed parquet as
        Summing, merged per insert in O(touched buckets) under each
        column's merge op."""
        meta["maintenance"] = "full"
        cols = view_aggregates(meta, q)
        # a subquery's value depends on whole-table state, so a
        # per-insert delta through it would be silently wrong
        if cols is None or any(isinstance(n, A.SUBQUERIES) for n in A.walk(q)):
            return
        df = low.lower_query(q)
        meta["maintenance"] = "incremental"
        meta["out_columns"] = df.columns
        meta["merge_ops"] = {c: op for c, (_, op) in cols.items() if op}
        meta["merged_schema"] = df.schema.json()

    def show_create(self, meta: dict) -> str:
        """[EXT] SHOW CREATE TABLE/VIEW — DDL text reconstructed from
        the sidecar metadata. Not a byte replay of the original
        statement: types print as the catalog stored them (dialect
        names for declared tables, Spark simpleStrings for
        CTAS-derived schemas) and clause order is normalized."""

        def _type_str(d: dict) -> str:
            name = d["name"]
            if d.get("members"):
                inner = ", ".join(
                    f"'{k}' = {v}" for k, v in d["members"].items()
                )
                base = f"Enum({inner})"
            elif d.get("args") and all(
                isinstance(a, dict) for a in d["args"]
            ):
                base = (
                    f"{name.capitalize()}("
                    + ", ".join(_type_str(a) for a in d["args"])
                    + ")"
                )
            elif d.get("args"):
                base = (
                    f"{name.capitalize()}("
                    + ", ".join(str(a) for a in d["args"])
                    + ")"
                )
            else:
                base = {
                    "int8": "Int8", "int16": "Int16", "int32": "Int32",
                    "int64": "Int64", "uint8": "UInt8", "uint16": "UInt16",
                    "uint32": "UInt32", "uint64": "UInt64",
                    "float32": "Float32", "float64": "Float64",
                    "string": "String", "boolean": "Boolean",
                    "date": "Date", "datetime": "Datetime",
                    "serial64": "Serial64", "serial32": "Serial32",
                    "uuid": "Uuid", "chars": "Chars",
                }.get(name, name)
            if d.get("nullable"):
                return f"Nullable({base})"
            return base

        if meta["type"] == "view":
            q = meta["query"]
            if meta.get("strategy") == "plain":
                return f"CREATE VIEW {meta['name']} AS {q}"
            out = (
                f"CREATE VIEW {meta['name']} UPDATE BY "
                f"{meta['strategy'].capitalize()}"
            )
            if meta.get("order_by"):
                out += f" ORDER BY ({', '.join(meta['order_by'])})"
            return out + f" AS {q}"
        cols = ", ".join(
            f"{c['name']} {_type_str(c['dtype'])}" for c in meta["columns"]
        )
        out = f"CREATE TABLE {meta['name']} ({cols})"
        if meta.get("primary_key"):
            out += f" PRIMARY KEY ({', '.join(meta['primary_key'])})"
        if meta.get("order_by"):
            out += f" ORDER BY ({', '.join(meta['order_by'])})"
        if meta.get("partition_by"):
            out += f" PARTITION BY {meta['partition_by']}"
        if meta.get("engine"):
            out += f" ENGINE = {meta['engine']}"
        return out

    def _state_path(self, name: str) -> str:
        return self._data_path(name)

    def _state_merge(
        self, meta: dict, batch: DataFrame, state: str | None = None,
        staged: str | None = None,
    ) -> list[str]:
        """Merge one batch of view-query output rows into the bucketed
        state (the view's own, unless ``state`` names another) per the
        view's strategy; with ``staged``, stage the touched buckets
        there and return their names instead of committing them."""
        from nutdb_spark.streaming.summing import (
            replacing_merge_batch,
            summing_merge_batch,
        )

        keys = meta["order_by"]
        state = state or self._state_path(meta["name"])
        batch = batch.select(*meta["out_columns"])
        if meta["strategy"] == "replacing":
            return replacing_merge_batch(
                batch, keys, meta["primary_key"], state, staged=staged
            )
        elif meta["strategy"] == "aggregating":
            from nutdb_spark.streaming.summing import aggregating_merge_batch

            return aggregating_merge_batch(
                batch, keys, meta["merge_ops"], state, staged=staged
            )
        sums = [c for c in meta["out_columns"] if c not in keys]
        return summing_merge_batch(batch, keys, sums, state, staged=staged)

    def _view_job(self, meta: dict, low):
        """Lower view ``meta``'s defining query with ``low`` now and
        return the job that writes the view's data, derived whole from
        that query, at ``<staged>/<name>`` and returns the name.

        An incremental view's data is its bucketed state, built by the
        strategy's merge over the full query. Any other view is a full
        refresh: Summing sums numeric non-key columns per ORDER BY key
        (ClickHouse SummingMergeTree semantics; non-numeric non-key
        columns keep an arbitrary representative via `first`), and so
        does Aggregating, casting back to the query's own types as its
        incremental state does (a sum of sums widens a decimal);
        Replacing keeps, per ORDER BY key, the row with the greatest
        PRIMARY KEY version (ReplacingMergeTree(ver) semantics)."""
        name = meta["name"]
        df = low.lower_query(self.view_query(meta))
        if meta.get("maintenance") == "incremental":

            def build(staged: str) -> list[str]:
                state = os.path.join(staged, name)
                self._state_merge(meta, df, state)
                os.makedirs(state, exist_ok=True)  # a view over no rows
                return [name]

            return build
        keys = meta["order_by"]
        if meta.get("strategy") == "replacing":
            from nutdb_spark.operators import relational as R

            order = [(F.col(v), False) for v in meta["primary_key"]]
            merged = R.distinct_on(
                df, [F.col(k) for k in keys], order_by=order
            ).select(*df.columns)
        else:
            numeric = {
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, S.NumericType) and f.name not in keys
            }
            aggs = [
                F.sum(c).alias(c) if c in numeric else F.first(c).alias(c)
                for c in df.columns
                if c not in keys
            ]
            merged = df.groupBy(*keys).agg(*aggs).select(*df.columns)
            if meta["strategy"] == "aggregating":
                merged = merged.select(
                    *[F.col(f.name).cast(f.dataType) for f in df.schema]
                )

        def refresh(staged: str) -> list[str]:
            merged.write.parquet(os.path.join(staged, name))
            return [name]

        return refresh

    def _delta_job(self, meta: dict, table: str, delta: DataFrame, low):
        """Lower an incremental view's query over one insert's ``delta``
        now (ClickHouse MV semantics: the insert block flows through the
        query; branches not referencing the inserted table contribute
        nothing) and return the job that stages the state buckets the
        rows touch, merged, under ``<staged>/<name>`` and returns their
        names."""
        name = meta["name"]
        over = _lowerer_over(low, table, delta)
        parts = [
            over.lower_query(b)
            for b in _unionall_branches(self.view_query(meta))
            if any(r.name == table for r in _table_refs(b))
        ]

        def merge(staged: str) -> list[str]:
            if not parts:
                return []
            batch = functools.reduce(DataFrame.unionByName, parts)
            touched = self._state_merge(
                meta, batch, staged=os.path.join(staged, name)
            )
            return [os.path.join(name, b) for b in touched]

        return merge

    def read_view(self, name: str) -> DataFrame:
        meta = self._load_meta(name)
        self.view_query(meta)  # a view that cannot be maintained is unreadable
        if meta.get("maintenance") == "incremental":
            state = self._state_path(name)
            schema = S.StructType.fromJson(json.loads(meta["merged_schema"]))
            if not any(
                d.startswith("__bucket=")
                for d in (os.listdir(state) if os.path.isdir(state) else [])
            ):
                return self.spark.createDataFrame([], schema)
            return (
                self.spark.read.schema(schema.add("__bucket", S.IntegerType()))
                .parquet(state)
                .select(*meta["out_columns"])
            )
        return self.spark.read.parquet(self._data_path(name))

    # --- [EXT] operational DDL: DETACH/ATTACH, BACKUP/RESTORE -------------

    def detach(self, name: str, attach: bool) -> None:
        """[EXT] DETACH/ATTACH TABLE — CH's visibility toggle: DETACH
        commits the sidecar as <name>.json.detached (data untouched; the
        table no longer resolves, so views over it fail at read time,
        like CH), ATTACH commits it back."""
        src, dst = name + ".json", name + ".json.detached"
        if attach:
            src, dst = dst, src
            if os.path.exists(self._meta_path(name)):
                raise CatalogError(f"table {name!r} is already attached")
            if not os.path.exists(os.path.join(self.root, src)):
                raise CatalogError(f"no detached table {name!r}")
        elif (self._load_meta(name) or {}).get("type") != "table":
            raise CatalogError(
                f"unknown table {name!r} (DETACH supports tables)"
            )

        def write(staged: str) -> None:
            _link(os.path.join(self.root, src), os.path.join(staged, dst))

        commit(self.root, [src, dst], write)

    def backup(self, name: str, path: str, restore: bool) -> None:
        """[EXT] BACKUP/RESTORE TABLE — copy meta + parquet data
        to/from a directory. RESTORE commits a staged copy of the backup
        and refuses to clobber an existing table (drop first). BACKUP
        writes outside the catalog, where no commit reaches: it
        replaces its target only when the target is empty or is itself
        a prior backup (meta.json + data/) — anything else at the path
        raises instead of being deleted (ClickHouse's BACKUP likewise
        refuses to overwrite)."""
        if restore:
            if self._taken(name):
                raise CatalogError(
                    f"table {name!r} already exists — DROP it before RESTORE"
                )
            src_meta = os.path.join(path, "meta.json")
            src_data = os.path.join(path, "data")
            if not (os.path.exists(src_meta) and os.path.isdir(src_data)):
                raise CatalogError(f"no backup at {path!r}")
            with open(src_meta) as f:
                meta = {**json.load(f), "name": name}

            def write(staged: str) -> None:
                shutil.copytree(src_data, os.path.join(staged, name))
                _dump(os.path.join(staged, name + ".json"), meta)

            commit(self.root, [name, name + ".json"], write)
            return
        meta = self._load_meta(name)
        if meta is None or meta["type"] != "table":
            raise CatalogError(
                f"unknown table {name!r} (BACKUP supports tables)"
            )
        if os.path.exists(path) and not os.path.isdir(path):
            raise CatalogError(
                f"BACKUP target {path!r} exists and is not a directory"
            )
        if os.path.isdir(path) and os.listdir(path):
            looks_like_backup = os.path.exists(
                os.path.join(path, "meta.json")
            ) and os.path.isdir(os.path.join(path, "data"))
            if not looks_like_backup:
                raise CatalogError(
                    f"BACKUP target {path!r} is a non-empty directory "
                    "that is not a prior backup — refusing to delete "
                    "it; remove it explicitly first"
                )
            shutil.rmtree(path)
        shutil.copytree(self._data_path(name), os.path.join(path, "data"))
        shutil.copyfile(self._meta_path(name), os.path.join(path, "meta.json"))

    # --- DESCRIBE / DROP / TRUNCATE / ALTER / OPTIMIZE --------------------

    def describe(self, stmt: A.DescribeStmt, engine) -> DataFrame:
        if stmt.entity == "database":
            rows = [(m["name"], m["type"]) for m in self.objects()]
            return self.spark.createDataFrame(
                rows or [("", "")], "name: string, type: string"
            )
        meta = self._load_meta(stmt.name)
        if meta is None:
            # fixture tables are DESCRIBE-able too
            df = engine.resolve_table(stmt.name)
            rows = [(f.name, f.dataType.simpleString(), f.nullable, None) for f in df.schema.fields]
        elif meta["type"] == "view":
            df = (
                engine.resolve_table(stmt.name)
                if meta.get("strategy") == "plain"
                else self.read_view(stmt.name)
            )
            rows = [(f.name, f.dataType.simpleString(), True, None) for f in df.schema.fields]
        else:
            rows = [
                (
                    c["name"],
                    c["dtype"]["name"],
                    bool(c["nullable"]),
                    c["comment"],
                )
                for c in meta["columns"]
            ]
        return self.spark.createDataFrame(
            rows, "name: string, type: string, nullable: boolean, comment: string"
        )

    def drop(self, stmt: A.DropStmt) -> None:
        meta = self._load_meta(stmt.name)
        if meta is None or meta["type"] != stmt.entity:
            if stmt.if_exists:
                return
            raise CatalogError(f"unknown {stmt.entity} {stmt.name!r}")
        commit(self.root, [stmt.name + ".json", stmt.name])

    def truncate(self, stmt: A.TruncateStmt, low) -> None:
        meta = self._load_meta(stmt.name)
        if meta is None or meta["type"] != stmt.entity:
            if stmt.if_exists:
                return
            raise CatalogError(f"unknown {stmt.entity} {stmt.name!r}")

        def stage(staged: str) -> None:
            os.makedirs(os.path.join(staged, stmt.name))

        if stmt.entity != "table":
            commit(self.root, [stmt.name], stage)
            return
        empty = self.spark.createDataFrame([], self._schema(meta))
        self._replace(stmt.name, meta, low, stage, empty)

    def alter(self, stmt: A.AlterStmt, low) -> None:
        meta = self._load_meta(stmt.table)
        if meta is None or meta["type"] != "table":
            raise CatalogError(f"unknown table {stmt.table!r}")
        act = stmt.action
        if act == "add_column":
            col: A.ColumnDef = stmt.payload
            if any(c["name"] == col.name for c in meta["columns"]):
                if stmt.if_clause:
                    return
                raise CatalogError(f"column {col.name!r} exists")
            entry = {
                "name": col.name,
                "dtype": _dtype_meta(col.dtype),
                "spark_type": to_spark_type(col.dtype).json(),
                "nullable": col.dtype.nullable,
                "serial": col.dtype.name in _SERIAL_TYPES,
                "default": _sql(col.default),
                "comment": col.comment,
                "max_len": None,
            }
            if stmt.position == ("first",):
                meta["columns"].insert(0, entry)
            elif stmt.position and stmt.position[0] == "after":
                idx = next(
                    i
                    for i, c in enumerate(meta["columns"])
                    if c["name"] == stmt.position[1]
                )
                meta["columns"].insert(idx + 1, entry)
            else:
                meta["columns"].append(entry)
            # rewrite data files with the new column (default or NULL)
            self._rewrite(stmt.table, meta, low)
        elif act == "drop_column":
            keys = set(meta["order_by"] or [])
            if meta["partition_by"]:
                pe = Parser(meta["partition_by"]).parse_expr()
                keys |= {n.name for n in A.walk(pe) if isinstance(n, A.Ident)}
            if stmt.payload in keys:
                raise CatalogError(
                    f"cannot drop column {stmt.payload!r}: the table's "
                    "ORDER BY or PARTITION BY uses it"
                )
            meta["columns"] = [
                c for c in meta["columns"] if c["name"] != stmt.payload
            ]
            self._rewrite(stmt.table, meta, low)
        elif act == "rename_column":
            old, new = stmt.payload
            for c in meta["columns"]:
                if c["name"] == old:
                    c["name"] = new
            # the table's keys follow the column, so the rewrite keeps
            # its layout
            for key in ("order_by", "primary_key"):
                if meta[key]:
                    meta[key] = [new if k == old else k for k in meta[key]]
            if meta["partition_by"]:
                pe = Parser(meta["partition_by"]).parse_expr()
                for n in A.walk(pe):
                    if isinstance(n, A.Ident) and n.name == old:
                        n.name = new
                meta["partition_by"] = printer.expr(pe)
            self._rewrite(stmt.table, meta, low, rename=(old, new))
        elif act == "modify_column":
            # [EXT] retype in the metadata, then let the schema-
            # evolution rewrite cast the stored data (it already casts
            # every surviving column to its meta spark_type).
            col = stmt.payload
            entry = next(
                (c for c in meta["columns"] if c["name"] == col.name),
                None,
            )
            if entry is None:
                raise CatalogError(f"unknown column {col.name!r}")
            entry["dtype"] = _dtype_meta(col.dtype)
            entry["spark_type"] = to_spark_type(col.dtype).json()
            entry["nullable"] = col.dtype.nullable
            if col.default is not None:
                entry["default"] = printer.expr(col.default)
            self._rewrite(stmt.table, meta, low)
        elif act == "add_index":
            meta["indexes"].append(_index_meta(stmt.payload))
        elif act == "drop_index":
            meta["indexes"] = [
                i for i in meta["indexes"] if i["name"] != stmt.payload
            ]
        elif act == "add_constraint":
            meta["constraints"].append(
                {
                    "name": stmt.payload.name,
                    "check": printer.expr(stmt.payload.check),
                }
            )
        elif act == "drop_constraint":
            meta["constraints"] = [
                c for c in meta["constraints"] if c["name"] != stmt.payload
            ]
        elif act == "drop_partition":
            # partition value → delete that partition directory
            val = stmt.payload
            col = None
            if meta["partition_by"]:
                pexpr = Parser(meta["partition_by"]).parse_expr()
                col = pexpr.name if isinstance(pexpr, A.Ident) else "__part"
            if col is None:
                raise CatalogError("table is not partitioned")
            lit = val.value if isinstance(val, A.Lit) else None
            data, gone = self._data_path(stmt.table), f"{col}={lit}"
            rest = [
                os.path.join(data, d)
                for d in os.listdir(data)
                if d.startswith(f"{col}=") and d != gone
            ]
            left = self._read_data(data, meta, rest)
            self._replace(
                stmt.table, meta, low, lambda staged: None, left,
                names=[os.path.join(stmt.table, gone)],
            )
        elif act == "update":
            # [EXT] ClickHouse mutation: rewrite matched rows in place.
            # Same scale shape as ClickHouse's own mutations: a full
            # read → conditional projection → rewrite, distributed end
            # to end (no driver materialization), committed whole by
            # _overwrite.
            assignments, cond = stmt.payload
            by_name = {c["name"]: c for c in meta["columns"]}
            for cname, _ in assignments:
                if cname not in by_name:
                    raise CatalogError(f"unknown column {cname!r}")
                if by_name[cname]["serial"]:
                    raise CatalogError(
                        f"cannot UPDATE serial column {cname!r}"
                    )
            df = self.read_table(stmt.table)
            hit = F.coalesce(
                low._expr(cond, None, {}, []).cast("boolean"), F.lit(False)
            )
            upd = {}
            for cname, e in assignments:
                stype = _parse_type(by_name[cname]["spark_type"])
                upd[cname] = F.when(
                    hit, low._expr(e, None, {}, []).cast(stype)
                ).otherwise(F.col(cname))
            out = df.withColumns(upd)
            # a mutation must not sneak past the table's invariants —
            # validated on the rewrite job itself (one pass)
            self._overwrite(stmt.table, meta, out, low, validate=True)
        elif act == "delete":
            # [EXT] ClickHouse mutation: DELETE WHERE cond — rows whose
            # predicate is TRUE go; NULL/UNKNOWN rows stay (standard
            # DELETE semantics).
            df = self.read_table(stmt.table)
            hit = F.coalesce(
                low._expr(stmt.payload, None, {}, []).cast("boolean"),
                F.lit(False),
            )
            self._overwrite(stmt.table, meta, df.filter(~hit), low)
        elif act == "rename_table":
            self.rename({stmt.table: stmt.payload})
        else:
            raise CatalogError(f"unsupported ALTER action {act}")
        if act in ("add_index", "drop_index", "add_constraint", "drop_constraint"):
            # the others committed theirs
            sidecar = stmt.table + ".json"
            commit(
                self.root, [sidecar],
                lambda staged: _dump(os.path.join(staged, sidecar), meta),
            )

    def merge(self, stmt: "A.MergeStmt", low) -> None:
        """[EXT] ANSI MERGE INTO — the warehouse upsert, executed over
        the same primitives as the ClickHouse-style mutations: one
        source⋈target decision join, a full rewrite that _overwrite
        swaps in through :func:`commit` for updates/deletes, and the
        standard INSERT path (defaults, serials, CHECK enforcement)
        for the not-matched rows. Semantics pinned by tests: WHEN clauses apply in order
        (first matching clause per row wins); a target row matching
        MULTIPLE source rows is an error (the ANSI cardinality rule —
        a nondeterministic multi-update must never be silent); rows
        matching no clause pass through untouched.

        Scale shape: the decision join is a plain equi/theta join the
        optimizer plans (broadcast for small sources, shuffle
        otherwise); the cardinality check is ONE aggregate over the
        join (max matches per target row id — a 1-row driver value);
        inserts ride INSERT…SELECT. Nothing row-at-a-time."""
        meta = self._load_meta(stmt.table)
        if meta is None or meta["type"] != "table":
            raise CatalogError(f"unknown table {stmt.table!r}")
        by_name = {c["name"]: c for c in meta["columns"]}
        # --- source frame, columns renamed to the __ms_ namespace ---
        if isinstance(stmt.source, str):
            src0 = low.resolve_table(stmt.source)
            src_name = stmt.source
        elif isinstance(stmt.source, DataFrame):
            # internal programmatic form (e.g. a streaming foreachBatch
            # applying each micro-batch as a MERGE)
            src0 = stmt.source
            src_name = None
        else:
            src0 = low.lower_query(stmt.source)
            src_name = None
        pfx = "__ms_"
        scols = list(src0.columns)
        src = src0.select(
            *[F.col(c).alias(pfx + c) for c in scols]
        )
        tcols = set(by_name)  # declared target column names
        t_names = {stmt.table}
        if stmt.target_alias:
            t_names.add(stmt.target_alias)
        s_names = set()
        if stmt.source_alias:
            s_names.add(stmt.source_alias)
        if src_name is not None:
            s_names.add(src_name)

        def rw(e):
            """A MERGE column reference in the joined frame's names
            (a subquery keeps its own: the lowering rejects it here)."""
            if isinstance(e, A.SUBQUERIES):
                return e
            if not isinstance(e, A.Ident):
                return None
            if e.qualifier in s_names:
                if e.name not in scols:
                    raise CatalogError(f"unknown source column {e.name!r}")
                return A.Ident(pfx + e.name, None)
            if e.qualifier in t_names:
                if e.name not in tcols:
                    raise CatalogError(f"unknown target column {e.name!r}")
                return A.Ident(e.name, None)
            if e.qualifier is None:
                if e.name in tcols and e.name in scols:
                    raise CatalogError(
                        f"ambiguous MERGE column {e.name!r}: qualify it "
                        "with the target or source alias"
                    )
                if e.name in scols:
                    return A.Ident(pfx + e.name, None)
            return e

        def compile_(node, forbid_source: bool = False) -> Column:
            r = A.replace(node, rw)
            if forbid_source and any(
                isinstance(n, A.Ident)
                and n.qualifier is None
                and n.name.startswith(pfx)
                for n in A.walk(r)
            ):
                raise CatalogError(
                    "WHEN NOT MATCHED BY SOURCE expressions may reference "
                    "target columns only"
                )
            return low._expr(r, None, {}, [])

        # --- decision join (target row id is pinned by an eager
        # checkpoint so the id survives across the jobs below) ---
        tgt = (
            self.read_table(stmt.table)
            .withColumn("__mtid", F.monotonically_increasing_id())
            .localCheckpoint()
        )
        on_col = compile_(stmt.on)
        marked = src.withColumn("__ms__hit", F.lit(1))
        joined = tgt.join(marked, on_col, "left")
        mx = (
            joined.groupBy("__mtid")
            .agg(F.count("__ms__hit").alias("k"))
            .agg(F.max("k"))
            .collect()[0][0]
        )
        if mx is not None and mx > 1:
            raise CatalogError(
                "MERGE: a target row matched multiple source rows"
            )
        # --- matched clauses (then the [EXT] NOT MATCHED BY SOURCE
        # clauses over stale target rows): first matching clause per
        # row wins (a when-chain evaluates in clause order) ---
        is_m = F.col("__ms__hit").isNotNull()
        by_src = getattr(stmt, "not_matched_by_source", []) or []
        clauses = [
            (cond, action, True) for cond, action in stmt.matched
        ] + [(cond, action, False) for cond, action in by_src]
        idx_col = None
        for i, (cond, action, on_match) in enumerate(clauses):
            gate = is_m if on_match else ~is_m
            c = gate if cond is None else gate & F.coalesce(
                compile_(cond, forbid_source=not on_match).cast("boolean"),
                F.lit(False),
            )
            idx_col = (
                F.when(c, F.lit(i + 1))
                if idx_col is None
                else idx_col.when(c, F.lit(i + 1))
            )
        idx = (
            idx_col.otherwise(F.lit(0)) if idx_col is not None else F.lit(0)
        )
        decided = joined.withColumn("__midx", idx)
        del_idx = [
            i + 1
            for i, (_, action, _m) in enumerate(clauses)
            if action[0] == "delete"
        ]
        out_cols = []
        for c in tgt.columns:
            if c == "__mtid":
                continue
            col = F.col(c)
            for i, (_, action, on_match) in enumerate(clauses):
                if action[0] != "update":
                    continue
                for cname, e in action[1]:
                    if cname not in by_name:
                        raise CatalogError(f"unknown column {cname!r}")
                    if by_name[cname]["serial"]:
                        raise CatalogError(
                            f"cannot UPDATE serial column {cname!r}"
                        )
                    if cname != c:
                        continue
                    stype = _parse_type(by_name[cname]["spark_type"])
                    col = F.when(
                        F.col("__midx") == i + 1,
                        compile_(e, forbid_source=not on_match).cast(
                            stype
                        ),
                    ).otherwise(col)
            out_cols.append(col.alias(c))
        kept = decided
        if del_idx:
            kept = kept.where(~F.col("__midx").isin(del_idx))
        out = kept.select(*out_cols)
        # --- not-matched inserts: built from the PRE-rewrite source,
        # materialized before the target files are swapped ---
        ins_frames = []
        if stmt.not_matched:
            anti = src.join(tgt, on_col, "left_anti")
            remaining = anti
            for cond, cols, exprs in stmt.not_matched:
                part = remaining
                if cond is not None:
                    hit = F.coalesce(
                        compile_(cond).cast("boolean"), F.lit(False)
                    )
                    part = remaining.where(hit)
                    remaining = remaining.where(~hit)
                else:
                    remaining = remaining.limit(0)
                target_cols = cols or [
                    c["name"] for c in meta["columns"] if not c["serial"]
                ]
                if len(exprs) != len(target_cols):
                    raise CatalogError(
                        "MERGE INSERT arity does not match the target "
                        "column list"
                    )
                for n in target_cols:
                    if n not in by_name:
                        raise CatalogError(f"unknown column {n!r}")
                ins_frames.append(
                    part.select(
                        *[
                            compile_(e).alias(n)
                            for e, n in zip(exprs, target_cols)
                        ]
                    ).localCheckpoint()  # pinned: read after the rewrite
                )
        # --- apply: the rewrite (constraints validated on the rewrite
        # job itself) and the not-matched rows, written through the
        # INSERT row path, are staged as one table and committed with
        # its sidecar (serial counters) and its views ---
        ins_frames = [row for row in ins_frames if not row.isEmpty()]
        checked, check = self._observed(out, meta, low)
        table = stmt.table

        def stage(staged: str) -> None:
            path = os.path.join(staged, table)
            self._write_table(checked, path, meta, low)
            check()
            for i, row in enumerate(ins_frames):
                rows = os.path.join(staged, f".insert-{i}")
                self._write_rows(row, meta, low, rows)
                _move_files(rows, path)
            _dump(os.path.join(staged, table + ".json"), meta)

        self._replace(
            table, meta, low, stage, None if ins_frames else out,
            names=[table, table + ".json"],
        )

    def exchange(self, a: str, b: str) -> None:
        """[EXT] EXCHANGE TABLES a AND b: one commit of the rename
        ``{a: b, b: a}`` (ClickHouse's EXCHANGE is one atomic swap)."""
        self.rename({a: b, b: a})

    def _overwrite(
        self,
        name: str,
        meta: dict,
        df: DataFrame,
        low,
        *,
        validate: bool = False,
    ) -> None:
        """Full-table rewrite in the declared layout, committed with the
        table's views by :meth:`_replace`. With ``validate=True`` the
        constraint flags ride the staged write itself via observe() —
        one pass over the rewritten rows instead of a validation
        aggregate plus the write — and a violation aborts BEFORE the
        swap, so the live table is untouched either way."""
        checked, check = (
            self._observed(df, meta, low) if validate else (df, lambda: None)
        )

        def stage(staged: str) -> None:
            self._write_table(checked, os.path.join(staged, name), meta, low)
            check()

        self._replace(name, meta, low, stage, df)

    def _rewrite(self, name: str, meta: dict, low, rename=None) -> None:
        """Schema-evolution rewrite (columns added/dropped/renamed or
        retyped): the data directory, the new sidecar and the table's
        views commit as one unit."""
        old = self.read_table(name)
        if rename:
            old = old.withColumnRenamed(*rename)
        cols = []
        for c in meta["columns"]:
            stype = _parse_type(c["spark_type"])
            if c["name"] in old.columns:
                cols.append(F.col(c["name"]).cast(stype).alias(c["name"]))
            elif c["default"] is not None:
                cols.append(
                    low._expr(Parser(c["default"]).parse_expr(), None, {}, [])
                    .cast(stype)
                    .alias(c["name"])
                )
            else:
                cols.append(F.lit(None).cast(stype).alias(c["name"]))
        out = old.select(*cols)

        def stage(staged: str) -> None:
            self._write_table(out, os.path.join(staged, name), meta, low)
            _dump(os.path.join(staged, name + ".json"), meta)

        self._replace(name, meta, low, stage, out, names=[name, name + ".json"])

    def optimize(self, stmt: A.OptimizeStmt, low) -> None:
        """S14: small-file compaction (Delta-style OPTIMIZE by hand):
        read → repartition to ~128 MB targets → staged write in the
        declared layout, committed by :meth:`_replace` together with
        every dependent view derived again from the compacted rows.
        Compaction preserves content, but the views are still rebuilt:
        OPTIMIZE is the documented repair hook for views knocked stale
        by external file surgery, now inside the table's own commit."""
        meta = self._load_meta(stmt.table)
        if meta is None:
            raise CatalogError(f"unknown table {stmt.table!r}")
        path = self._data_path(stmt.table)
        df = self.read_table(stmt.table)
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path)
            for f in fs
        )
        target = max(1, size // (128 << 20) + 1)
        if getattr(stmt, "deduplicate", False):
            by = getattr(stmt, "dedup_by", None)
            if by:
                # [EXT] DEDUPLICATE BY cols: keep ONE row per key,
                # deterministically (min over the remaining columns'
                # sort order — CH keeps an arbitrary row; a rewrite
                # that can differ per run is untestable).
                missing = [c for c in by if c not in df.columns]
                if missing:
                    raise CatalogError(
                        f"DEDUPLICATE BY unknown column(s) {missing}"
                    )
                rest = [c for c in df.columns if c not in by]
                if rest:
                    from pyspark.sql import Window

                    w = Window.partitionBy(*by).orderBy(
                        *[F.col(c).asc_nulls_first() for c in rest]
                    )
                    rn = "__optimize_rn"
                    df = (
                        df.withColumn(rn, F.row_number().over(w))
                        .where(F.col(rn) == 1)
                        .drop(rn)
                    )
                else:
                    df = df.dropDuplicates()
            else:
                df = df.dropDuplicates()
        out = df.repartition(target)

        def stage(staged: str) -> None:
            self._write_table(out, os.path.join(staged, stmt.table), meta, low)

        self._replace(stmt.table, meta, low, stage, df)


def _sql(e) -> str | None:
    """An optional stored expression as dialect SQL."""
    return None if e is None else printer.expr(e)


def _dump(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)


def _index_meta(i: A.IndexDef) -> dict:
    return {
        "name": i.name,
        "fn": i.fn.name,
        "args": [printer.expr(a) for a in i.fn.args],
    }


def _parse_type(js: str) -> S.DataType:
    return S._parse_datatype_json_string(js)

