"""NutDB-on-Spark engine facade.

``connect()`` is the in-process entry point, mirroring the reference's
embedded-database intent (`/root/reference/Cargo.toml:9` — "in-process
analytical database"): one object wrapping a SparkSession, a managed
catalog (parquet + JSON sidecar metadata), and the dialect frontend.

    eng = connect(data_dir="/root/testdata/sf0.001")
    eng.sql("SELECT count() FROM lineitem").show()

`sql()` returns a DataFrame for queries (laziness preserved), a
DataFrame for DESCRIBE/EXPLAIN, and None for DDL/effects.
"""

from __future__ import annotations

import json
import os
from dataclasses import replace as _dc_replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as S

from nutdb_spark.catalog import (
    Catalog, CatalogError, agg_form, view_aggregates,
)
from nutdb_spark.frontend import ast_nodes as A
from nutdb_spark.frontend.lower import Lowerer, LoweringError
from nutdb_spark.frontend.parser import parse
from nutdb_spark.functions.registry import NONDETERMINISTIC
from nutdb_spark.sources.tables import TABLES, load_table


def _conf_key(name: str) -> str:
    """Map a dialect conf name to a Spark conf key: `_` ↔ `.`, with a
    literal underscore in the Spark key spelled `__`
    (spark_foo__bar → spark.foo_bar)."""
    sentinel = "\x00"
    return (
        name.replace("__", sentinel).replace("_", ".").replace(sentinel, "_")
    )


class NutEngine:
    def __init__(
        self,
        spark: SparkSession | None = None,
        *,
        data_dir: str | None = None,
        catalog_dir: str | None = None,
    ):
        from nutdb_spark.session import get_spark

        self.spark = spark or get_spark("nutdb_engine")
        self.data_dir = data_dir or os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
        )
        self.catalog = Catalog(self.spark, catalog_dir)
        self.config: dict[str, object] = {}

    # --- table resolution -------------------------------------------------

    def resolve_table(self, name: str) -> DataFrame:
        if self.catalog.has_table(name):
            return self.catalog.read_table(name)
        if self.catalog.has_view(name):
            meta = self.catalog._load_meta(name)
            if meta.get("strategy") == "plain":
                # [EXT] plain view: lower the stored query fresh —
                # fully composable with the outer plan (pushdowns and
                # pruning cross the view boundary). Guard cycles.
                stack = getattr(self, "_view_stack", set())
                if name in stack:
                    raise LoweringError(
                        f"circular view reference through {name!r}"
                    )
                self._view_stack = stack | {name}
                try:
                    low = Lowerer(
                        self.spark, self.resolve_table,
                        config=self.config,
                    )
                    return low.lower_query(self.catalog.view_query(meta))
                finally:
                    self._view_stack = stack
            return self.catalog.read_view(name)
        if name in TABLES:
            return load_table(self.spark, self.data_dir, name)
        raise LoweringError(f"unknown table {name!r}")

    # --- [EXT] Summing/Aggregating-view auto-rewrite (CH projections) -----

    def _rewrite_views(self) -> list[dict]:
        # the scan fires on every GROUP BY statement — cache on the
        # catalog directory's mtime (any CREATE/DROP touches it)
        try:
            stamp = os.stat(self.catalog.root).st_mtime_ns
        except OSError:
            return []
        cached = getattr(self, "_rw_views_cache", None)
        if cached is not None and cached[0] == stamp:
            return cached[1]
        out = [
            m
            for m in self.catalog.objects()
            # only an incremental view stores exactly its merged
            # columns, in the types merged_schema records (a full
            # refresh keeps first() of a non-numeric Summing column)
            if m["type"] == "view"
            and m.get("strategy") in ("summing", "aggregating")
            and m.get("maintenance") == "incremental"
        ]
        self._rw_views_cache = (stamp, out)
        return out

    @staticmethod
    def _where_idents(node, acc: set) -> bool:
        """Collect unqualified Ident names; False on anything a key
        predicate can't contain (subqueries, window calls,
        nondeterministic function calls: the view holds MERGED rows,
        so `WHERE rand() < 0.5` would filter merged rows instead of
        base rows — a different result distribution, not just a
        different sample)."""
        for n in A.walk(node):
            if isinstance(n, (*A.SUBQUERIES, A.WindowCall)) or (
                isinstance(n, A.FnCall)
                and n.name.lower() in NONDETERMINISTIC
            ):
                return False
            if isinstance(n, A.Ident):
                if n.qualifier:
                    return False
                acc.add(n.name)
        return True

    def _try_projection_rewrite(self, q):
        """Rewrite `SELECT k…, agg(v)… FROM base [WHERE on keys] GROUP
        BY k…` onto a Summing view (sum only) or an Aggregating view
        (sum/count/min/max) over `base` whose merge keys cover the
        query keys — ClickHouse's projection/materialized-view answer
        path. Sound because both view kinds partition base rows by
        their key tuple: any key-only predicate commutes with the
        merge, and re-aggregating merged rows (sum of sums / sum of
        partial counts / min of mins / max of maxes) rolls up to
        coarser keys exactly. The view is exactly as fresh as the
        catalog keeps it (every INSERT/mutation path maintains it),
        which is the CH contract. Statement-scoped off-switch:
        SETTINGS optimize_use_projections = 0. Returns the rewritten
        SelectCore or None."""
        if not isinstance(q, A.SelectCore):
            return None
        if (
            q.ctes or q.expr_aliases or q.distinct or q.distinct_on
            or q.joins or q.prewhere or q.group_all or q.group_modifier
            or q.group_sets or q.having or q.qualify or q.windows
            or q.interpolate or q.limit_by
        ):
            return None
        if q.from_ is None or not isinstance(q.from_.source, A.TableRef):
            return None
        if q.from_.sample is not None:
            return None
        base = q.from_.source.name
        # the rewrite must not resurrect a DETACHed (or dropped) base:
        # if the base no longer resolves, fail at lowering like any
        # other query instead of silently answering from view state
        if not (
            self.catalog.has_table(base)
            or self.catalog.has_view(base)
            or base in TABLES
        ):
            return None
        keys = []
        for g in q.group_by:
            if not isinstance(g, A.Ident) or g.qualifier:
                return None
            keys.append(g.name)
        if not keys:
            return None
        items = []  # ("key", name, alias) | ("agg", FnCall, alias)
        for expr, alias in q.columns:
            if isinstance(expr, A.Ident) and not expr.qualifier:
                if expr.name not in keys:
                    return None
                items.append(("key", expr.name, alias))
            elif agg_form(expr) is not None:
                items.append(("agg", expr, alias))
            else:
                return None
        wcols: set[str] = set()
        if q.where is not None:
            if not self._where_idents(q.where, wcols):
                return None
            if not wcols <= set(keys):
                return None
        out_aliases = {a for _, _, a in items if a}
        for o in q.order_by:
            oc: set[str] = set()
            if not self._where_idents(o.expr, oc):
                return None
            if not oc <= (set(keys) | out_aliases):
                return None
        for meta in self._rewrite_views():
            out = self._match_view(meta, base, keys, items, q)
            if out is not None:
                return out
        return None

    def _match_view(self, meta, base, keys, items, q):
        try:
            vq = self.catalog.view_query(meta)
        except CatalogError:
            return None  # unreadable views answer nothing
        cols = view_aggregates(meta, vq)
        # a filtered view holds aggregates of the rows it kept only
        if (
            cols is None or vq.where is not None or vq.prewhere is not None
            or vq.from_.source.name != base
        ):
            return None
        colmap = {held: c for c, (held, op) in cols.items() if op is None}
        aggmap = {held: (c, op) for c, (held, op) in cols.items() if op}
        if not all(k in colmap for k in keys):
            return None
        stored = S.StructType.fromJson(json.loads(meta["merged_schema"]))
        new_cols = []
        for kind, c, alias in items:
            if kind == "key":
                new_cols.append((A.Ident(colmap[c]), alias or c))
                continue
            hit = aggmap.get(agg_form(c))
            if hit is None:
                return None
            vc, op = hit
            # cast back to the stored column's type, the type of the
            # original call (a sum of sums widens a decimal again);
            # the default name is the lowerer's for the ORIGINAL call
            # (Lowerer._expr_name: bare fn name), so an unaliased query
            # keeps its schema under the rewrite
            new_cols.append((
                A.Cast(A.FnCall(op, [A.Ident(vc)]), stored[vc].dataType),
                alias or c.name,
            ))
        ren = {k: colmap[k] for k in keys}

        def renamed(n):
            if isinstance(n, A.Ident) and n.name in ren:
                return A.Ident(ren[n.name], n.qualifier)
            return None

        return _dc_replace(
            q,
            columns=new_cols,
            from_=A.FromClause(A.TableRef(meta["name"])),
            where=None if q.where is None else A.replace(q.where, renamed),
            group_by=[A.Ident(colmap[k]) for k in keys],
            order_by=[
                _dc_replace(o, expr=A.replace(o.expr, renamed))
                for o in q.order_by
            ],
        )

    # --- entry ------------------------------------------------------------

    def _list_tables(self) -> list[str]:
        names = set(TABLES)
        names.update(
            m["name"] for m in self.catalog.objects() if m["type"] == "table"
        )
        return sorted(names)

    def sql(self, text: str, params: list | None = None):
        stmt = parse(text)
        low = Lowerer(
            self.spark, self.resolve_table, params, config=self.config,
            list_tables=self._list_tables,
        )
        if isinstance(stmt, A.SelectStmt):
            # [EXT] SETTINGS apply before lowering (they can affect the
            # physical plan, e.g. spark_sql_shuffle_partitions) and are
            # STATEMENT-scoped like ClickHouse's: prior conf values are
            # restored before returning so later statements don't
            # silently run under this statement's confs.
            saved: list[tuple[str, str | None]] = []
            # self.config entries are statement-scoped too: a SETTINGS
            # name must not clobber session config consulted by later
            # statements (@name references, SET @name) — only SET is
            # session-durable
            saved_cfg: list[tuple[str, object, bool]] = []
            for name, value in getattr(stmt, "settings", []) or []:
                saved_cfg.append((name, self.config.get(name), name in self.config))
                self.config[name] = value
                if str(name).startswith("spark_"):
                    key = _conf_key(name)
                    saved.append((key, self.spark.conf.get(key, None)))
                    self.spark.conf.set(key, str(value))
            try:
                query = stmt.query
                if str(self.config.get("optimize_use_projections", 1)) not in (
                    "0", "false", "False",
                ):
                    query = self._try_projection_rewrite(query) or query
                df = low.lower_query(query)
                if saved:
                    # the returned frame is lazy — force physical
                    # planning NOW, while the confs are in effect; the
                    # resolved plan is cached on the QueryExecution, so
                    # later actions on this frame reuse it
                    df._jdf.queryExecution().executedPlan()
                if getattr(stmt, "outfile", None) is not None:
                    return self._write_outfile(df, *stmt.outfile)
                return df
            finally:
                for key, prior in reversed(saved):
                    if prior is None:
                        self.spark.conf.unset(key)
                    else:
                        self.spark.conf.set(key, prior)
                for name, prior, existed in reversed(saved_cfg):
                    if existed:
                        self.config[name] = prior
                    else:
                        self.config.pop(name, None)
        if isinstance(stmt, A.ShowStmt):
            return self._show(stmt)
        if isinstance(stmt, A.ExplainStmt):
            if getattr(stmt, "mode", "simple") == "syntax":
                from nutdb_spark.frontend.printer import statement as _print

                return self.spark.createDataFrame(
                    [(_print(stmt.query),)], "syntax: string"
                )
            if getattr(stmt, "mode", "simple") == "estimate":
                df = low.lower_query(stmt.query)
                stats = (
                    df._jdf.queryExecution().optimizedPlan().stats()
                )
                rc = stats.rowCount()
                rows = int(rc.get()) if rc.isDefined() else None
                return self.spark.createDataFrame(
                    [(int(stats.sizeInBytes().longValue())
                      if hasattr(stats.sizeInBytes(), "longValue")
                      else int(str(stats.sizeInBytes())), rows)],
                    "size_bytes: long, row_count: long",
                )
            if getattr(stmt, "mode", "simple") == "ast":
                # [EXT] EXPLAIN AST — pretty-printed dataclass tree of
                # the PARSED query (before lowering), one node per line
                import dataclasses

                lines: list[str] = []

                def walk(node, depth):
                    pad = "  " * depth
                    if dataclasses.is_dataclass(node):
                        lines.append(f"{pad}{type(node).__name__}")
                        for f in dataclasses.fields(node):
                            v = getattr(node, f.name)
                            if v is None or v == [] or v is False:
                                continue
                            if dataclasses.is_dataclass(v) or (
                                isinstance(v, list)
                                and any(
                                    dataclasses.is_dataclass(x)
                                    for x in v
                                )
                            ):
                                lines.append(f"{pad}  .{f.name}:")
                                walk(v, depth + 2)
                            else:
                                lines.append(f"{pad}  .{f.name} = {v!r}")
                    elif isinstance(node, list):
                        for x in node:
                            walk(x, depth)
                    elif isinstance(node, tuple):
                        for x in node:
                            walk(x, depth)
                    else:
                        lines.append(f"{'  ' * depth}{node!r}")

                walk(stmt.query, 0)
                return self.spark.createDataFrame(
                    [(line,) for line in lines], "ast: string"
                )
            df = low.lower_query(stmt.query)
            qe = df._jdf.queryExecution()
            mode = getattr(stmt, "mode", "simple")
            if mode == "formatted":
                # codegen-span view: the plan tree + per-node details
                jvm = self.spark._jvm
                plan = qe.explainString(
                    jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            elif mode == "analyze":
                # run the query, then report the executed plan with
                # runtime metrics (row counts, spill, shuffle bytes)
                df.foreach(lambda _row: None)
                plan = qe.executedPlan().toString()
            elif mode == "pipeline":
                # [EXT] EXPLAIN PIPELINE (CH): the physical operator
                # pipeline — the executed plan tree WITHOUT running
                # (EXPLAIN ANALYZE is the run-and-measure sibling)
                plan = qe.executedPlan().toString()
            else:
                plan = qe.toString()
            return self.spark.createDataFrame(
                [(line,) for line in plan.split("\n")], "plan: string"
            )
        if isinstance(stmt, A.InsertStmt):
            self.catalog.insert(stmt, low)
            return None
        if isinstance(stmt, A.MergeStmt):
            self.catalog.merge(stmt, low)
            return None
        if isinstance(stmt, A.CreateTableStmt):
            self.catalog.create_table(stmt.definition, low)
            return None
        if isinstance(stmt, A.ExchangeStmt):
            self.catalog.exchange(stmt.a, stmt.b)
            return None
        if isinstance(stmt, A.DetachStmt):
            self.catalog.detach(stmt.name, stmt.attach)
            return None
        if isinstance(stmt, A.BackupStmt):
            self.catalog.backup(stmt.name, stmt.path, stmt.restore)
            return None
        if isinstance(stmt, A.RenameStmt):
            self.catalog.rename(stmt.pairs)
            return None
        if isinstance(stmt, A.CreateViewStmt):
            self.catalog.create_view(stmt.definition, low)
            return None
        if isinstance(stmt, A.DescribeStmt):
            return self.catalog.describe(stmt, self)
        if isinstance(stmt, A.DropStmt):
            self.catalog.drop(stmt)
            return None
        if isinstance(stmt, A.TruncateStmt):
            self.catalog.truncate(stmt, low)
            return None
        if isinstance(stmt, A.AlterStmt):
            self.catalog.alter(stmt, low)
            return None
        if isinstance(stmt, A.OptimizeStmt):
            self.catalog.optimize(stmt, low)
            return None
        if isinstance(stmt, A.SetStmt):
            value = stmt.value
            if isinstance(value, A.Lit):
                self.config[stmt.name] = value.value
                if str(stmt.name).startswith("spark_"):
                    # @spark_sql_shuffle_partitions ↔ spark.sql.shuffle.partitions
                    # (SET is session-scoped by design, like ClickHouse SET;
                    # statement-scoped overrides are the SETTINGS clause)
                    key = _conf_key(stmt.name)
                    self.spark.conf.set(key, str(value.value))
            else:
                raise LoweringError("SET requires a literal value")
            return None
        raise LoweringError(f"unsupported statement {type(stmt).__name__}")

    def _write_outfile(self, df: DataFrame, path: str, fmt: str) -> DataFrame:
        """[EXT] INTO OUTFILE sink: distributed write (one file per
        partition — never a single-file driver funnel), then return the
        read-back frame so the caller (and the oracle gate) verifies
        the full write+read roundtrip, not just that a write ran."""
        if fmt not in ("parquet", "csv", "json", "orc"):
            raise LoweringError(f"unsupported OUTFILE format {fmt!r}")
        w = df.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        getattr(w, fmt)(path)
        reader = self.spark.read
        if fmt == "csv":
            return reader.option("header", "true").schema(df.schema).csv(path)
        return getattr(reader, fmt)(path)

    def _show(self, stmt: A.ShowStmt) -> DataFrame:
        """[EXT] SHOW TABLES / VIEWS / DATABASE over the managed
        catalog (fixture tables are not catalog objects), plus
        SHOW CREATE TABLE — DDL reconstructed from the sidecar
        metadata (type names are the catalog's stored dialect names;
        CTAS tables print their derived schema)."""
        if stmt.entity == "create":
            meta = self.catalog._load_meta(stmt.name)
            if meta is None:
                raise CatalogError(f"unknown object {stmt.name!r}")
            ddl = self.catalog.show_create(meta)
            return self.spark.createDataFrame(
                [(stmt.name, ddl)], "name: string, create_query: string"
            )
        rows = [
            (m["name"], m["type"])
            for m in self.catalog.objects()
            if stmt.entity == "database" or m["type"] == stmt.entity
        ]
        return self.spark.createDataFrame(rows, "name: string, type: string")


def connect(**kwargs) -> NutEngine:
    return NutEngine(**kwargs)
