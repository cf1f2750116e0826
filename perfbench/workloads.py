"""The benchmark's workloads and their output checks.

Each workload is one client in a closed loop on the engine's public
surface, ``nutdb_spark.connect(...).sql(text)``; a query result is forced
with a ``noop`` write. Why each workload exists and which layer it loads
is recorded in BENCHMARK.json.

The dialect statements and their DuckDB oracles in ``statements.json``
were copied from the engine's suite (``nutdb_spark/suite``), so the
benchmark keeps measuring the same statements when the suite changes.
"""

from __future__ import annotations

import json
import os
import random
import re

HERE = os.path.dirname(os.path.abspath(__file__))

# The generated tables do not depend on the run seed: every run of a
# workload reads the same data, and the seed only orders the work.
DATA_SEED = 20240601
SCALES = {"adhoc_sql": 0.01, "ingest": 0.1}

# Read-only dialect SELECTs at a scale where parse + lower + Catalyst +
# job launch, not data volume, sets each statement's latency: EXISTS and
# scalar-subquery decorrelation, a 4-way join, named windows and -If
# combinators. The last two are curation table functions that cross the
# JVM-Python boundary (annTopK: cogrouped applyInPandas; dtwTopK:
# mapInPandas). Few statements, so that each gets several samples.
ADHOC_SQL = (
    "sql_q4_exists", "sql_multi_join", "sql_cte_scalar", "sql_window_named",
    "sql_agg_if", "sql_table_fn_ann", "sql_table_fn_dtw",
)

with open(os.path.join(HERE, "statements.json")) as _f:
    STATEMENTS: dict[str, dict[str, str]] = json.load(_f)


class ReadWorkload:
    """A fixed list of statements, run in passes; the seed shuffles the
    order of every pass."""

    def __init__(self, names: tuple[str, ...], seed: int):
        self.names = names
        self.rng = random.Random(seed)

    def setup(self, eng) -> None:
        """Resolve every fixture table the statements read."""
        for table in self.tables():
            eng.sql(f"DESCRIBE TABLE {table}")

    def tables(self) -> list[str]:
        from nutdb_spark.sources.tables import TABLES

        text = " ".join(STATEMENTS[n]["sql"] for n in self.names)
        return [t for t in TABLES if re.search(rf"\b{t}\b", text)]

    def one_pass(self) -> list[tuple[str, str]]:
        order = list(self.names)
        self.rng.shuffle(order)
        return [(n, STATEMENTS[n]["sql"]) for n in order]

    def warmup(self) -> list[tuple[str, str]]:
        # a second pass after the output check, so that the timed passes
        # start past the steepest part of the JIT's warm-up
        return self.one_pass()

    def stream(self):
        """Units of work for the timed loop: one statement each."""
        while True:
            for stmt in self.one_pass():
                yield [stmt]

    def final(self) -> list[tuple[str, str]]:
        return []

    def checks(self) -> list[tuple[str, str, str]]:
        """(key, engine SQL, DuckDB SQL) whose results must match."""
        return [(n, sql, STATEMENTS[n]["oracle"]) for n, sql in self.one_pass()]


class IngestWorkload:
    """Slices of ``lineitem`` inserted into a partitioned table that a
    Summing view maintains. A batch is one INSERT, one read the view
    answers by projection rewrite, one read it cannot, and one
    ``ALTER TABLE … DELETE``; the timed batches end with ``OPTIMIZE``."""

    SLICES = 16
    COLUMNS = (
        "l_orderkey Int64, l_partkey Int64, l_suppkey Int64, "
        "l_linenumber Int32, l_quantity Float64, l_extendedprice Float64, "
        "l_discount Float64, l_tax Float64, l_returnflag String, "
        "l_linestatus String, l_shipdate DateTime"
    )

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.order = list(range(self.SLICES))
        rng.shuffle(self.order)
        self.delete_keys = rng.sample(range(50), self.SLICES)
        self.inserted: list[int] = []

    @staticmethod
    def ddl(table: str, view: str) -> list[str]:
        return [
            f"CREATE TABLE {table} ({IngestWorkload.COLUMNS}) "
            f"ORDER BY (l_orderkey, l_linenumber) PARTITION BY l_returnflag",
            f"CREATE VIEW {view} UPDATE BY Summing "
            f"ORDER BY (l_returnflag, l_linestatus) AS "
            f"SELECT l_returnflag, l_linestatus, l_quantity FROM {table}",
        ]

    @staticmethod
    def insert_sql(table: str, part: int) -> str:
        return (
            f"INSERT INTO {table} SELECT * FROM lineitem "
            f"WHERE l_orderkey % {IngestWorkload.SLICES} = {part}"
        )

    @staticmethod
    def read_view_sql(table: str) -> str:
        return f"SELECT l_returnflag, sum(l_quantity) AS q FROM {table} GROUP BY l_returnflag"

    @staticmethod
    def read_base_sql(table: str) -> str:
        return (
            f"SELECT l_linestatus, count() AS n, max(l_extendedprice) AS mx "
            f"FROM {table} WHERE l_discount >= 0.05 GROUP BY l_linestatus"
        )

    def setup(self, eng) -> None:
        for sql in self.ddl("li", "li_sum"):
            eng.sql(sql)

    def warmup(self) -> list[tuple[str, str]]:
        return [("ddl", s) for s in self.ddl("warm_li", "warm_sum")] + [
            ("insert", self.insert_sql("warm_li", 0)),
            ("read_view", self.read_view_sql("warm_li")),
            ("read_base", self.read_base_sql("warm_li")),
            ("delete", "ALTER TABLE warm_li DELETE WHERE l_orderkey % 50 = 0"),
            ("optimize", "OPTIMIZE TABLE warm_li FINAL"),
            ("ddl", "DROP VIEW warm_sum"),
            ("ddl", "DROP TABLE warm_li"),
        ]

    def stream(self):
        """Units of work for the timed loop: one batch each."""
        for part, key in zip(self.order, self.delete_keys):
            self.inserted.append(part)
            yield [
                ("insert", self.insert_sql("li", part)),
                ("read_view", self.read_view_sql("li")),
                ("read_base", self.read_base_sql("li")),
                ("delete", f"ALTER TABLE li DELETE WHERE l_orderkey % 50 = {key}"),
            ]

    def final(self) -> list[tuple[str, str]]:
        return [("optimize", "OPTIMIZE TABLE li FINAL")]

    def surviving(self) -> str:
        """DuckDB predicate for the rows the table holds at the end: a
        batch's DELETE removes matching rows of its own and earlier slices."""
        terms = []
        for i, part in enumerate(self.inserted):
            gone = ", ".join(map(str, self.delete_keys[i:len(self.inserted)]))
            terms.append(
                f"(l_orderkey % {self.SLICES} = {part} AND l_orderkey % 50 NOT IN ({gone}))"
            )
        return " OR ".join(terms) or "FALSE"

    def checks(self) -> list[tuple[str, str, str]]:
        keep = self.surviving()
        return [
            (
                "final_table",
                "SELECT l_returnflag, l_linestatus, count() AS n, "
                "sum(l_quantity) AS q, max(l_extendedprice) AS mx, "
                "sum(l_orderkey) AS ks FROM li "
                "GROUP BY l_returnflag, l_linestatus",
                "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "CAST(sum(l_quantity) AS DOUBLE) AS q, max(l_extendedprice) AS mx, "
                f"CAST(sum(l_orderkey) AS BIGINT) AS ks FROM lineitem WHERE {keep} "
                "GROUP BY l_returnflag, l_linestatus",
            ),
            (
                "final_view",
                "SELECT l_returnflag, l_linestatus, l_quantity FROM li_sum",
                "SELECT l_returnflag, l_linestatus, "
                "CAST(sum(l_quantity) AS DOUBLE) AS l_quantity "
                f"FROM lineitem WHERE {keep} GROUP BY l_returnflag, l_linestatus",
            ),
            (
                "read_view",
                self.read_view_sql("li"),
                "SELECT l_returnflag, CAST(sum(l_quantity) AS DOUBLE) AS q "
                f"FROM lineitem WHERE {keep} GROUP BY l_returnflag",
            ),
            (
                "read_base",
                self.read_base_sql("li"),
                "SELECT l_linestatus, count(*) AS n, max(l_extendedprice) AS mx "
                f"FROM lineitem WHERE ({keep}) AND l_discount >= 0.05 "
                "GROUP BY l_linestatus",
            ),
        ]

    def inserted_rows_sql(self) -> str:
        parts = ", ".join(map(str, self.inserted)) or "-1"
        return f"SELECT count(*) FROM lineitem WHERE l_orderkey % {self.SLICES} IN ({parts})"


def make(name: str, seed: int):
    if name == "adhoc_sql":
        return ReadWorkload(ADHOC_SQL, seed)
    if name == "ingest":
        return IngestWorkload(seed)
    raise ValueError(f"unknown workload {name!r}")
