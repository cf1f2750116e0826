"""Round-6 third-wave dialect extensions: SELECT-list wildcard
modifiers (`* EXCEPT` / `* REPLACE`), COLUMNS('regex') dynamic
projection, GLOBAL IN, and parametric aggregates `fn(params)(args)` —
parse shapes, set-operator disambiguation, lowering semantics, and
failure branches.
"""

from __future__ import annotations

import os

import pytest

from nutdb_spark.frontend import ast_nodes as A
from nutdb_spark.frontend.lower import LoweringError
from nutdb_spark.frontend.parser import ParseError, parse

SF = "/root/testdata/sf0.001"


def _eng(spark):
    from nutdb_spark.engine import NutEngine

    return NutEngine(spark, data_dir=SF)


# --- parse shapes ----------------------------------------------------------


def test_wildcard_except_parses():
    stmt = parse("select * except (a, b) from t")
    wc = stmt.query.columns[0][0]
    assert isinstance(wc, A.Wildcard)
    assert wc.except_cols == ["a", "b"]


def test_wildcard_except_bare_column():
    stmt = parse("select * except a from t")
    assert stmt.query.columns[0][0].except_cols == ["a"]


def test_wildcard_replace_parses():
    stmt = parse("select * replace (x + 1 as x, y * 2 as y) from t")
    wc = stmt.query.columns[0][0]
    assert [name for _, name in wc.replaces] == ["x", "y"]


def test_qualified_wildcard_modifiers():
    stmt = parse("select t.* except (a) replace (b as c) from t")
    wc = stmt.query.columns[0][0]
    assert wc.qualifier == "t"
    assert wc.except_cols == ["a"]
    assert [n for _, n in wc.replaces] == ["c"]


def test_except_set_operator_still_parses():
    # `* EXCEPT SELECT`, `* EXCEPT (SELECT ...)`, and the explicit
    # ALL/DISTINCT spellings must all remain set operations
    for sql in (
        "select * from t except select * from u",
        "select * from t except (select * from u)",
        "select * from t except all select * from u",
        "select * from t except distinct select * from u",
    ):
        stmt = parse(sql)
        wc = stmt.query.left.columns[0][0]
        assert isinstance(wc, A.Wildcard) and wc.except_cols is None


def test_replace_without_paren_is_alias():
    # bare REPLACE after * without parens is NOT a modifier; it has
    # no other parse here, so it must fail loudly rather than eat
    with pytest.raises(ParseError):
        parse("select * replace x from t")


def test_global_in_parses_as_in():
    stmt = parse("select a from t where b global in (1, 2)")
    cond = stmt.query.where
    assert isinstance(cond, A.InList) and not cond.negated


def test_global_not_in_parses():
    stmt = parse("select a from t where b global not in (select c from u)")
    cond = stmt.query.where
    assert isinstance(cond, A.InSubquery) and cond.negated


def test_parametric_call_parses():
    stmt = parse("select topK(3)(x) from t")
    call = stmt.query.columns[0][0]
    assert isinstance(call, A.FnCall)
    assert call.name == "topK"
    assert len(call.params) == 1 and len(call.args) == 1


def test_parametric_then_over_window():
    stmt = parse("select quantile(0.5)(x) over (partition by g) from t")
    wcall = stmt.query.columns[0][0]
    assert isinstance(wcall, A.WindowCall)


# --- lowering semantics ----------------------------------------------------


def test_except_drops_and_replace_substitutes(spark):
    df = _eng(spark).sql(
        "select * except (n_name) "
        "replace (n_nationkey + 100 as n_nationkey) "
        "from nation order by n_nationkey limit 2"
    )
    assert df.columns == ["n_nationkey", "n_regionkey"]
    assert [r["n_nationkey"] for r in df.collect()] == [100, 101]


def test_except_unknown_column_errors(spark):
    with pytest.raises(LoweringError, match="EXCEPT column"):
        _eng(spark).sql("select * except (nope) from nation")


def test_replace_unknown_column_errors(spark):
    with pytest.raises(LoweringError, match="REPLACE column"):
        _eng(spark).sql("select * replace (1 as nope) from nation")


def test_except_narrows_read_schema(spark):
    # the modifier is a scan-narrowing declaration: the dropped column
    # must be pruned out of the parquet ReadSchema
    df = _eng(spark).sql("select * except (n_name) from nation")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "n_name" not in plan


def test_columns_regex_expands(spark):
    df = _eng(spark).sql("select columns('key') from nation limit 1")
    assert df.columns == ["n_nationkey", "n_regionkey"]


def test_columns_regex_no_match_errors(spark):
    with pytest.raises(LoweringError, match="matched no columns"):
        _eng(spark).sql("select columns('zzz') from nation")


def test_global_in_lowering(spark):
    rows = (
        _eng(spark)
        .sql(
            "select r_regionkey from region "
            "where r_regionkey global in (0, 4) order by r_regionkey"
        )
        .collect()
    )
    assert [r["r_regionkey"] for r in rows] == [0, 4]


def test_topk_exact_with_tiebreak(spark):
    # 5×0, 3×1, 3×2 — k=2 must be [0, 1]: count desc then value asc
    df = spark.createDataFrame(
        [(0,)] * 5 + [(1,)] * 3 + [(2,)] * 3, "x int"
    )
    from nutdb_spark.functions.registry import PARAMETRIC_AGGS

    got = df.agg(PARAMETRIC_AGGS["topK"]([2], df.x).alias("tk")).collect()
    assert got[0]["tk"] == [0, 1]


def test_quantiles_exact_quartiles(spark):
    df = _eng(spark).sql(
        "select quantiles(0.25, 0.5, 0.75)(n_nationkey)[2] as med "
        "from nation"
    )
    assert df.collect()[0]["med"] == 12.0


def test_parametric_unknown_fn_errors(spark):
    with pytest.raises(LoweringError, match="not parametric"):
        _eng(spark).sql("select substring(1)(n_name) from nation")


def test_parametric_nonconstant_param_errors(spark):
    with pytest.raises(LoweringError, match="constant"):
        _eng(spark).sql(
            "select topK(n_regionkey)(n_nationkey) from nation"
        )


def test_parametric_stays_jvm_side(spark):
    df = _eng(spark).sql(
        "select n_regionkey, topK(2)(n_nationkey % 3) as tk "
        "from nation group by n_regionkey"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- CTAS / OR REPLACE / RENAME / scalar WITH ------------------------------


def test_ctas_parses():
    stmt = parse("create table t engine = Memory order by (a) as select 1 as a")
    d = stmt.definition
    assert d.as_query is not None and d.engine == "Memory"
    assert d.order_by == ["a"]


def test_create_or_replace_parses():
    stmt = parse("create or replace table t as select 1 as a")
    assert stmt.definition.or_replace


def test_or_replace_if_not_exists_conflict():
    with pytest.raises(ParseError, match="mutually exclusive"):
        parse("create or replace table if not exists t as select 1 as a")


def test_rename_statement_parses():
    stmt = parse("rename table a to b, c to d")
    assert stmt.pairs == [("a", "b"), ("c", "d")]


def test_with_scalar_alias_parses():
    stmt = parse("with 5 as k, k * 2 as m select m from t")
    q = stmt.query
    assert [n for n, _ in q.expr_aliases] == ["k", "m"]
    assert q.ctes == []


def test_with_cte_still_parses():
    stmt = parse("with c as (select 1 as x) select x from c")
    q = stmt.query
    assert len(q.ctes) == 1 and q.expr_aliases == []


def test_ctas_roundtrip(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=SF, catalog_dir=str(tmp_path))
    eng.sql("create table ct as select r_regionkey, r_name from region")
    assert eng.sql("select count() as n from ct").collect()[0]["n"] == 5
    # OR REPLACE swaps schema AND contents
    eng.sql(
        "create or replace table ct as "
        "select n_nationkey from nation where n_nationkey < 3"
    )
    out = eng.sql("select count() as n from ct").collect()
    assert out[0]["n"] == 3
    assert eng.sql("select * from ct").columns == ["n_nationkey"]


def test_ctas_partitioned_write(spark, tmp_path):
    import os

    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=SF, catalog_dir=str(tmp_path))
    eng.sql(
        "create table ctp partition by n_regionkey as "
        "select n_nationkey, n_regionkey from nation"
    )
    data = os.path.join(str(tmp_path), "ctp")
    parts = [f for f in os.listdir(data) if f.startswith("n_regionkey=")]
    assert len(parts) == 5  # hive-partitioned layout, one dir per key
    assert eng.sql("select count() as n from ctp").collect()[0]["n"] == 25


def test_rename_table_statement(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=SF, catalog_dir=str(tmp_path))
    eng.sql("create table rt1 as select 1 as x")
    eng.sql("rename table rt1 to rt2")
    assert eng.sql("select x from rt2").collect()[0]["x"] == 1
    with pytest.raises(Exception):
        eng.sql("select x from rt1").collect()


def test_create_or_replace_view(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=SF, catalog_dir=str(tmp_path))
    eng.sql("create table base (k Int32, v Int64) ORDER BY (k)")
    eng.sql("insert into base (k, v) values (1, 10), (1, 5), (2, 7)")
    eng.sql(
        "create view sv update by Summing order by (k) as "
        "select k, v from base"
    )
    eng.sql(
        "create or replace view sv update by Summing order by (k) as "
        "select k, v * 2 as v from base"
    )
    got = {r["k"]: r["v"] for r in eng.sql("select k, v from sv").collect()}
    assert got == {1: 30, 2: 14}


def test_with_scalar_substitution(spark):
    eng = _eng(spark)
    out = eng.sql(
        "with 10 as base, base * 2 as dbl "
        "select n_nationkey, dbl from nation "
        "where n_nationkey < base - 8 order by n_nationkey"
    ).collect()
    assert [(r["n_nationkey"], r["dbl"]) for r in out] == [(0, 20), (1, 20)]


def test_with_scalar_shadows_column(spark):
    # the WITH alias takes precedence over a same-named column (CH)
    out = _eng(spark).sql(
        "with 99 as n_regionkey select n_regionkey from nation limit 1"
    ).collect()
    assert out[0]["n_regionkey"] == 99


def test_with_scalar_not_visible_in_subquery(spark):
    # substitution stops at query boundaries: the subquery's column
    # reference resolves to the real column, not the outer macro
    out = _eng(spark).sql(
        "with 99 as n_regionkey "
        "select max(k) as m from "
        "(select n_regionkey as k from nation)"
    ).collect()
    assert out[0]["m"] == 4


def test_with_scalar_lambda_shadowing(spark):
    out = _eng(spark).sql(
        "with 100 as x "
        "select arrayMap(x -> x + 1, [1, 2])[1] as first_el"
    ).collect()
    assert out[0]["first_el"] == 2


# --- FINAL / arrayJoin -----------------------------------------------------


def test_final_parses_and_is_noop_on_view(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=SF, catalog_dir=str(tmp_path))
    eng.sql("create table rb (k Int32, ver Int32, v Int64) ORDER BY (k)")
    eng.sql(
        "insert into rb (k, ver, v) values (1, 1, 10), (1, 2, 20), (2, 1, 7)"
    )
    eng.sql(
        "create view rv update by Replacing primary key (ver) "
        "order by (k) as select k, ver, v from rb"
    )
    plain = sorted(
        (r["k"], r["v"]) for r in eng.sql("select k, v from rv").collect()
    )
    final = sorted(
        (r["k"], r["v"])
        for r in eng.sql("select k, v from rv final").collect()
    )
    # reads are ALWAYS merged state; FINAL must be accepted and change
    # nothing
    assert plain == final == [(1, 20), (2, 7)]


def test_final_not_taken_as_alias():
    stmt = parse("select a from t final where a > 1")
    assert stmt.query.from_.final
    assert stmt.query.from_.alias is None
    assert stmt.query.where is not None


def test_arrayjoin_fn_multiplies_rows(spark):
    out = _eng(spark).sql(
        "select n_nationkey, arrayJoin([10, 20]) as x "
        "from nation where n_nationkey = 0"
    ).collect()
    assert [(r["n_nationkey"], r["x"]) for r in out] == [(0, 10), (0, 20)]


def test_arrayjoin_fn_stays_jvm_side(spark):
    df = _eng(spark).sql(
        "select n_nationkey, arrayJoin(splitByChar('A', n_name)) as t "
        "from nation"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan or "Generate" in plan
    assert "BatchEvalPython" not in plan


# --- distributed global rank ----------------------------------------------


def test_global_row_number_matches_window(spark):
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nutdb_spark.operators.rank import global_row_number

    rnd = random.Random(7)
    rows = [(rnd.randrange(1000), i) for i in range(5000)]
    df = spark.createDataFrame(rows, "k int, uid int").repartition(16)
    got = global_row_number(df, ["k", "uid"], num_partitions=8)
    expect = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("k", "uid")).cast("long")
    )
    assert (
        got.select("k", "uid", "rn")
        .exceptAll(expect.select("k", "uid", "rn"))
        .count()
        == 0
    )
    assert got.count() == 5000


def test_global_row_number_is_distributed(spark):
    from nutdb_spark.operators.rank import global_row_number

    df = spark.range(1000).selectExpr("id as k", "id as uid")
    got = global_row_number(df, ["k", "uid"], num_partitions=8)
    # the ranked frame must keep its range partitioning — NOT collapse
    # to the single partition a global window would force
    assert got.rdd.getNumPartitions() > 1


def test_global_ntile_bins(spark):
    from pyspark.sql import functions as F

    from nutdb_spark.operators.rank import global_ntile

    df = spark.range(100).selectExpr("id as k")
    out = global_ntile(df, ["k"], 4, num_partitions=4)
    sizes = {
        r["bin"]: r["n"]
        for r in out.groupBy("bin").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {1: 25, 2: 25, 3: 25, 4: 25}


# --- event analytics: retention / windowFunnel -----------------------------


def _funnel_brute(events, conds_hit, win):
    """Brute-force max funnel depth: exists t1<=...<=tk chains."""
    n_steps = len(conds_hit[0][1])
    best = 0
    import itertools

    evs = sorted(events)
    for depth in range(n_steps, 0, -1):
        for combo in itertools.combinations(range(len(evs)), depth):
            ts = [evs[i][0] for i in combo]
            if ts[-1] - ts[0] > win:
                continue
            if all(
                conds_hit[combo[j]][1][j] for j in range(depth)
            ):
                return depth
    return best


def test_window_funnel_matches_bruteforce(spark):
    import random

    from pyspark.sql import functions as F

    from nutdb_spark.functions.registry import PARAMETRIC_AGGS

    rnd = random.Random(42)
    WIN = 10
    for trial in range(12):
        n = rnd.randrange(3, 12)
        evs = sorted(
            (rnd.randrange(0, 40), rnd.randrange(3)) for _ in range(n)
        )
        # unique ts (fixture contract)
        evs = [(t * 100 + i, s) for i, (t, s) in enumerate(evs)]
        rows = [(t, s == 0, s == 1, s == 2) for t, s in evs]
        df = spark.createDataFrame(
            rows, "t long, c0 boolean, c1 boolean, c2 boolean"
        )
        got = df.agg(
            PARAMETRIC_AGGS["windowFunnel"](
                [WIN * 100],
                F.col("t"),
                F.col("c0"),
                F.col("c1"),
                F.col("c2"),
            ).alias("lvl")
        ).collect()[0]["lvl"]
        conds_hit = [
            ((t,), (s == 0, s == 1, s == 2)) for t, s in evs
        ]
        want = _funnel_brute(
            [(t,) for t, _ in evs], conds_hit, WIN * 100
        )
        assert got == want, (trial, evs, got, want)


def test_window_funnel_boundary_inclusive(spark):
    from pyspark.sql import functions as F

    from nutdb_spark.functions.registry import PARAMETRIC_AGGS

    df = spark.createDataFrame(
        [(0, True, False), (100, False, True)], "t long, c0 boolean, c1 boolean"
    )
    agg = lambda w: df.agg(
        PARAMETRIC_AGGS["windowFunnel"](
            [w], F.col("t"), F.col("c0"), F.col("c1")
        ).alias("lvl")
    ).collect()[0]["lvl"]
    assert agg(100) == 2  # tk - t1 == window is inside
    assert agg(99) == 1


def test_window_funnel_same_event_not_two_steps(spark):
    from pyspark.sql import functions as F

    from nutdb_spark.functions.registry import PARAMETRIC_AGGS

    # one event satisfying both conditions must NOT count as a chain
    df = spark.createDataFrame([(5, True, True)], "t long, c0 boolean, c1 boolean")
    lvl = df.agg(
        PARAMETRIC_AGGS["windowFunnel"](
            [1000], F.col("t"), F.col("c0"), F.col("c1")
        ).alias("lvl")
    ).collect()[0]["lvl"]
    assert lvl == 1


def test_retention_semantics(spark):
    from pyspark.sql import functions as F

    from nutdb_spark.functions.registry import AGGREGATE_FNS

    # user never hit cond1 → all steps 0 even if cond2 held
    df = spark.createDataFrame(
        [(False, True)], "c1 boolean, c2 boolean"
    )
    r = df.agg(
        AGGREGATE_FNS["retention"](F.col("c1"), F.col("c2")).alias("r")
    ).collect()[0]["r"]
    assert r == [0, 0]


# --- approximate distinct / partition pruning ------------------------------


def test_uniq_error_bound(spark):
    got = _eng(spark).sql(
        "select uniq(c_custkey) as u, uniqExact(c_custkey) as e "
        "from customer"
    ).collect()[0]
    assert abs(got["u"] - got["e"]) <= 0.05 * got["e"]


def test_ctas_partition_pruning(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=SF, catalog_dir=str(tmp_path))
    eng.sql(
        "create table pp partition by n_regionkey as "
        "select n_nationkey, n_regionkey from nation"
    )
    df = eng.sql("select n_nationkey from pp where n_regionkey = 2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the predicate must prune hive partitions at the scan, not filter
    # post-read
    assert "PartitionFilters: [" in plan
    assert "n_regionkey" in plan.split("PartitionFilters")[1][:120]
    assert df.count() == 5


# --- quantified comparisons (ANY / ALL / SOME) -----------------------------


def test_any_all_parse_shapes():
    stmt = parse("select a from t where a > any (select b from u)")
    qc = stmt.query.where
    assert isinstance(qc, A.QuantCompare)
    assert (qc.op, qc.quant) == (">", "any")
    stmt = parse("select a from t where a <= some (select b from u)")
    assert stmt.query.where.quant == "any"
    with pytest.raises(ParseError, match="requires a subquery"):
        parse("select a from t where a > any (1, 2)")


def test_any_all_null_and_empty_edges(spark):
    # set with a NULL blocks ALL; ordered ANY is never satisfied by
    # NULL-only sets; empty set → ALL keeps, ANY drops
    spark.createDataFrame(
        [(1,), (None,)], "v int"
    ).createOrReplaceTempView("qs_nulls")
    eng = _eng(spark)

    def rows(sql):
        df = eng.sql(sql)
        return [r[df.columns[0]] for r in df.collect()]

    # 5 > ALL {1, NULL} → UNKNOWN → dropped
    from nutdb_spark.frontend import ast_nodes as A2
    from nutdb_spark.frontend.lower import Lowerer
    from pyspark.sql import functions as F

    base = spark.range(1).select(F.lit(5).alias("x"))
    sub_nulls = spark.createDataFrame([(1,), (None,)], "v int")
    sub_empty = spark.createDataFrame([], "v int")

    low = Lowerer(spark, lambda n: None, None)
    import types

    def quant(basedf, subdf, op, q):
        node = types.SimpleNamespace()
        # drive _lower_quant_compare with a pre-lowered subquery by
        # monkeypatching lower_query
        qc = A2.QuantCompare(op, A2.Ident("x"), q, None)
        orig = low.lower_query
        low.lower_query = lambda *_a, **_k: subdf
        try:
            from nutdb_spark.frontend.lower import Scope

            scope = Scope(None)
            scope.add("t", basedf)
            return low._lower_quant_compare(basedf, qc, scope).count()
        finally:
            low.lower_query = orig

    assert quant(base, sub_nulls, ">", "all") == 0   # NULL blocks ALL
    assert quant(base, sub_nulls, ">", "any") == 1   # 5 > 1
    assert quant(base, sub_empty, ">", "all") == 1   # vacuous truth
    assert quant(base, sub_empty, ">", "any") == 0   # nothing matches
    assert quant(base, sub_nulls, "=", "all") == 0
    # x < ANY {1, NULL}: no non-null element exceeds 5 → dropped
    assert quant(base, sub_nulls, "<", "any") == 0


def test_any_all_plan_is_broadcast(spark):
    df = _eng(spark).sql(
        "select r_regionkey from region "
        "where r_regionkey > any (select n_regionkey from nation)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "Broadcast" in plan
    # the subquery side must be a one-row aggregate, not the raw table
    assert "HashAggregate" in plan


# --- correlated scalar subqueries ------------------------------------------


def test_correlated_scalar_lookup(spark):
    out = _eng(spark).sql(
        "select n_name, (select r_name from region "
        "where r_regionkey = n_regionkey) as rname "
        "from nation order by n_nationkey limit 2"
    ).collect()
    assert [r["rname"] for r in out] == ["AFRICA", "AMERICA"]


def test_correlated_count_empty_group_is_zero(spark):
    # count(*) over an empty correlated group must be 0, not NULL
    out = _eng(spark).sql(
        "select r_regionkey, (select count(*) from nation "
        "where n_regionkey = r_regionkey and n_nationkey < 0) as n "
        "from region order by r_regionkey limit 1"
    ).collect()
    assert out[0]["n"] == 0


def test_correlated_avg_missing_key_is_null(spark):
    out = _eng(spark).sql(
        "select r_regionkey, (select avg(n_nationkey) from nation "
        "where n_regionkey = r_regionkey + 100) as a "
        "from region order by r_regionkey limit 1"
    ).collect()
    assert out[0]["a"] is None


def test_correlated_nonagg_multirow_errors(spark):
    import pytest as _pytest

    df = _eng(spark).sql(
        "select r_regionkey, (select n_name from nation "
        "where n_regionkey = r_regionkey) as nm from region"
    )
    with _pytest.raises(Exception, match="more than one row"):
        df.collect()


def test_correlated_nonequality_rejected(spark):
    with pytest.raises(LoweringError, match="equality"):
        _eng(spark).sql(
            "select (select max(n_nationkey) from nation "
            "where n_regionkey > r_regionkey) from region"
        )


def test_correlated_plan_single_aggregate(spark):
    # decorrelation contract: ONE aggregate + ONE join, no nested-loop
    df = _eng(spark).sql(
        "select o_orderkey from orders "
        "where o_totalprice > 2 * (select avg(l_extendedprice) "
        "from lineitem where l_orderkey = o_orderkey)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- correlated IN ---------------------------------------------------------


def test_correlated_in_and_not_in_complement(spark):
    eng = _eng(spark)
    base = "from orders where o_orderkey < 500"
    inq = (
        "o_orderkey in (select l_orderkey from lineitem "
        "where l_orderkey = o_orderkey and l_quantity >= 49)"
    )
    n_in = eng.sql(f"select count() as n {base} and {inq}").collect()[0]["n"]
    n_out = eng.sql(
        f"select count() as n {base} and not_marker"
        .replace("and not_marker", f"and o_orderkey not in "
                 "(select l_orderkey from lineitem "
                 "where l_orderkey = o_orderkey and l_quantity >= 49)")
    ).collect()[0]["n"]
    n_all = eng.sql(f"select count() as n {base}").collect()[0]["n"]
    # subquery side is never NULL here → IN / NOT IN partition the rows
    assert n_in + n_out == n_all and n_in > 0


def test_correlated_in_plan_is_semi_join(spark):
    df = _eng(spark).sql(
        "select o_orderkey from orders "
        "where o_orderkey in (select l_orderkey from lineitem "
        "where l_orderkey = o_orderkey and l_quantity >= 49)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_correlated_in_agg_select_rejected(spark):
    with pytest.raises(LoweringError, match="may not aggregate"):
        _eng(spark).sql(
            "select o_orderkey from orders "
            "where o_orderkey in (select max(l_orderkey) from lineitem "
            "where l_orderkey = o_orderkey)"
        )


# --- RANGE window frames ---------------------------------------------------


def test_range_frame_parses():
    stmt = parse(
        "select sum(v) over (order by t "
        "range between 10 preceding and current row) from e"
    )
    wc = stmt.query.columns[0][0]
    assert wc.frame[0] == "range"


def test_bare_range_still_rejected():
    with pytest.raises(ParseError, match="explicit BETWEEN"):
        parse("select sum(v) over (order by t range 10 preceding) from e")


def test_range_frame_requires_single_asc_key(spark):
    with pytest.raises(LoweringError, match="one ascending"):
        _eng(spark).sql(
            "select sum(n_nationkey) over (order by n_name desc "
            "range between 1 preceding and current row) from nation"
        ).collect()


def test_range_frame_includes_peers_and_values(spark):
    rows = _eng(spark).sql(
        "select k, sum(v) over (order by k "
        "range between 1 preceding and current row) as s "
        "from (select n_nationkey % 3 as k, 1 as v from nation "
        "      where n_nationkey < 6) "
        "order by k"
    ).collect()
    # k values 0,0,1,1,2,2 → range frame [k-1,k] with peers:
    # k=0 → 2; k=1 → 4; k=2 → 4
    assert [r["s"] for r in rows] == [2, 2, 4, 4, 4, 4]


# --- WITH FILL INTERPOLATE -------------------------------------------------


def test_interpolate_carry_and_linear(spark):
    rows = _eng(spark).sql(
        "select k, v, w from ("
        "  select n_nationkey * 3 as k, n_nationkey * 10 as v,"
        "         n_nationkey as w from nation where n_nationkey < 2"
        ") order by k with fill interpolate (v, w as w + 2)"
    ).collect()
    assert [tuple(r) for r in rows] == [(0, 0, 0), (1, 0, 2), (2, 0, 4), (3, 10, 1)]


def test_interpolate_rejects_unknown_column(spark):
    with pytest.raises(LoweringError, match="non-key output column"):
        _eng(spark).sql(
            "select n_nationkey as k from nation "
            "order by k with fill interpolate (nope)"
        )


def test_interpolate_rejects_complex_expr(spark):
    with pytest.raises(LoweringError, match="carry-forward"):
        _eng(spark).sql(
            "select n_nationkey as k, n_regionkey as v from nation "
            "order by k with fill interpolate (v as v * 2)"
        )


def test_interpolate_real_rows_keep_values(spark):
    rows = _eng(spark).sql(
        "select k, v from ("
        "  select n_nationkey * 2 as k, n_nationkey + 100 as v"
        "  from nation where n_nationkey < 3"
        ") order by k with fill interpolate (v)"
    ).collect()
    got = {r["k"]: r["v"] for r in rows}
    assert got[0] == 100 and got[2] == 101 and got[4] == 102
    assert got[1] == 100 and got[3] == 101  # carried


# --- sequenceMatch ---------------------------------------------------------


def _seq_brute(events, pattern_steps, gaps):
    """Brute-force: exists chain t1<=...<=tk matching steps, with
    per-gap constraints."""
    import itertools

    evs = sorted(events)
    n = len(pattern_steps)
    for combo in itertools.permutations(range(len(evs)), n):
        if list(combo) != sorted(combo):
            continue
        ok = all(evs[combo[j]][1][pattern_steps[j]] for j in range(n))
        if not ok:
            continue
        ok = True
        for j in range(n - 1):
            g = gaps[j]
            if g is None:
                continue
            d = evs[combo[j + 1]][0] - evs[combo[j]][0]
            op, v = g
            ok &= {"<=": d <= v, "<": d < v, ">=": d >= v, ">": d > v}[op]
        if ok:
            return True
    return False


def test_sequence_match_matches_bruteforce(spark):
    import random

    from pyspark.sql import functions as F

    from nutdb_spark.functions.registry import PARAMETRIC_AGGS

    rnd = random.Random(11)
    for trial in range(10):
        n = rnd.randrange(3, 10)
        evs = [(rnd.randrange(0, 30) * 10 + i, rnd.randrange(3))
               for i, _ in enumerate(range(n))]
        rows = [(t, s == 0, s == 1, s == 2) for t, s in evs]
        df = spark.createDataFrame(
            rows, "t long, c0 boolean, c1 boolean, c2 boolean"
        )
        for pattern, steps, gaps in [
            ("(?1).*(?2)", [0, 1], [None]),
            ("(?1)(?t<=50)(?2)", [0, 1], [("<=", 50)]),
            ("(?1)(?t>40)(?2).*(?3)", [0, 1, 2], [(">", 40), None]),
            ("(?2)(?t<100)(?1)", [1, 0], [("<", 100)]),
            # mixed directions across gaps: > uses the MIN prior
            # match, <= the MAX — both endpoints must be tracked
            ("(?1)(?t>20)(?2)(?t<=30)(?3)", [0, 1, 2],
             [(">", 20), ("<=", 30)]),
        ]:
            got = df.agg(
                PARAMETRIC_AGGS["sequenceMatch"](
                    [pattern], F.col("t"),
                    F.col("c0"), F.col("c1"), F.col("c2"),
                ).alias("ok")
            ).collect()[0]["ok"]
            want = _seq_brute(
                [(t, (s == 0, s == 1, s == 2)) for t, s in evs],
                steps, gaps,
            )
            assert got == want, (trial, pattern, evs, got, want)


def test_sequence_match_bad_patterns(spark):
    from pyspark.sql import functions as F

    from nutdb_spark.functions.registry import _parse_seq_pattern

    with pytest.raises(ValueError, match="unsupported"):
        _parse_seq_pattern("(?1)(+2)", 2)
    with pytest.raises(ValueError, match="no matching condition"):
        _parse_seq_pattern("(?1)(?5)", 2)
    with pytest.raises(ValueError, match="must follow a step"):
        _parse_seq_pattern("(?t<=3)(?1)", 1)
    with pytest.raises(ValueError, match="at most one"):
        _parse_seq_pattern("(?1)(?t<=3)(?t>1)(?2)", 2)
    with pytest.raises(ValueError, match="trailing time"):
        _parse_seq_pattern("(?1)(?t<=3)", 1)


# --- topKWeighted / sumMap ---------------------------------------------------


def test_topk_weighted(spark):
    from pyspark.sql import functions as F

    from nutdb_spark.functions.registry import PARAMETRIC_AGGS

    df = spark.createDataFrame(
        [(0, 1), (1, 10), (2, 4), (2, 3), (0, 2)], "x int, w int"
    )
    got = df.agg(
        PARAMETRIC_AGGS["topKWeighted"]([2], F.col("x"), F.col("w")).alias("t")
    ).collect()[0]["t"]
    assert got == [1, 2]  # weights: 1→10, 2→7, 0→3


def test_summap(spark):
    from pyspark.sql import functions as F

    from nutdb_spark.functions.registry import AGGREGATE_FNS

    df = spark.createDataFrame(
        [(["a", "b"], [1, 2]), (["b", "c"], [3, 4])],
        "k array<string>, v array<int>",
    )
    got = df.agg(
        AGGREGATE_FNS["sumMap"](F.col("k"), F.col("v")).alias("m")
    ).collect()[0]["m"]
    assert got == {"a": 1, "b": 5, "c": 4}


def test_summap_via_sql(spark):
    r = _eng(spark).sql(
        "select sumMap(['x', 'y'], [n_nationkey, 1]) as m "
        "from nation where n_nationkey < 3"
    ).collect()[0]["m"]
    assert r == {"x": 3, "y": 3}


# --- cast surface ----------------------------------------------------------


def test_cast_forms_parse():
    for sql in (
        "select cast(x as Int64) from t",
        "select cast(x, 'Int64') from t",
        "select x :: Int64 from t",
        "select cast(x as Nullable(Int32)) from t",
        "select cast(x as Array(String)) from t",
    ):
        stmt = parse(sql)
        assert isinstance(stmt.query.columns[0][0], A.Cast), sql


def test_cast_bad_type_string():
    with pytest.raises(ParseError):
        parse("select cast(x, 42) from t")


def test_double_colon_precedence(spark):
    # :: binds tighter than arithmetic: 1 + x::Int64 = 1 + (x::Int64)
    out = _eng(spark).sql(
        "select 1 + n_nationkey :: Int64 as x from nation "
        "order by x limit 1"
    ).collect()
    assert out[0]["x"] == 1


def test_map_literal_single_colon_still_works(spark):
    out = _eng(spark).sql("select {1: 'a', 2: 'b'}[2] as m").collect()
    assert out[0]["m"] == "b"


def test_ansi_overflow_cast_raises(spark):
    import pytest as _pytest

    df = _eng(spark).sql("select cast(300 as Int8) as x")
    with _pytest.raises(Exception):
        df.collect()


# --- ANSI basics batch ------------------------------------------------------


def test_count_distinct_forms(spark):
    r = _eng(spark).sql(
        "select count(distinct n_regionkey) as c, "
        "sum(distinct n_regionkey) as s from nation"
    ).collect()[0]
    assert (r["c"], r["s"]) == (5, 10)


def test_distinct_unsupported_agg_errors(spark):
    with pytest.raises(LoweringError, match="count/sum"):
        _eng(spark).sql("select avg(distinct n_regionkey) from nation")


def test_extract_both_forms(spark):
    r = _eng(spark).sql(
        "select extract(year from date '2024-03-05') as y, "
        "extract('abc123', '([0-9]+)') as rx"
    ).collect()[0]
    assert (r["y"], r["rx"]) == (2024, "123")


def test_concat_pipes_and_precedence(spark):
    r = _eng(spark).sql(
        "select 'n' || toString(1 + 2) as s, 5 | 2 as bor"
    ).collect()[0]
    assert (r["s"], r["bor"]) == ("n3", 7)


def test_comma_join_becomes_hash_join(spark):
    df = _eng(spark).sql(
        "select r_name, n_name from region, nation "
        "where r_regionkey = n_regionkey"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_positional_out_of_range_errors(spark):
    with pytest.raises(LoweringError, match="out of range"):
        _eng(spark).sql("select n_name from nation group by 3")


def test_positional_names_aggregate_item(spark):
    rows = _eng(spark).sql(
        "select n_regionkey, count(*) as n from nation "
        "group by 1 order by 2 desc, 1 limit 1"
    ).collect()
    assert rows[0]["n"] == 5


# --- VALUES / IS DISTINCT FROM / NULLS / tuple access -----------------------


def test_values_table_requires_constants(spark):
    with pytest.raises(LoweringError, match="constant"):
        _eng(spark).sql(
            "select * from (values (n_name)) t(x)"
        )


def test_values_default_column_names(spark):
    df = _eng(spark).sql("select * from (values (1, 'a'))")
    assert df.columns == ["col1", "col2"]


def test_is_distinct_from_semantics(spark):
    r = _eng(spark).sql(
        "select 1 is distinct from null as a,"
        "       null is distinct from null as b,"
        "       2 is not distinct from 2 as c,"
        "       null is not distinct from null as d"
    ).collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (True, False, True, True)


def test_tuple_access_forms(spark):
    r = _eng(spark).sql(
        "select (1, 'a').1 as f, ((1, 'a')).2 as s"
    ).collect()[0]
    assert (r["f"], r["s"]) == (1, "a")


def test_if_both_forms_equivalent(spark):
    fn = _eng(spark).sql("select if(2 > 1, 'y', 'n') as x").collect()[0]["x"]
    kw = _eng(spark).sql(
        "select if 2 > 1 then 'y' else 'n' end as x"
    ).collect()[0]["x"]
    assert fn == kw == "y"


def test_nulls_ordering(spark):
    rows = _eng(spark).sql(
        "select x from (values (1), (NULL), (2)) t(x) "
        "order by x desc nulls last"
    ).collect()
    assert [r["x"] for r in rows] == [2, 1, None]


def test_ch_staples_surface(spark):
    r = _eng(spark).sql(
        "select hasAll([1,2,3], [1,2]) as ha, hasAny([1,2], [5]) as hy,"
        "       range(3)[3] as r3, arrayConcat(range(0), [9])[1] as r0,"
        "       transform(1, [0,1], ['a','b'], 'z') as t,"
        "       multiIf(1 > 2, 'a', 3 > 2, 'b', 'c') as m"
    ).collect()[0]
    assert (r["ha"], r["hy"], r["r3"], r["r0"], r["t"], r["m"]) == (
        True, False, 2, 9, "b", "b",
    )


def test_q21_comma_join_plan_no_cartesian(spark):
    df = _eng(spark).sql(
        "select s_name, count(*) as n "
        "from supplier, nation "
        "where s_nationkey = n_nationkey group by s_name"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_dictget_forms(spark):
    r = _eng(spark).sql(
        "select dictGet('region', 'r_name', 2) as a,"
        "       dictGet('region', 'r_name', 99) as b,"
        "       dictGetOrDefault('region', 'r_name', 99, 'zz') as c"
    ).collect()[0]
    assert (r["a"], r["b"], r["c"]) == ("ASIA", None, "zz")


def test_dictget_errors(spark):
    with pytest.raises(LoweringError, match="no column"):
        _eng(spark).sql("select dictGet('region', 'nope', 1)")
    with pytest.raises(LoweringError, match="string literals"):
        _eng(spark).sql("select dictGet(region, 'r_name', 1) from region")


def test_cross_join_explicit(spark):
    stmt = parse("select * from a cross join b")
    assert stmt.query.joins[0].kind == "cross"
    n = _eng(spark).sql(
        "select count() as n from region cross join nation"
    ).collect()[0]["n"]
    assert n == 125


def test_cross_is_not_an_alias(spark):
    # `FROM region CROSS JOIN ...` must not read CROSS as an alias
    stmt = parse("select * from region cross join nation")
    assert stmt.query.from_.alias is None


def test_scalar_with_idempotent_relowering(spark):
    # recursive-CTE-style double lowering of the SAME AST must not
    # double-apply a self-referential alias
    from nutdb_spark.frontend.lower import Lowerer
    from nutdb_spark.frontend.parser import parse

    stmt = parse(
        "with n_regionkey + 1 as n_regionkey "
        "select n_regionkey from nation order by n_regionkey limit 1"
    )
    eng = _eng(spark)
    low = Lowerer(spark, eng.resolve_table, None)
    first = low.lower_query(stmt.query).collect()[0][0]
    second = low.lower_query(stmt.query).collect()[0][0]
    assert first == second == 1


def test_positional_idempotent_relowering(spark):
    from nutdb_spark.frontend.lower import Lowerer
    from nutdb_spark.frontend.parser import parse

    stmt = parse(
        "select 2 as a, n_regionkey as b from nation "
        "order by 1, b limit 1"
    )
    eng = _eng(spark)
    low = Lowerer(spark, eng.resolve_table, None)
    r1 = low.lower_query(stmt.query).collect()[0]
    r2 = low.lower_query(stmt.query).collect()[0]
    assert tuple(r1) == tuple(r2) == (2, 0)


def test_show_create_table(spark, tmp_path):
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=SF, catalog_dir=str(tmp_path))
    eng.sql(
        "create table sc (id Serial64, tag Enum('a'=1,'b'=2), "
        "v Int64 DEFAULT 0) ORDER BY (tag)"
    )
    row = eng.sql("show create table sc").collect()[0]
    ddl = row["create_query"]
    assert ddl.startswith("CREATE TABLE sc (")
    assert "Serial64" in ddl and "Enum('a' = 1, 'b' = 2)" in ddl
    assert "ORDER BY (tag)" in ddl
    # the reconstructed DDL must itself be parseable dialect text
    from nutdb_spark.frontend.parser import parse

    parse(ddl)
    # a PARTITION BY expression prints as SQL: the DDL re-executes to
    # the same schema and the same partition directories
    eng.sql("create table scp (d Date, v Int64) PARTITION BY toYYYYMM(d)")
    ddl = eng.sql("show create table scp").first()["create_query"]
    assert "PARTITION BY toYYYYMM(d)" in ddl
    again = NutEngine(spark, data_dir=SF, catalog_dir=str(tmp_path / "again"))
    again.sql(ddl)
    rows = "(toDate('2024-01-05'), 1), (toDate('2024-03-09'), 2)"
    layouts = []
    for e in (eng, again):
        e.sql(f"insert into scp values {rows}")
        root = e.catalog._data_path("scp")
        layouts.append(
            (
                e.sql("select * from scp").schema,
                sorted(f for f in os.listdir(root) if "=" in f),
            )
        )
    assert layouts[0] == layouts[1]
    assert layouts[0][1] == ["__part=202401", "__part=202403"]


def test_show_create_unknown_errors(spark, tmp_path):
    from nutdb_spark.catalog import CatalogError
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=SF, catalog_dir=str(tmp_path))
    with pytest.raises(CatalogError, match="unknown object"):
        eng.sql("show create table nope")


# --- value-position subqueries ---------------------------------------------


def test_in_value_three_valued(spark):
    r = _eng(spark).sql(
        "select NULL in (select r_regionkey from region) as a,"
        "       NULL in (select r_regionkey from region where 1=0) as b,"
        "       99 in (select r_regionkey from region) as c,"
        "       2 in (select r_regionkey from region) as d,"
        "       99 in (select nullIf(r_regionkey, 0) from region) as e"
    ).collect()[0]
    # e: unmatched + NULLs present → NULL
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (
        None, False, False, True, None,
    )


def test_exists_value_position(spark):
    r = _eng(spark).sql(
        "select exists(select 1 from region where r_regionkey > 3) as e,"
        "       not exists(select 1 from region where r_regionkey > 99) as n"
    ).collect()[0]
    assert (r["e"], r["n"]) == (True, True)


def test_in_value_correlated_rejected(spark):
    with pytest.raises(LoweringError, match="uncorrelated"):
        _eng(spark).sql(
            "select (n_regionkey in (select r_regionkey from region "
            "where r_regionkey = n_nationkey)) as x from nation"
        ).collect()


def test_format_datetime_translation(spark):
    r = _eng(spark).sql(
        "select formatDateTime(toDatetime('2024-03-05 14:07:09'),"
        " '%F %T') as full,"
        " formatDateTime(toDate('2024-03-05'), '100%% %Y') as pct"
    ).collect()[0]
    assert r["full"] == "2024-03-05 14:07:09"
    assert r["pct"] == "100% 2024"


def test_format_datetime_bad_spec(spark):
    with pytest.raises(Exception, match="unsupported formatDateTime"):
        _eng(spark).sql(
            "select formatDateTime(toDate('2024-01-01'), '%q')"
        )


def test_age_complete_units(spark):
    r = _eng(spark).sql(
        "select age('year', toDate('2022-06-01'), toDate('2024-05-31')) as y,"
        "       age('week', toDate('2024-01-01'), toDate('2024-01-14')) as w"
    ).collect()[0]
    assert (r["y"], r["w"]) == (1, 1)


def test_array_tier3(spark):
    r = _eng(spark).sql(
        "select arrayUniq([1,2,1]) as u,"
        "       arrayCompact([1,1,2,2,1]) as c,"
        "       arrayDifference([1,4,9]) as d,"
        "       arrayCumSum([1,2,3]) as s,"
        "       arrayReverseSort([1,3,2]) as rs,"
        "       arrayPopBack([1]) as e1, arrayPopFront([7]) as e2"
    ).collect()[0]
    assert r["u"] == 2
    assert r["c"] == [1, 2, 1]
    assert r["d"] == [0, 3, 5]
    assert r["s"] == [1, 3, 6]
    assert r["rs"] == [3, 2, 1]
    assert r["e1"] == [] and r["e2"] == []


def test_string_tier3(spark):
    r = _eng(spark).sql(
        "select substringIndex('a.b.c', '.', 2) as si,"
        "       countSubstrings('ababab', 'ab') as cs,"
        "       positionCaseInsensitive('Hello', 'he') as pc,"
        "       base64Decode(base64Encode('abc')) as rt,"
        "       unhex(hex('xyz')) as rt2,"
        "       format('{1}-{0} {}%', 'a', 'b') as fm,"
        "       levenshteinDistance('kitten', 'sitting') as lv,"
        "       translate('abc', 'ab', 'xy') as tr"
    ).collect()[0]
    assert (r["si"], r["cs"], r["pc"]) == ("a.b", 3, 1)
    assert (r["rt"], r["rt2"]) == ("abc", "xyz")
    assert r["fm"] == "b-a a%"
    assert (r["lv"], r["tr"]) == (3, "xyc")


def test_format_errors(spark):
    with pytest.raises(Exception, match="no argument"):
        _eng(spark).sql("select format('{} {}', 'a')")


def test_math_tier3(spark):
    r = _eng(spark).sql(
        "select exp2(3) as a, bitCount(7) as c,"
        "       gcd(12, 18) as g, lcm(4, 6) as l, gcd(0, 5) as g0,"
        "       gcd(1071, 462) as big,"
        "       intDivOrZero(5, 0) as d0, moduloOrZero(5, 0) as m0,"
        "       roundBankers(2.5) as r1, roundBankers(3.5) as r2,"
        "       truncate(3.77, 1) as t,"
        "       isNaN(toFloat64('NaN')) as n,"
        "       isInfinite(toFloat64('Infinity')) as i"
    ).collect()[0]
    assert (r["a"], r["c"], r["g"], r["l"], r["g0"], r["big"]) == (
        8.0, 3, 6, 12, 5, 21,
    )
    assert (r["d0"], r["m0"]) == (0, 0)
    assert (r["r1"], r["r2"]) == (2.0, 4.0)
    assert abs(r["t"] - 3.7) < 1e-12
    neg = _eng(spark).sql(
        "select truncate(-3.77, 1) as tn, truncate(-3.77) as tz"
    ).collect()[0]
    assert abs(neg["tn"] + 3.7) < 1e-12 and neg["tz"] == -3.0
    assert r["n"] is True and r["i"] is True


def test_config_identifiers_in_expressions(spark):
    eng = _eng(spark)
    eng.sql("SET @thr = 2")
    rows = eng.sql(
        "select r_name from region where r_regionkey < @thr order by r_name"
    ).collect()
    assert [r["r_name"] for r in rows] == ["AFRICA", "AMERICA"]
    eng.sql("SET @thr = 1")  # re-SET takes effect on the next query
    assert len(eng.sql(
        "select r_name from region where r_regionkey < @thr"
    ).collect()) == 1
    with pytest.raises(LoweringError, match="is not set"):
        eng.sql("select @nope")


# --- negative-parity armor for the session's parser surface ------------------


def test_session4_error_branches():
    cases = [
        ("select * except () from t", "identifier"),
        ("select topK()(x) from t", None),
        ("create or replace table if not exists t as select 1", "mutually"),
        ("rename table a", "TO"),
        ("select cast(x as) from t", None),
        ("select x :: from t", None),
        ("delete from t", "WHERE"),
        ("update t set where x", None),
        ("select a from t where b global like 'x'", "IN"),
        ("select f from t order by k with fill interpolate", None),
        ("show create", "identifier"),
        ("select * from (values) v(x)", None),
        ("select (1,2). from t", "element"),
    ]
    for sql, frag in cases:
        with pytest.raises(ParseError) as ei:
            parse(sql)
        if frag:
            assert frag.lower() in str(ei.value).lower(), (sql, str(ei.value))


def test_session4_roundtrip_smoke(spark):
    """One SQL text touching most session-4 surfaces at once — the
    integration canary: if any two features interact badly at parse or
    lowering time, this breaks before anything subtle does."""
    rows = _eng(spark).sql(
        """
        with 2 as lim,
             base as (select n_nationkey as k, n_regionkey as r,
                             n_name as nm from nation)
        select r,
               count(distinct k) as n,
               topK(1)(k % 3)[1] as tk,
               max(nm) || '!' as shout,
               quantile(0.5)(k) as med
        from base
        where k < 20 and r global in (0, 1, 2)
          and k > any (select r_regionkey from region where r_regionkey < 2)
        group by 1
        order by 1 nulls last
        """
    ).collect()
    assert len(rows) == 3 and all(r["shout"].endswith("!") for r in rows)


def test_row_value_in_list(spark):
    rows = _eng(spark).sql(
        "select n_nationkey from nation "
        "where (n_regionkey, n_nationkey % 2) in ((1, 0), (2, 1)) "
        "order by n_nationkey"
    ).collect()
    got = [r["n_nationkey"] for r in rows]
    # region 1 & even, or region 2 & odd
    assert all((k % 5 == 1 and k % 2 == 0) or (k % 5 == 2 and k % 2 == 1)
               for k in got) and got
