"""Pins for the round-8 VERDICT items (r7 "What's wrong" / "Next
round"):

1. dictGet's broadcast regime raises on a duplicate dictionary key —
   the same loud failure as the literal-map regime (DUPLICATED_MAP_KEY)
   — instead of silently fanning out probe rows, so the two regimes
   agree across the 10k threshold.
2. Exact topK/topKWeighted under ROLLUP / CUBE / WITH TOTALS /
   GROUPING SETS derives every grouping set's top-k from the single
   (keys, value) pre-aggregate — bounded state even for the
   grand-total row over a hot table, no per-group collect_list.
3. SETTINGS statement-scopes non-spark names too: a SETTINGS-set @var
   does not leak into the next statement (SET stays durable).

(CTAS OR REPLACE as a true swap is pinned with every other catalog
commit in test_catalog_commit.py.)
"""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from nutdb_spark.engine import NutEngine


@pytest.fixture()
def eng(spark, sf_dir):
    return NutEngine(spark, data_dir=sf_dir, catalog_dir=tempfile.mkdtemp())


def _with_frame(eng, name, df):
    real = eng.resolve_table
    eng.resolve_table = lambda n: df if n == name else real(n)
    return eng


# --- 1: dictGet duplicate-key guard ---------------------------------------


def test_dictget_broadcast_regime_raises_on_dup_key(spark, eng):
    # 20k entries (> _DICT_LITERAL_MAX → broadcast-join regime) with
    # ONE duplicated key; without the guard the probe row would
    # silently duplicate — with it, the lookup fails loudly like the
    # literal map does
    dup = spark.range(20_000).select(
        (F.col("id") % 19_999).alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    _with_frame(eng, "dupdict", dup)
    df = eng.sql(
        "select n_nationkey as k, "
        "dictGet('dupdict', 'v', toInt64(n_nationkey)) as v from nation"
    )
    with pytest.raises(Exception, match="duplicate key in dictionary"):
        df.collect()


def test_dictget_broadcast_regime_no_fanout_on_clean_dict(spark, eng):
    big = spark.range(20_000).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    _with_frame(eng, "bigdict", big)
    df = eng.sql(
        "select n_nationkey as k, "
        "dictGet('bigdict', 'v', toInt64(n_nationkey)) as v from nation"
    )
    n_nation = eng.resolve_table("nation").count()
    assert df.count() == n_nation


def test_dictget_literal_regime_still_raises_on_dup_key(spark, eng):
    small = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k int, v string"
    )
    _with_frame(eng, "smalldup", small)
    with pytest.raises(Exception, match="(?i)duplicate"):
        eng.sql(
            "select dictGet('smalldup', 'v', n_nationkey) as v from nation"
        ).collect()


# --- 2: topK under grouping-set modifiers is bounded ----------------------


def test_topk_rollup_hot_group_bounded_state(spark, eng):
    # one hot key with 40k rows / 7 distinct values, plus a cold key.
    # The grand-total row must come from the shared (keys, value)
    # pre-aggregate (counts re-summed per set), never a collect_list
    # over raw rows.
    df = spark.range(40_000).selectExpr(
        "'hot' as k", "cast(id % 7 as int) as v"
    ).union(spark.createDataFrame([("cold", 6)] * 3, "k string, v int"))
    _with_frame(eng, "tkhot", df)
    out = eng.sql(
        "select k, topK(3)(v) as tk, count(*) as n from tkhot "
        "group by k with rollup order by k nulls first"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # bounded per-set top-k = spillable row_number window over the
    # Expand of the distinct-value frame
    assert "Window" in plan and "Expand" in plan
    rows = [(r["k"], r["tk"], r["n"]) for r in out.collect()]
    # hot: 0..2 appear 5715×, 3..6 5714×; total: v=6 gains 3 → 5717
    assert rows == [
        (None, [6, 0, 1], 40_003),
        ("cold", [6], 3),
        ("hot", [0, 1, 2], 40_000),
    ]


def test_topk_cube_matches_per_set_recount(spark, eng):
    df = spark.createDataFrame(
        [("a", "x", 1)] * 3 + [("a", "y", 2)] * 2 + [("b", "x", 2)] * 4,
        "k1 string, k2 string, v int",
    )
    _with_frame(eng, "tkc2", df)
    rows = eng.sql(
        "select k1, k2, topK(1)(v) as tk from tkc2 group by k1, k2 "
        "with cube order by k1 nulls first, k2 nulls first"
    ).collect()
    got = [(r["k1"], r["k2"], r["tk"]) for r in rows]
    assert got == [
        (None, None, [2]),      # 2 appears 6×, 1 appears 3×
        (None, "x", [2]),       # x-slice: 2→4, 1→3
        (None, "y", [2]),
        ("a", None, [1]),       # a-slice: 1→3, 2→2
        ("a", "x", [1]),
        ("a", "y", [2]),
        ("b", None, [2]),
        ("b", "x", [2]),
    ]


def test_topk_totals_only_detail_and_grand_total(spark, eng):
    df = spark.createDataFrame(
        [("a", 1)] * 3 + [("a", 2)] * 1 + [("b", 2)] * 4,
        "k string, v int",
    )
    _with_frame(eng, "tkt", df)
    rows = eng.sql(
        "select k, topK(1)(v) as tk, count(*) as n from tkt "
        "group by k with totals order by k nulls first"
    ).collect()
    got = [(r["k"], r["tk"], r["n"]) for r in rows]
    # detail rows + ONE grand-total row, no intermediate subtotals
    assert got == [(None, [2], 8), ("a", [1], 4), ("b", [2], 4)]


def test_topk_grouping_sets_null_key_vs_subtotal(spark, eng):
    # a detail group whose key IS NULL must not collide with the
    # subtotal row (both print NULL) — they are distinct output rows
    # with distinct top-k arrays
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), (None, 2), (None, 2), (None, 3)],
        "k string, v int",
    )
    _with_frame(eng, "tkgs", df)
    rows = eng.sql(
        "select k, topK(1)(v) as tk, count(*) as n from tkgs "
        "group by grouping sets ((k), ()) order by n, k nulls first"
    ).collect()
    got = [(r["k"], r["tk"], r["n"]) for r in rows]
    assert got == [
        ("a", [1], 2),
        (None, [2], 3),   # detail group k IS NULL: values {2:2, 3:1}
        (None, [1], 5),   # grand total: 1→2, 2→2 → tie, 1 wins
    ]


def test_topk_weighted_under_rollup(spark, eng):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 3), ("b", 2, 8), ("b", 3, 5)],
        "k string, v int, w int",
    )
    _with_frame(eng, "tkwr", df)
    rows = eng.sql(
        "select k, topKWeighted(1)(v, w) as tk from tkwr "
        "group by k with rollup order by k nulls first"
    ).collect()
    # totals: 1→10, 2→11, 3→5 → [2]
    assert [(r["k"], r["tk"]) for r in rows] == [
        (None, [2]), ("a", [1]), ("b", [2]),
    ]


# --- 3: SETTINGS statement-scopes engine config names ---------------------


def test_settings_nonspark_name_does_not_leak(eng):
    eng.sql("SET @knob = 1")
    df = eng.sql("select @knob as k settings knob = 99")
    assert df.collect()[0]["k"] == 99
    # the SETTINGS value died with its statement; SET is durable
    assert eng.config["knob"] == 1
    assert eng.sql("select @knob as k").collect()[0]["k"] == 1


def test_settings_new_name_removed_after_statement(eng):
    eng.sql("select 1 as x settings brand_new = 7").collect()
    assert "brand_new" not in eng.config


def test_dictget_same_values_across_regime_threshold(spark, eng):
    # exactly 10_000 entries → literal map; 10_001 → broadcast join.
    # Same probe must return identical values on both sides of the
    # flip (the regimes may differ in PLAN, never in ANSWER).
    small = spark.range(10_000).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    big = spark.range(10_001).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    real = eng.resolve_table
    eng.resolve_table = lambda n: (
        small if n == "edge_s" else big if n == "edge_b" else real(n)
    )
    q = (
        "select n_nationkey as k, "
        "dictGetOrDefault('{t}', 'v', toInt64(n_nationkey), 'miss') as v "
        "from nation order by n_nationkey"
    )
    got_s = [tuple(r) for r in eng.sql(q.format(t="edge_s")).collect()]
    got_b = [tuple(r) for r in eng.sql(q.format(t="edge_b")).collect()]
    assert got_s == got_b and got_s[7][1] == "v7"
