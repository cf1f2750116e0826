"""Pins for the one GROUP BY lowering (`Lowerer._lower_aggregate`).

Every GROUP BY lowers as aggregate families: the main aggregate, a
DISTINCT side (split out when a heavy sibling such as groupUniqArray
stays in main) and one side per exact topK-family call. Each side
reads the child again and joins back on the keys, so two things are
pinned here: a child that is not deterministic (rand()) is read once,
with every call in the main aggregate, and one SELECT that forms all
three families returns what the single-family queries return apart.
"""

from __future__ import annotations

import tempfile

import pytest

from nutdb_spark.engine import NutEngine


@pytest.fixture()
def eng(spark, sf_dir):
    return NutEngine(spark, data_dir=sf_dir, catalog_dir=tempfile.mkdtemp())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


RAND_CHILD = (
    "(select l_returnflag as k, rand() % 50 as x from lineitem) as t"
)


def test_distinct_side_needs_deterministic_child(eng):
    out = eng.sql(
        "select k, uniqExact(x) as u, groupUniqArray(x) as g "
        f"from {RAND_CHILD} group by k"
    )
    plan = _plan(out)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    rows = out.collect()
    assert len(rows) == 3
    for r in rows:
        assert r["u"] == len(r["g"]), r["k"]


def test_topk_side_needs_deterministic_child(eng):
    # k = 64 exceeds the 50 possible values, so topK lists every value
    out = eng.sql(
        "select k, topK(64)(x) as tk, groupUniqArray(x) as g "
        f"from {RAND_CHILD} group by k"
    )
    plan = _plan(out)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    rows = out.collect()
    assert len(rows) == 3
    for r in rows:
        assert sorted(r["tk"]) == r["g"], r["k"]


def test_deterministic_child_keeps_its_sides(eng):
    # the same shapes over a deterministic child split as before: one
    # read of the child per family
    for agg in ("uniqExact(x)", "topK(3)(x)"):
        out = eng.sql(
            f"select k, {agg} as a, groupUniqArray(x) as g from "
            "(select l_returnflag as k, l_suppkey % 50 as x "
            "from lineitem) as t group by k"
        )
        assert _plan(out).count("FileScan") == 2, agg


def test_three_families_match_single_family_queries(eng):
    src = "from lineitem group by k"
    mixed = eng.sql(
        "select l_returnflag as k, topK(3)(l_linenumber) as tk, "
        "uniqExact(l_suppkey) as u, median(l_quantity) as m " + src
    )
    # main (median) + a distinct side (uniqExact) + a topK side
    assert _plan(mixed).count("FileScan") == 3
    got = {r["k"]: (r["tk"], r["u"], r["m"]) for r in mixed.collect()}

    def single(agg):
        df = eng.sql(f"select l_returnflag as k, {agg} as a " + src)
        return {r["k"]: r["a"] for r in df.collect()}

    tk = single("topK(3)(l_linenumber)")
    u = single("uniqExact(l_suppkey)")
    m = single("median(l_quantity)")
    assert len(got) == 3
    assert got == {k: (tk[k], u[k], m[k]) for k in tk}


@pytest.mark.parametrize(
    "agg", ["topK(3)(distinct l_linenumber)", "quantile(0.5)(distinct l_tax)"]
)
def test_parametric_distinct_is_a_dialect_error(eng, agg):
    # fn(DISTINCT …) forms the distinct family whatever the name; a
    # parametric aggregate has no DISTINCT form, so it must not lower
    # with the DISTINCT silently dropped
    from nutdb_spark.frontend.lower import LoweringError

    with pytest.raises(LoweringError, match="DISTINCT is supported"):
        eng.sql(f"select l_returnflag as k, {agg} as a from lineitem group by k")
