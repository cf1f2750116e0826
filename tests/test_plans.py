"""Physical-plan shape assertions — the 100 TB design contract.

Correctness rows prove the answers; these tests prove the *plans* are
the ones that survive scale: filters pushed to the parquet scan,
dimension joins broadcast, candidate generation without cartesian
products, no eager jobs during lowering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF01 = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark):
    from nutdb_spark.suite import QUERIES

    df = QUERIES["tpch_q1"](spark, SF01)
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q6_all_filters_pushed(spark):
    from nutdb_spark.suite import QUERIES

    plan = QUERIES["tpch_q6"](spark, SF01)._jdf.queryExecution().toString()
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan, col


def test_star_join_broadcasts_dimensions(spark):
    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["q_join_broadcast"](spark, SF01))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact table must not shuffle for dims


def test_dedup_near_has_no_cartesian(spark):
    from nutdb_spark.suite import QUERIES

    for name in (
        "q_dedup_jaccard",
        "q_dedup_minhash_lsh",
        "q_dedup_simhash",
        "q_sim_lsh_pairs",
        "q_dedup_embedding",
    ):
        plan = plan_of(QUERIES[name](spark, SF01))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_lowerings_are_lazy(spark):
    """Building every suite plan must trigger zero Spark jobs beyond
    one-time parquet schema discovery (the old not_in_subquery fired an
    eager count at lowering time)."""
    from nutdb_spark.suite import QUERIES

    # q_ddl_* callables run INSERTs, q_stream_* run availableNow
    # streams, sql_source_files writes its CSV/JSON sources, and the
    # iterative entries (connected-components label propagation,
    # k-means Lloyd rounds) materialize per round by design — all
    # actions; everything else must be lazy
    lazy = {
        n: f
        for n, f in QUERIES.items()
        if not n.startswith(("q_ddl", "q_stream"))
        and n not in ("sql_source_files", "q_dedup_connected",
                      "q_dedup_connected_star", "q_dedup_connected_best",
                      "q_cluster_kmeans", "q_sim_topk_ivf",
                      # hot-list pick + one-cluster sub-fit by design
                      "q_sim_ivf_rebalance",
                      # r14: the timed ANN maintenance entry RETRAINS
                      # all three sidecar artifacts per execution by
                      # design (that is its whole job)
                      "q_sim_ivf_train",
                      "sql_outfile",  # INTO OUTFILE writes by design
                      # bounded per-partition-count collect by design
                      "q_analytic_global_rank",
                      # dictionary pinned at lowering time by design
                      # (regime probe collects ≤10k+1 rows)
                      "sql_dictget", "sql_dictget_broadcast",
                      "sql_dicthas",
                      # CTAS builds the train/eval tables by design
                      "sql_table_fn_decon", "sql_table_fn_decon_drop",
                      # persist their batch-1 index + bounded one-row
                      # max-id collect by design
                      "q_dedup_incremental", "q_dedup_incremental_exact",
                      "q_sim_ivf_append", "q_pipeline_incremental",
                      "q_dedup_cdc_incremental",
                      "q_dedup_connected_incremental",
                      "q_dedup_url_incremental",
                      "q_dedup_incremental_delete",
                      "q_dedup_substring_incremental",
                      "q_dedup_substring_delete",
                      "q_sketch_hll_incremental",
                      "q_dedup_image_incremental",
                      # creates + inserts its source tables by design
                      "sql_table_fn_merge",
                      # write bucketed/partitioned layouts once per
                      # session
                      "q_bucketed_join", "q_partition_pruning",
                      "q_partition_pruning_dynamic",
                      # recursive CTEs iterate to a fixpoint by design
                      "sql_recursive", "sql_recursive_graph",
                      # train-once centroid artifact (q_cluster_kmeans
                      # precedent) + bounded max-id collect
                      "q_dedup_semantic",
                      # r13: fan-out intermediate localCheckpointed
                      # once for its three consumers (eager by
                      # necessity — AQE runs shuffle stages even for
                      # a lazy checkpoint); jobs land in the bench's
                      # timed region
                      "q_pipeline_curate",
                      # runs the real availableNow stream by design
                      "q_stream_dedup_neardup",
                      # 1-row node count (N is a spec constant /
                      # graph-synthesis modulus) by design
                      "q_graph_pagerank", "q_graph_triangles",
                      # CC fixpoint + rank-graph node count by design
                      "q_dedup_rank_central",
                      # create their edge tables (+ lowering-time node
                      # count) by design
                      "sql_table_fn_pagerank",
                      "sql_table_fn_triangles",
                      # training rounds collect one argmax row each
                      # by design (k-means precedent)
                      "q_bpe_train", "sql_table_fn_bpe_train",
                      # MW loop runs on the k collected domain rows
                      # by design (bounded collect, bpe_train
                      # precedent)
                      "q_mix_doremi", "sql_table_fn_doremi")
    }
    for fn in lazy.values():  # warm the footer/schema cache
        fn(spark, SF01)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    for name, fn in lazy.items():
        fn(spark, SF01)
    after = tracker.getJobIdsForGroup(None)
    assert before == after


def test_no_python_row_udfs_in_relational_suite(spark):
    """Core relational queries must stay inside whole-stage codegen —
    no BatchEvalPython (row-at-a-time UDF) stages anywhere."""
    from nutdb_spark.suite import QUERIES

    for name in ("tpch_q1", "tpch_q5", "q_join_inner", "q_expr_case"):
        plan = plan_of(QUERIES[name](spark, SF01))
        assert "BatchEvalPython" not in plan, name


def test_jaccard_hot_shingle_guard_in_plan(spark):
    """The graded Jaccard entry must carry the hot-shingle frequency cut
    (the guard that bounds self-join fan-out at scale): its plan contains
    the frequency-filter predicate on the shingle-count column."""
    from nutdb_spark.suite import QUERIES
    from nutdb_spark.suite.dedup import _MAX_SHINGLE_FREQ

    import re

    plan = plan_of(QUERIES["q_dedup_jaccard"](spark, SF01))
    # the actual filter predicate, e.g. "(__f#123L <= 100)" — not just
    # the column name appearing somewhere in the plan
    pat = rf"__f#\d+L? <= {_MAX_SHINGLE_FREQ}\)"
    assert re.search(pat, plan), (
        f"frequency-guard predicate /{pat}/ absent from the executed plan"
    )


def test_jaccard_hot_shingle_guard_filters(spark):
    """Behavior: a shingle above max_shingle_freq is cut — a pair whose
    only overlap is that hot shingle disappears, pairs with other
    overlap survive (with full-set-size denominators)."""
    from nutdb_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over dogs"),
            (2, "the quick brown fox sleeps all day"),
            (3, "the quick brown fox jumps over cats"),
        ],
        "doc_id long, text string",
    )
    # word-4-grams: "the quick brown fox" occurs in all 3 docs
    guarded = jaccard_pairs(
        docs, "doc_id", "text", n=4, threshold=0.01, max_shingle_freq=2
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in guarded}
    # (1,2) overlapped ONLY on the hot shingle → gone; (1,3) share
    # "quick brown fox jumps" and "brown fox jumps over" too → survives
    assert (1, 3) in pairs
    assert (1, 2) not in pairs
    exact = jaccard_pairs(
        docs, "doc_id", "text", n=4, threshold=0.01, max_shingle_freq=None
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {
        (1, 2), (1, 3), (2, 3)
    }


def test_lsh_hot_bucket_guard(spark):
    """Boilerplate-heavy corpora put many docs in ONE band bucket; the
    max_bucket cap must cut such buckets BEFORE the posting-list
    collect_list (single-row OOM + quadratic pair explosion at scale),
    and the plan must stay equi-join-only."""
    from nutdb_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "exact same boilerplate body repeated everywhere") for i in range(12)],
        "doc_id long, text string",
    )
    capped = minhash_lsh_pairs(
        docs, "doc_id", "text", n=2, num_hashes=8, bands=4,
        est_threshold=0.5, max_bucket=5,
    )
    assert capped.count() == 0  # every bucket holds all 12 docs → cut
    plan = plan_of(capped)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    uncapped = minhash_lsh_pairs(
        docs, "doc_id", "text", n=2, num_hashes=8, bands=4,
        est_threshold=0.5, max_bucket=1000,
    )
    assert uncapped.count() == 12 * 11 // 2  # identical sigs: all pairs


def test_simhash_dedup_is_all_jvm(spark):
    """SimHash dedup (md5 token hashing) must run entirely JVM-side —
    no Python evaluation nodes of any kind in the plan, unlike the
    Jaccard/MinHash paths which intentionally use one Arrow stage."""
    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["q_dedup_simhash"](spark, SF01))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, node


def test_asof_sql_plan_is_union_window(spark):
    """The ASOF JOIN lowering must be the union+window single-shuffle
    plan — never a join node (a range/theta join would fan out
    quadratically per key at scale)."""
    import re

    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["sql_asof"](spark, SF01))
    assert "Window" in plan
    assert not re.search(r"(SortMergeJoin|BroadcastHashJoin|"
                         r"BroadcastNestedLoopJoin|CartesianProduct)", plan)


def test_new_tpch_shapes_broadcast_and_no_cartesian(spark):
    from nutdb_spark.suite import QUERIES

    for name in ("tpch_q8", "tpch_q9", "tpch_q20"):
        plan = plan_of(QUERIES[name](spark, SF01))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ivf_recall_and_multiprobe_lift(spark):
    """The ANN-quality contract (VERDICT r5 'What's missing' #2): IVF
    single-probe recall@5 must clear a floor, and multi-probe (P=2)
    must lift it — measured against the exact brute-force truth. The
    pipelines are exact-integer, so these are deterministic numbers,
    not statistics."""
    from nutdb_spark.suite.similarity import q_sim_recall

    rows = {
        r["method"]: r["recall"]
        for r in q_sim_recall(spark, SF01).collect()
    }
    assert rows["ivf1"] >= 0.6
    assert rows["ivf2"] >= 0.8
    assert rows["ivf2"] > rows["ivf1"]  # the multi-probe lift


def test_ivf_probe_only_reuses_centroid_artifact(spark):
    """After any IVF entry trains once, the centroid artifact is
    cached: q_sim_topk_ivf must not retrain (no kmeans_fit call)."""
    from unittest import mock

    from nutdb_spark.operators import similarity as S
    from nutdb_spark.suite import similarity as suite_sim

    suite_sim._ivf_centroids(spark, SF01)  # ensure trained
    with mock.patch.object(
        S, "kmeans_fit", side_effect=AssertionError("retrained")
    ):
        out = suite_sim.q_sim_topk_ivf(spark, SF01)
        assert out.count() == 50


def test_ivf_artifact_survives_process_boundary(spark):
    """The centroid artifact is durable: with the in-process memo
    cleared (a fresh process), the JSON sidecar alone must satisfy the
    lookup — no retraining."""
    from unittest import mock

    from nutdb_spark.operators import similarity as S
    from nutdb_spark.suite import similarity as suite_sim

    suite_sim._ivf_centroids(spark, SF01)  # ensure the file exists
    suite_sim._CENTROID_CACHE.clear()      # simulate a new process
    with mock.patch.object(
        S, "kmeans_fit", side_effect=AssertionError("retrained")
    ):
        cents = suite_sim._ivf_centroids(spark, SF01)
    assert len(cents) == 8 and len(cents[0]) == 64


def test_dedup_spans_reassembly_identity(spark):
    """With an unreachable frequency cap, span dedup must rebuild every
    document EXACTLY as its whitespace-normalized text — pinning chunk
    order, boundary math, and the join/groupBy reassembly path."""
    from nutdb_spark.operators.dedup import dedup_spans
    from nutdb_spark.operators.text import normalize_text

    d = (
        spark.read.parquet(f"{SF01}/documents.parquet")
        .filter(F.col("doc_id") < 50)
    )
    out = dedup_spans(d, "doc_id", "text", span=10, max_freq=10**9)
    joined = out.join(
        d.select("doc_id", normalize_text(F.col("text")).alias("norm")),
        "doc_id",
    )
    assert joined.filter(F.col("clean_text") != F.col("norm")).count() == 0
    assert out.count() == d.filter(F.length(F.trim("text")) > 0).count()


def test_new_analytics_entries_single_exchange_no_python(spark):
    """Each windowed-analytics entry is ONE hash exchange on its
    partition key (sessionize's final agg reuses the window's
    partitioning — HashPartitioning(user_id) satisfies the superset
    clustering) and stays fully JVM-side."""
    from nutdb_spark.suite import QUERIES

    for name in (
        "q_analytic_running",
        "q_analytic_topn",
        "q_analytic_sessionize",
        "q_analytic_distribution",
        "q_analytic_timerange",
    ):
        plan = plan_of(QUERIES[name](spark, SF01))
        assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1, name
        assert "BatchEvalPython" not in plan, name


def test_pack_sequences_single_shuffle_no_global_sort(spark):
    """Packing = one hash exchange on the shard key + a per-shard sort;
    never a global (range-partitioned) sort."""
    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["q_pack_sequences"](spark, SF01))
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1
    assert "rangepartitioning" not in plan.lower()
    assert "BatchEvalPython" not in plan


def test_pii_and_json_are_shuffle_free_projections(spark):
    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["q_text_pii"](spark, SF01))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_pipeline_train_all_jvm_no_cartesian(spark):
    """The composed training pipeline never leaves the JVM (every
    stage is built-ins: regex PII scrub, md5 fingerprint, hash split,
    shingle explode, window packing) and contains no all-pairs join."""
    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["q_pipeline_train"](spark, SF01))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node


def test_dialect_extensions_stay_jvm_side(spark):
    """The OVER / QUALIFY / ARRAY JOIN / lambda extensions must lower
    to built-in expressions — zero Python evaluation nodes — and the
    window entries must shuffle once on their partition key."""
    from nutdb_spark.suite import QUERIES

    plans = {
        name: plan_of(QUERIES[name](spark, SF01))
        for name in ("sql_window", "sql_qualify", "sql_array_join",
                     "sql_lambda", "sql_sample", "sql_rollup")
    }
    for name, plan in plans.items():
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, (name, node)
    for name in ("sql_window", "sql_qualify"):
        plan = plans[name]
        assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1, name


def test_late_r6_extensions_stay_jvm_side(spark):
    """The PREWHERE / GROUPING SETS / LIMIT BY / named-WINDOW /
    WITH FILL / mutation-free function entries and the new pipeline
    ops must lower to built-in expressions — zero Python evaluation
    nodes, no cartesian blowup anywhere."""
    from nutdb_spark.suite import QUERIES

    for name in (
        "sql_prewhere", "sql_grouping_sets", "sql_limit_by",
        "sql_window_named", "sql_with_fill",
        "q_fn_datetime2", "q_fn_scalar_surface2", "q_fn_arrays",
        "q_fn_agg_surface2", "q_text_chunk",
    ):
        plan = plan_of(QUERIES[name](spark, SF01))
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                     "CartesianProduct"):
            assert node not in plan, (name, node)


def test_limit_by_single_window_exchange(spark):
    """LIMIT BY = one WindowExec riding the projection: exactly one
    hash exchange on the keys, no self-join — and because the filter is
    rn <= n, Catalyst inserts WindowGroupLimit, truncating every group
    to its top-n BEFORE the shuffle (map-side partial top-k)."""
    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["sql_limit_by"](spark, SF01))
    assert plan.count("Window [") == 1
    assert "Join" not in plan
    assert "WindowGroupLimit" in plan  # pre-shuffle per-group truncation


def test_prewhere_conjuncts_reach_scan(spark):
    """PREWHERE and WHERE conjuncts must land in the SAME pushed
    parquet filter set."""
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=SF01)
    df = eng.sql(
        "select count(*) as n from lineitem "
        "prewhere l_quantity > 25 where l_discount < 0.05"
    )
    plan = plan_of(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "l_quantity" in pushed[0] and "l_discount" in pushed[0]


def test_round8_entry_plan_shapes(spark):
    """Scale-shape invariants for the round-8 surfaces: broadcast where
    a small side exists, no cartesian anywhere, the ANY-join dedup
    window rides the dimension side only."""
    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["sql_dictget_broadcast"](spark, SF01))
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # probe side never sort-merges

    plan = plan_of(QUERIES["sql_any_join"](spark, SF01))
    assert "CartesianProduct" not in plan
    assert "Window" in plan or "WindowGroupLimit" in plan

    plan = plan_of(QUERIES["sql_asof_using"](spark, SF01))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan

    plan = plan_of(QUERIES["sql_grouping_fn"](spark, SF01))
    assert "Expand" in plan  # one grouping-sets aggregate, no re-scan union
    assert plan.count("FileScan") == 1


def test_session6_scalar_entries_are_pure_projections(spark):
    """sql_fn_url / sql_fn_tier5 are stateless map stages: the ONLY
    Exchange in the plan is the final ORDER BY's range partitioning,
    and nothing drops out of whole-stage codegen into Python."""
    from nutdb_spark.suite import QUERIES

    for name in ("sql_fn_url", "sql_fn_tier5"):
        plan = plan_of(QUERIES[name](spark, SF01))
        assert plan.count("Exchange") == 1, name
        assert "rangepartitioning" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_agg_combinators_bounded_exchanges(spark):
    """sql_agg_combinators mixes DISTINCT aggregates with
    TypedImperative plain ones, so the GROUP BY lowering splits the
    distinct calls into their own family: TWO aggregations over the
    same scan — the regular aggregates in one
    map-side-partial hash aggregate with NO Expand, the distinct ones
    in their own Expand-bearing branch — joined back by BROADCAST on
    the group key (3 grouping values), plus the ORDER BY range
    Exchange: five shuffles total regardless of how many combinator
    families the query uses, no SortAggregate (the pre-r14 shape
    dragged every sibling's buffer through the distinct rewrite's
    extra SortAggregate levels), and never Python."""
    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["sql_agg_combinators"](spark, SF01))
    assert plan.count("Exchange") == 5
    assert plan.count("Expand") == 1
    assert "SortAggregate" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_agg_if_split_shape(spark):
    """sql_agg_if (uniqExactIf next to argMaxIf / groupUniqArrayIf /
    medianIf) is the benchmark's split statement: the distinct calls
    form their own family, so the plan holds the one Expand of their
    own aggregation, joins the two aggregations back by broadcast, and
    never drags the heavy buffers through a SortAggregate."""
    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["sql_agg_if"](spark, SF01))
    assert plan.count("Expand") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortAggregate" not in plan


def test_pq_adc_no_cartesian_and_broadcast_rescore(spark):
    """topk_pq_adc: candidate generation is a cogroup over blocks
    (never a cartesian), and the exact rescore joins the tiny
    candidate frame via broadcast — the corpus never shuffles for
    the rescore."""
    from nutdb_spark.suite import QUERIES

    plan = plan_of(QUERIES["q_sim_topk_pq_adc"](spark, SF01))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_global_join_broadcasts_right_side(spark):
    """[EXT] GLOBAL JOIN = an explicit broadcast hint on the right
    side (ClickHouse ships the right table to every node; Spark's
    broadcast hint is the same contract) — pinned with the automatic
    broadcast threshold disabled so the hint itself is what's
    tested."""
    import tempfile

    from nutdb_spark.engine import NutEngine

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        eng = NutEngine(
            spark, data_dir=SF01, catalog_dir=tempfile.mkdtemp()
        )
        plain = eng.sql(
            "select count() as n from lineitem l join orders o "
            "on l.l_orderkey = o.o_orderkey"
        )
        hinted = eng.sql(
            "select count() as n from lineitem l global join orders o "
            "on l.l_orderkey = o.o_orderkey"
        )
        p1 = plan_of(plain)
        p2 = plan_of(hinted)
        assert "BroadcastHashJoin" not in p1
        assert "BroadcastHashJoin" in p2
        assert plain.first()["n"] == hinted.first()["n"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_incremental_dedup_plan_shape(spark):
    """The round-9 incremental operators must keep the same candidate
    discipline as their one-shot parents: banded/keyed equi-joins
    only — no cartesian anywhere — and the delta-vs-index probe is a
    plain multi-column equi-join (visible as a HashedRelation /
    SortMergeJoin on the band keys, never a nested-loop)."""
    from pyspark.sql import functions as F

    from nutdb_spark.operators.dedup import (
        incremental_exact_dedup,
        incremental_near_dedup,
        minhash_band_rows,
    )
    from nutdb_spark.operators.text import fingerprint_md5
    from nutdb_spark.sources import load_table

    d = load_table(spark, SF01, "documents").select("doc_id", "text")
    b1 = d.filter(F.col("doc_id") < 250)
    b2 = d.filter(F.col("doc_id") >= 250)
    index = minhash_band_rows(b1, "doc_id", "text", n=4, num_hashes=8,
                              bands=4)
    surv, _rows = incremental_near_dedup(
        b2, index, "doc_id", "text", n=4, num_hashes=8, bands=4,
        est_threshold=0.75,
    )
    plan = plan_of(surv)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    keys = fingerprint_md5(F.col("text"))
    surv2, _keys = incremental_exact_dedup(
        b2, surv.select(keys.alias("__key")).distinct(), "doc_id", keys
    )
    plan2 = plan_of(surv2)
    assert "CartesianProduct" not in plan2
    assert "BroadcastNestedLoopJoin" not in plan2


def test_ivf_append_and_recall_no_cartesian(spark):
    from nutdb_spark.suite import QUERIES

    for name in ("q_sim_ivf_append", "q_dedup_edit_verified"):
        plan = plan_of(QUERIES[name](spark, SF01))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_r11_entries_plan_shapes(spark):
    """Round-11 additions keep the shapes they claim: URL-canonical
    dedup and the quota sampler are one-Exchange plans; the skew
    entry's plain variant is a sort-merge join (the AQE-skew target),
    never a broadcast."""
    from nutdb_spark.suite import QUERIES

    url = QUERIES["q_dedup_url"](spark, SF01)
    p = url._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") <= 2  # agg partial/final pair at most
    assert "CartesianProduct" not in p and "PythonUDF" not in p

    quota = QUERIES["q_sample_quota"](spark, SF01)
    p = quota._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 1  # the stratum window shuffle
    assert "Window" in p

    skew = QUERIES["q_join_skew_aqe"](spark, SF01)
    p = skew._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in p
    assert "BroadcastHashJoin" not in p  # salting under broadcast is void


def test_semantic_dedup_plan_and_semantics(spark):
    """q_dedup_semantic: clusters must BLOCK the pair generation — no
    cartesian/nested-loop anywhere — and the keep policy must retain,
    per duplicate component, exactly the farthest-from-centroid member
    (ties → min id), verified against a driver-side replay on the tiny
    sf0.001 fixture."""
    from nutdb_spark.suite import QUERIES
    from nutdb_spark.suite.dedup import _SEM_THR

    SF001 = "/root/testdata/sf0.001"
    df = QUERIES["q_dedup_semantic"](spark, SF001)
    plan = plan_of(df)
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "BatchEvalPython"):
        assert node not in plan
    kept = {r["vec_id"] for r in df.collect()}

    # independent replay: exact ints end-to-end, so plain Python agrees
    from nutdb_spark.operators.similarity import kmeans_assign
    from nutdb_spark.suite.similarity import _ivf_centroids
    from nutdb_spark.sources import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, SF001, "embeddings")
    asg = kmeans_assign(
        e, "vec_id", "embedding", centroids=_ivf_centroids(spark, SF001)
    ).select(F.col("__id").alias("vec_id"), "cid", "dist2")
    rows = e.join(asg, "vec_id").collect()
    import itertools
    import math

    from nutdb_spark.operators.similarity import SCALE

    scaled = {
        r["vec_id"]: [math.floor(x * SCALE) for x in r["embedding"]]
        for r in rows
    }
    meta = {r["vec_id"]: (r["cid"], r["dist2"]) for r in rows}
    adj: dict[int, set[int]] = {i: set() for i in scaled}
    for a, b in itertools.combinations(sorted(scaled), 2):
        if meta[a][0] != meta[b][0]:
            continue
        sa, sb = scaled[a], scaled[b]
        dot = sum(x * y for x, y in zip(sa, sb))
        na2 = sum(x * x for x in sa)
        nb2 = sum(x * x for x in sb)
        # the engine's exact op order: dot / sqrt(na²) / sqrt(nb²)
        if na2 and nb2 and dot / math.sqrt(na2) / math.sqrt(nb2) >= _SEM_THR:
            adj[a].add(b)
            adj[b].add(a)
    seen: set[int] = set()
    expect: set[int] = set()
    for start in sorted(scaled):
        if start in seen:
            continue
        comp, stack = set(), [start]
        while stack:
            u = stack.pop()
            if u in comp:
                continue
            comp.add(u)
            stack.extend(adj[u] - comp)
        seen |= comp
        if len(comp) == 1:
            expect |= comp
        else:
            expect.add(min(comp, key=lambda i: (-meta[i][1], i)))
    assert kept == expect


def test_session3_wave_plan_hygiene(spark):
    """Round-12 session-3 entries: candidate generation must never be
    a cartesian/nested-loop product, and every relational path stays
    inside whole-stage codegen (zero Python nodes)."""
    from nutdb_spark.suite import QUERIES

    for name in (
        "q_text_gopher",
        "q_dedup_substring",
        "q_sample_dsir",
        "q_pack_shuffle",
        "q_pipeline_curate",
    ):
        plan = plan_of(QUERIES[name](spark, SF01))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_gopher_filter_reaches_the_scan(spark):
    """q_text_gopher's doc_id slice must push to the parquet scan."""
    from nutdb_spark.suite import QUERIES

    plan = (
        QUERIES["q_text_gopher"](spark, SF01)
        ._jdf.queryExecution()
        .toString()
    )
    assert "PushedFilters" in plan and "LessThan(doc_id,400)" in plan


def test_global_topk_candidate_join_broadcasts(spark):
    """The two-pass top-k's kept-bucket frame (provably ≤ k rows) must
    reach the candidate join as a broadcast, and the corpus must not
    sort-merge for it."""
    from pyspark.sql import functions as F

    from nutdb_spark.operators.sampling import global_topk

    df = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 37 % 1000).alias("score")
    )
    plan = plan_of(global_topk(df, F.col("score"), F.col("k"), 50))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
