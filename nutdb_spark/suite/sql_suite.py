"""Frontend-driven suite: NutDB dialect SQL text → parse → lower →
DataFrame, hash-checked against the same DuckDB oracles as the
DataFrame-built queries. A green row here certifies the tokenizer,
parser, AND lowering end-to-end (M4), not just the operators.

Aggregates use the floor-scaling determinism convention inline in the
dialect SQL (`sum(floor(x * 10000)) / 10000.0`) so doubles are
bit-identical cross-engine (see functions/exact.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nutdb_spark.suite.registry import query


def _run(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    from nutdb_spark.engine import NutEngine

    return NutEngine(spark, data_dir=sf_dir).sql(sql)


# --- flagship Q1 through the frontend (corpus 1.sql repaired) -------------

_SQL_Q1 = """
select
    l_returnflag,
    l_linestatus,
    sum(floor(l_quantity * 10000)) / 10000.0 as sum_qty,
    sum(floor(l_extendedprice * 10000)) / 10000.0 as sum_base,
    sum(floor(l_extendedprice * (1 - l_discount) * 10000)) / 10000.0 as sum_disc_price,
    count(*) as count_order
from
    lineitem
where
    l_shipdate <= toDatetime('1998-11-21 00:00:00')
group by
    l_returnflag,
    l_linestatus
order by
    l_returnflag,
    l_linestatus
"""

_ORA_Q1 = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_qty,
  CAST(SUM(CAST(FLOOR(l_extendedprice * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_base,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-11-21 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("sql_q1", _ORA_Q1)
def sql_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, _SQL_Q1)


# --- corpus 2.sql shape (EXISTS + date window + interval) -----------------

_SQL_Q4 = """
select
    o_orderpriority,
    count(*) as order_count
from orders
where
    o_orderdate >= toDatetime('1997-07-01 00:00:00')
    and o_orderdate < toDatetime('1997-07-01 00:00:00') + interval 3 month
    and exists (
        select * from lineitem
        where l_orderkey = o_orderkey
          and l_shipdate > o_orderdate + interval 2 month
    )
group by o_orderpriority
order by o_orderpriority
"""

_ORA_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate < TIMESTAMP '1997-07-01' + INTERVAL 3 MONTH
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 2 MONTH)
GROUP BY o_orderpriority
"""


@query("sql_q4_exists", _ORA_Q4)
def sql_q4_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dialect's correlated EXISTS decorrelates into a left-semi
    join whose condition carries the cross-scope conjuncts."""
    return _run(spark, sf_dir, _SQL_Q4)


# --- joins + qualified refs + aliases -------------------------------------


@query(
    "sql_join_group",
    """
    SELECT n.n_name, COUNT(*) AS n_cust
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def sql_join_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(
        spark,
        sf_dir,
        """
        select n.n_name, count(*) as n_cust
        from customer as c
        join nation as n on c.c_nationkey = n.n_nationkey
        join region as r on n.n_regionkey = r.r_regionkey
        where r.r_name = 'ASIA'
        group by n.n_name
        """,
    )


# --- set ops with INTERSECT-binds-tighter precedence ----------------------


@query(
    "sql_setops",
    """
    SELECT c_nationkey AS k FROM customer
    UNION
    (SELECT s_nationkey AS k FROM supplier
     INTERSECT
     SELECT n_nationkey AS k FROM nation WHERE n_regionkey = 0)
    """,
)
def sql_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`a UNION DISTINCT b INTERSECT c` must parse as
    `a UNION (b INTERSECT c)` (UnionTypePower, mod.rs:1968-1974)."""
    return _run(
        spark,
        sf_dir,
        """
        select c_nationkey as k from customer
        union distinct
        select s_nationkey as k from supplier
        intersect
        select n_nationkey as k from nation where n_regionkey = 0
        """,
    )


# --- expression surface through the frontend ------------------------------


@query(
    "sql_expressions",
    """
    SELECT p_partkey,
           CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS sz,
           p_size BETWEEN 10 AND 30 AS mid,
           p_name LIKE '%red%' AS red,
           (p_size & 12) | 1 AS bits,
           p_size >> 1 AS shr,
           ([p_brand, p_type])[1] AS arr1,
           substring(p_name, 1, 3) AS pre
    FROM part WHERE p_partkey < 300
    """,
)
def sql_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(
        spark,
        sf_dir,
        """
        select p_partkey,
               if p_size > 25 then 'big' else 'small' end as sz,
               p_size between 10 and 30 as mid,
               p_name like '%red%' as red,
               (p_size & 12) | 1 as bits,
               p_size >> 1 as shr,
               [p_brand, p_type][1] as arr1,
               substring(p_name, 1, 3) as pre
        from part where p_partkey < 300
        """,
    )


# --- DISTINCT ON + LIMIT WITH TIES through the frontend -------------------


@query(
    "sql_distinct_on",
    """
    SELECT c_nationkey, c_custkey FROM (
      SELECT c_nationkey, c_custkey,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
      FROM customer) t
    WHERE rn = 1
    """,
)
def sql_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(
        spark,
        sf_dir,
        """
        select distinct on (c_nationkey) c_nationkey, c_custkey
        from customer order by c_custkey
        """,
    )


@query(
    "sql_limit_ties",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             rank() OVER (ORDER BY l_quantity) AS rk
      FROM lineitem) t
    WHERE rk <= 10
    """,
)
def sql_limit_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(
        spark,
        sf_dir,
        """
        select l_orderkey, l_linenumber, l_quantity
        from lineitem order by l_quantity limit 10 with ties
        """,
    )


# --- CTE + scalar subquery + NOT IN through the frontend ------------------


@query(
    "sql_cte_scalar",
    """
    WITH rich AS (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_acctbal > (SELECT CAST(SUM(CAST(FLOOR(c_acctbal * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 / COUNT(c_acctbal) FROM customer))
    SELECT COUNT(*) AS n_rich FROM rich
    """,
)
def sql_cte_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(
        spark,
        sf_dir,
        """
        with rich as (
          select c_custkey, c_acctbal from customer
          where c_acctbal > (select sum(floor(c_acctbal * 10000)) / 10000.0 / count(c_acctbal) from customer))
        select count(*) as n_rich from rich
        """,
    )


@query(
    "sql_not_in",
    """
    SELECT s_suppkey FROM supplier
    WHERE s_nationkey NOT IN (SELECT c_nationkey FROM customer WHERE c_acctbal < -900)
    """,
)
def sql_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(
        spark,
        sf_dir,
        """
        select s_suppkey from supplier
        where s_nationkey not in (select c_nationkey from customer where c_acctbal < -900)
        """,
    )


# --- S16 table function as FROM source ------------------------------------


@query(
    "sql_table_fn",
    "SELECT range AS number, range * 2 AS doubled FROM range(6)",
)
def sql_table_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`FROM numbers(n)` (DataSource::TableFn, mod.rs:546-562)."""
    return _run(
        spark, sf_dir, "select number, number * 2 as doubled from numbers(6)"
    )


# --- S11 DESCRIBE TABLE (fixture schema is pinned, so the oracle is a
# VALUES literal of the expected rows) --------------------------------------


@query(
    "sql_describe",
    """
    SELECT * FROM (VALUES
      ('r_regionkey', 'int', true, CAST(NULL AS VARCHAR)),
      ('r_name', 'string', true, CAST(NULL AS VARCHAR))
    ) t(name, type, nullable, comment)
    """,
)
def sql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nutdb_spark.engine import NutEngine

    return NutEngine(spark, data_dir=sf_dir).sql("DESCRIBE TABLE region")


# --- [EXT] pipeline functions from dialect SQL ----------------------------


@query(
    "sql_text_pipeline",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           len(string_split_regex(trim(text), '\\s+')) AS toks,
           CASE WHEN length(text) = 0 THEN 0 ELSE
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(text) + 1),
                 i -> CAST(unicode(substring(text, i, 1)) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483647) END AS rhash
    FROM documents WHERE doc_id < 100
    """,
)
def sql_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The [EXT] pipeline functions are reachable from dialect SQL via
    the open function namespace (SURVEY §2.5): fingerprint, tokenCount,
    rollingHash."""
    return _run(
        spark,
        sf_dir,
        """
        select doc_id,
               fingerprint(text) as fp,
               tokenCount(text) as toks,
               rollingHash(text) as rhash
        from documents where doc_id < 100
        """,
    )


@query(
    "sql_embed_cosine",
    """
    WITH v AS (SELECT vec_id, list_transform(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS s
               FROM embeddings WHERE vec_id < 50)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.s[i] * b.s[i])) AS BIGINT) AS DOUBLE)
             / sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.s[i] * a.s[i])) AS BIGINT) AS DOUBLE))
             / sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> b.s[i] * b.s[i])) AS BIGINT) AS DOUBLE)) AS cos
    FROM v a JOIN v b ON a.vec_id + 1 = b.vec_id
    """,
)
def sql_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedCosineSim from dialect SQL over adjacent vector pairs."""
    return _run(
        spark,
        sf_dir,
        """
        select a.vec_id as id_a, b.vec_id as id_b,
               embedCosineSim(a.embedding, b.embedding) as cos
        from embeddings a
        join embeddings b on a.vec_id + 1 = b.vec_id
        where a.vec_id < 49 and b.vec_id < 50
        """,
    )


# --- corpus 10.sql stress shape: deep LEFT JOIN chain + CASE + >> + hex +
# backtick aliases + comments (reference benches/parser_bench.rs "long
# sql" is this same shape) ---------------------------------------------------


@query(
    "sql_multi_join",
    """
    SELECT o_orderkey, seg, pri_bucket, flags
    FROM (
      SELECT o.o_orderkey AS o_orderkey,
             c.c_mktsegment AS seg,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 3
                  WHEN o.o_orderpriority = '2-HIGH' THEN 2
                  ELSE (p.p_size >> 2) & 3 END AS pri_bucket,
             n.n_regionkey | 8 AS flags
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey AND l.l_linenumber = 1
      LEFT JOIN part p ON l.l_partkey = p.p_partkey
      LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE o.o_orderkey < 500) t
    """,
)
def sql_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(
        spark,
        sf_dir,
        """
        -- corpus 10.sql shape: long left-join chain with expressions
        select o.o_orderkey as o_orderkey,
               c.c_mktsegment as `seg`,
               case when o.o_orderpriority = '1-URGENT' then 3
                    when o.o_orderpriority = '2-HIGH' then 2
                    else (p.p_size >> 2) & 0x3 end as pri_bucket,
               n.n_regionkey | 8 as flags  /* bit ops over joins */
        from orders as o
        left join customer as c on o.o_custkey = c.c_custkey
        left join nation as n on c.c_nationkey = n.n_nationkey
        left join region as r on n.n_regionkey = r.r_regionkey
        left join lineitem as l on o.o_orderkey = l.l_orderkey and l.l_linenumber = 1
        left join part as p on l.l_partkey = p.p_partkey
        left join supplier as s on l.l_suppkey = s.s_suppkey
        where o.o_orderkey < 500
        """,
    )


# --- J9 ASOF JOIN through the frontend ------------------------------------


@query(
    "sql_asof",
    """
    WITH m AS (SELECT user_id AS m_user, ts AS m_ts, MAX(value) AS m_val
               FROM events WHERE event_type = 'purchase'
               GROUP BY user_id, ts)
    SELECT e.event_id, e.user_id, e.ts, m.m_ts, m.m_val
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_id < 2000) e
    ASOF JOIN m ON e.user_id = m.m_user AND e.ts >= m.m_ts
    """,
)
def sql_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF JOIN (J9, reference JoinType::AsOf query.rs:57,110) end to
    end through the dialect frontend: each event matches the LATEST
    prior purchase of the same user. The right side is aggregated to
    one row per (user, ts) so the latest-prior match is unique and the
    DuckDB ASOF JOIN oracle is deterministic. Lowering is the
    union+window single-shuffle plan (operators/asof.py), never a
    range join."""
    return _run(
        spark,
        sf_dir,
        """
        select e.event_id, e.user_id, e.ts, m.m_ts, m.m_val
        from (select event_id, user_id, ts from events where event_id < 2000) as e
        asof join (
            select user_id as m_user, ts as m_ts, max(value) as m_val
            from events where event_type = 'purchase'
            group by user_id, ts
        ) as m on e.user_id = m.m_user and e.ts >= m.m_ts
        """,
    )


@query(
    "sql_asof_using",
    """
    WITH m AS (SELECT user_id, ts, MAX(value) AS m_val
               FROM events WHERE event_type = 'purchase'
               GROUP BY user_id, ts)
    SELECT e.event_id, e.user_id, e.ts, m.m_val
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_id < 2000) e
    ASOF JOIN m USING (user_id, ts)
    ORDER BY e.event_id
    """,
)
def sql_asof_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the ClickHouse ASOF JOIN ... USING (k..., ts) spelling:
    the LAST USING column is the timestamp (left_ts >= right_ts,
    latest prior match), the rest are equi-keys — same single-shuffle
    union+window lowering as the ON form. DuckDB runs the identical
    ASOF JOIN USING natively as the oracle (it shares the
    last-column-is-the-inequality convention)."""
    return _run(
        spark,
        sf_dir,
        """
        select e.event_id, e.user_id, e.ts, m_val
        from (select event_id, user_id, ts from events
              where event_id < 2000) as e
        asof join (
            select user_id, ts, max(value) as m_val
            from events where event_type = 'purchase'
            group by user_id, ts
        ) as m using (user_id, ts)
        order by event_id
        """,
    )


@query(
    "sql_asof_within",
    """
    WITH m AS (SELECT user_id AS m_user, ts AS m_ts, MAX(value) AS m_val
               FROM events WHERE event_type = 'purchase'
               GROUP BY user_id, ts),
    j AS (
      SELECT e.event_id, e.user_id, e.ts, m.m_ts, m.m_val,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY m.m_ts DESC) AS rn
      FROM (SELECT event_id, user_id, ts FROM events WHERE event_id < 2000) e
      JOIN m ON e.user_id = m.m_user AND e.ts >= m.m_ts
             AND m.m_ts >= e.ts - INTERVAL 2 DAY)
    SELECT event_id, user_id, ts, m_ts, m_val FROM j WHERE rn = 1
    """,
)
def sql_asof_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ASOF JOIN (WITHIN <interval>): the latest prior purchase
    only matches when it happened within the tolerance window — the
    common real-world as-of shape. DuckDB's native ASOF JOIN has no
    tolerance, so the oracle post-filters the matched row (equivalent:
    the bound is a lower limit on the matched timestamp, so the latest
    prior row is in-window iff any row is). Same union+window
    single-shuffle plan with one extra last() over the identical frame.
    """
    return _run(
        spark,
        sf_dir,
        """
        select e.event_id, e.user_id, e.ts, m.m_ts, m.m_val
        from (select event_id, user_id, ts from events where event_id < 2000) as e
        asof join (
            select user_id as m_user, ts as m_ts, max(value) as m_val
            from events where event_type = 'purchase'
            group by user_id, ts
        ) as m on e.user_id = m.m_user and e.ts >= m.m_ts
        within interval 2 day
        """,
    )


@query(
    "sql_params",
    """
    SELECT n_name, n_nationkey FROM nation
    WHERE n_regionkey = 2 AND n_nationkey < 20
    """,
)
def sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query parameters ($n, E15) through the dialect frontend: the
    tokenizer produces QueryParameter tokens, the lowerer substitutes
    engine-supplied values (reference: tokenizer/mod.rs query-parameter
    tests; `$0`-style placeholders)."""
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=sf_dir)
    return eng.sql(
        "SELECT n_name, n_nationkey FROM nation "
        "WHERE n_regionkey = $0 AND n_nationkey < $1",
        params=[2, 20],
    )


@query(
    "sql_source_files",
    "SELECT r_name FROM region",
)
def sql_source_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source table functions (S16 beyond numbers()): the region
    fixture round-trips through CSV, JSON, and ORC files read back via
    the dialect's csv()/json()/orc() table functions and joined —
    proving the reader plumbing, header handling, and table-fn
    aliasing end to end. Output is the string key so CSV's all-string
    typing needs no casts."""
    import tempfile

    from nutdb_spark.engine import NutEngine
    from nutdb_spark.sources import load_table

    base = tempfile.mkdtemp(prefix="sql_source_files_")
    reg = load_table(spark, sf_dir, "region")
    reg.coalesce(1).write.option("header", True).csv(base + "/csv")
    reg.coalesce(1).write.json(base + "/json")
    reg.coalesce(1).write.orc(base + "/orc")
    eng = NutEngine(spark, data_dir=sf_dir)
    return eng.sql(
        f"SELECT c.r_name FROM csv('{base}/csv') c "
        f"JOIN json('{base}/json') j ON c.r_name = j.r_name "
        f"JOIN orc('{base}/orc') o ON c.r_name = o.r_name"
    )


@query(
    "sql_json",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           MAX(json_extract_string(props, '$.k')) AS k_str_max,
           COUNT(CASE WHEN json_extract(props, '$.missing') IS NOT NULL
                      THEN 1 END) AS n_missing,
           MAX(len(json_keys(props))) AS n_keys
    FROM events
    GROUP BY k_mod
    """,
)
def sql_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-family JSON surface (JSONExtractInt/String, JSONHas,
    JSONLength) end to end through the dialect frontend. The key
    argument must be a string literal — the frontend passes it through
    raw because Spark's get_json_object takes a compile-time JsonPath —
    and everything lowers to JVM-side JsonPath evaluation inside
    codegen (no Python UDF; semi-structured props never leave the
    executor). Scale: a pure projection + one hash-agg shuffle."""
    return _run(
        spark,
        sf_dir,
        """
        select
            k_mod,
            count(*) as n,
            sum(k_val) as k_sum,
            max(k_str) as k_str_max,
            countIf(has_missing) as n_missing,
            max(n_keys) as n_keys
        from (
            select
                JSONExtractInt(props, 'k') % 10 as k_mod,
                JSONExtractInt(props, 'k') as k_val,
                JSONExtractString(props, 'k') as k_str,
                JSONHas(props, 'missing') as has_missing,
                JSONLength(props) as n_keys
            from events
        ) as j
        group by k_mod
        order by k_mod
        """,
    )


@query(
    "sql_window",
    """
    SELECT user_id, event_id,
           ROW_NUMBER() OVER w AS rn,
           CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING)
                AS DOUBLE) / 10000.0 AS run_sum,
           LAG(event_id, 1) OVER w AS prev_id,
           LEAD(event_id, 1, -1) OVER w AS next_id,
           COUNT(*) OVER (PARTITION BY user_id) AS n_user,
           NTILE(4) OVER w AS quart,
           CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 10000.0 AS last4
    FROM events
    WHERE user_id < 30
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def sql_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Window functions through the dialect frontend: OVER with
    PARTITION BY / ORDER BY / ROWS frames, ranking + offset + windowed
    aggregates in one projection. The reference grammar has no OVER
    (SURVEY §2.6); this is the engine extension, lowered 1:1 onto
    pyspark Window — one shuffle on the partition key, every frame
    ROWS-bounded and fully tie-broken, running sums on floor-scaled
    BIGINTs so values hash-match DuckDB."""
    return _run(
        spark,
        sf_dir,
        """
        select user_id, event_id,
               row_number() over (partition by user_id
                                  order by ts, event_id) as rn,
               sum(floor(value * 10000))
                 over (partition by user_id order by ts, event_id
                       rows unbounded preceding) / 10000.0 as run_sum,
               lag(event_id, 1) over (partition by user_id
                                      order by ts, event_id) as prev_id,
               lead(event_id, 1, -1) over (partition by user_id
                                           order by ts, event_id) as next_id,
               count(*) over (partition by user_id) as n_user,
               ntile(4) over (partition by user_id
                              order by ts, event_id) as quart,
               sum(floor(value * 10000))
                 over (partition by user_id order by ts, event_id
                       rows between 3 preceding and current row)
                 / 10000.0 as last4
        from events
        where user_id < 30
        """,
    )


@query(
    "sql_array_join",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id < 50)
    SELECT tok, COUNT(*) AS n
    FROM (SELECT doc_id, unnest(toks) AS tok FROM d) t
    GROUP BY tok
    """,
)
def sql_array_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ARRAY JOIN through the dialect — the clause the reference
    grammar TODO'd (ast/query.rs:27-28), ClickHouse semantics: lockstep
    iteration for multiple arrays, LEFT keeps empty rows, bare columns
    are replaced by their elements. Lowered to one row-local generator
    (explode of an index sequence + element_at) — no shuffle; the only
    exchange here is the downstream GROUP BY."""
    return _run(
        spark,
        sf_dir,
        """
        select tok, count(*) as n
        from (select doc_id, splitByChar(' ', text) as toks
              from documents where doc_id < 50) as d
        array join toks as tok
        group by tok
        """,
    )


@query(
    "sql_sample",
    """
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE CAST('0x' || substring(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 1000000 < 200000
    GROUP BY lang
    """,
)
def sql_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SAMPLE clause — the reference grammar's open question
    (ast/query.rs:12 "[sample clause?]"), realized as DETERMINISTIC
    hash sampling: `SAMPLE 0.2 BY (doc_id)` keeps a row iff its
    salted-md5 bucket clears the threshold. Append-stable and
    engine-portable (the DuckDB oracle computes the identical md5
    filter), and a plain pushed filter in the plan — unlike
    TABLESAMPLE, whose output depends on partition layout."""
    return _run(
        spark,
        sf_dir,
        """
        select lang, count(*) as n, sum(n_chars) as chars
        from documents sample 0.2 by (doc_id)
        group by lang
        """,
    )


@query(
    "sql_rollup",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def sql_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] GROUP BY ... WITH ROLLUP through the dialect (ClickHouse
    modifier; the reference's GROUP BY takes a plain expr list —
    SURVEY §2.6). Catalyst expands the rollup to grouping sets inside
    ONE hash aggregate with the map-side partial preserved — never a
    union of re-scans; subtotal rows carry NULL group keys, matching
    the DuckDB ROLLUP oracle exactly."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag, l_linestatus, count(*) as n,
               sum(floor(l_quantity * 10000)) / 10000.0 as qty
        from lineitem
        group by l_returnflag, l_linestatus with rollup
        """,
    )


@query(
    "sql_qualify",
    f"""
    SELECT user_id, event_id
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY CAST(FLOOR(value * 10000) AS BIGINT)
                                        DESC, event_id) <= 3
    """,
)
def sql_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] QUALIFY — the top-N-per-group idiom as a first-class
    clause: filter on a window-function result without the wrap-in-a-
    subquery dance. Lowered as a temp column + filter inside the same
    WindowExec stage (no extra shuffle); DuckDB runs the identical
    QUALIFY natively as the oracle."""
    return _run(
        spark,
        sf_dir,
        """
        select user_id, event_id
        from events
        qualify row_number() over (partition by user_id
                                   order by floor(value * 10000) desc,
                                            event_id) <= 3
        """,
    )


@query(
    "sql_lambda",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id < 100)
    SELECT doc_id,
           CAST(list_sum(list_transform(toks, x -> length(x)))
                AS BIGINT) AS total_len,
           len(list_filter(toks, x -> length(x) > 4)) AS n_long,
           len(list_filter(toks, x -> x = 'the')) > 0 AS has_the,
           len(list_filter(toks, x -> length(x) <= 3)) AS n_short
    FROM d
    """,
)
def sql_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] higher-order array functions with lambda syntax —
    arrayMap/arrayFilter/arrayCount/arrayExists over `x -> body` (and
    `(x, y) -> body` for the zip form). The arrow token is new to the
    tokenizer ('-' '>' could previously only be a parse error, so no
    legal reference program changes meaning); lambdas lower to
    pyspark's JVM-side transform/filter/exists — whole-stage codegen,
    no Python evaluation."""
    return _run(
        spark,
        sf_dir,
        """
        select doc_id,
               arraySum(arrayMap(x -> length(x), toks)) as total_len,
               arrayCount(x -> length(x) > 4, toks) as n_long,
               arrayExists(x -> x = 'the', toks) as has_the,
               arrayLength(arrayFilter(x -> length(x) <= 3, toks)) as n_short
        from (select doc_id, splitByChar(' ', text) as toks
              from documents where doc_id < 100) as d
        """,
    )


@query(
    "sql_setops_all",
    """
    SELECT l_suppkey AS k FROM lineitem WHERE l_orderkey < 200
    INTERSECT ALL
    SELECT l_suppkey AS k FROM lineitem WHERE l_partkey < 1200
    EXCEPT ALL
    SELECT s_suppkey AS k FROM supplier WHERE s_nationkey < 5
    """,
)
def sql_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multiset set operations — INTERSECT ALL / EXCEPT ALL keep
    duplicate multiplicities (min / difference of counts) where the
    reference's bare forms are distinct-only. Lowered to Spark's native
    intersectAll/exceptAll (hash-partition both sides, count-matching —
    no driver work); precedence unchanged (INTERSECT binds tighter)."""
    return _run(
        spark,
        sf_dir,
        """
        select l_suppkey as k from lineitem where l_orderkey < 200
        intersect all
        select l_suppkey as k from lineitem where l_partkey < 1200
        except all
        select s_suppkey as k from supplier where s_nationkey < 5
        """,
    )


@query(
    "sql_totals",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), ())
    """,
)
def sql_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] GROUP BY ... WITH TOTALS (ClickHouse): every detail group
    plus ONE grand-total row (NULL keys) — grouping sets ((keys), ())
    carved out of a rollup by grouping_id inside a single hash
    aggregate; intermediate subtotals never materialize past the
    filter. DuckDB runs the explicit GROUPING SETS as the oracle."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag, l_linestatus, count(*) as n,
               sum(floor(l_quantity * 10000)) / 10000.0 as qty
        from lineitem
        group by l_returnflag, l_linestatus with totals
        """,
    )


@query(
    "sql_prewhere",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 AS revenue
    FROM lineitem
    WHERE l_quantity > 25 AND l_discount < 0.05
    GROUP BY l_returnflag
    """,
)
def sql_prewhere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] PREWHERE (ClickHouse pre-filter). In a column store the
    clause gates which columns are read for the surviving rows; under
    Spark both conjunct sets reach the same pushed-down parquet filter,
    so the clause is accepted for dialect parity and lowers to an
    ordinary filter ahead of WHERE — the plan is identical to writing
    one AND, which is exactly what the DuckDB oracle runs."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag, count(*) as n,
               sum(floor(l_extendedprice * 100)) / 100.0 as revenue
        from lineitem
        prewhere l_quantity > 25
        where l_discount < 0.05
        group by l_returnflag
        """,
    )


@query(
    "sql_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_linestatus), ())
    """,
)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] explicit GROUP BY GROUPING SETS — arbitrary set lists
    (not just the rollup/cube/totals prefixes), including the empty
    grand-total set. Lowered onto Spark 4's DataFrame.groupingSets:
    every set stays inside ONE hash aggregate (Expand + partial agg,
    map-side combine preserved), never a union of re-scans. Key
    expressions are pre-projected because groupingSets matches set
    members to grouping columns by expression equality."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag, l_linestatus, count(*) as n,
               sum(floor(l_quantity * 10000)) / 10000.0 as qty
        from lineitem
        group by grouping sets ((l_returnflag, l_linestatus),
                                (l_linestatus), ())
        """,
    )


@query(
    "sql_limit_by",
    """
    SELECT l_returnflag, l_orderkey, n FROM (
      SELECT l_returnflag, l_orderkey, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY COUNT(*) DESC, l_orderkey) AS rn
      FROM lineitem GROUP BY l_returnflag, l_orderkey) t
    WHERE rn <= 2
    ORDER BY n DESC, l_orderkey, l_returnflag
    LIMIT 5
    """,
)
def sql_limit_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] `LIMIT n BY keys` (ClickHouse per-group head): the first n
    rows of every distinct key tuple in the query's ORDER BY order,
    with an optional trailing plain LIMIT over the combined result.
    Lowered as one row_number() window riding in the same projection
    (one WindowExec, one hash partitioning on the keys — no self-join)
    plus a post-select filter; ORDER BY is required so the per-key
    order is deterministic. The DuckDB oracle spells out the
    row_number idiom the clause replaces."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag, l_orderkey, count(*) as n
        from lineitem
        group by l_returnflag, l_orderkey
        order by n desc, l_orderkey, l_returnflag
        limit 2 by l_returnflag
        limit 5
        """,
    )


@query(
    "sql_window_named",
    """
    SELECT user_id, event_id,
           ROW_NUMBER() OVER w AS rn,
           CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING)
                AS DOUBLE) / 10000.0 AS run_sum,
           LAG(event_id, 1) OVER w AS prev_id
    FROM events
    WHERE user_id < 40
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def sql_window_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] named WINDOW clause: `WINDOW w AS (spec)` defined once,
    referenced as `OVER w` from any window call in the body (select
    list or ORDER BY). References parse before the definition is
    reached, so the parser collects them unresolved and patches in the
    spec at the end of the query body — per query block, exactly like
    the standard scoping DuckDB applies to the identical oracle text.
    All three calls share one window spec, so Catalyst plans a single
    WindowExec pass over one shuffle."""
    return _run(
        spark,
        sf_dir,
        """
        select user_id, event_id,
               row_number() over w as rn,
               sum(floor(value * 10000)) over (
                   partition by user_id order by ts, event_id
                   rows unbounded preceding) / 10000.0 as run_sum,
               lag(event_id, 1) over w as prev_id
        from events
        where user_id < 40
        window w as (partition by user_id order by ts, event_id)
        """,
    )


@query(
    "sql_with_fill",
    """
    SELECT s.b AS b, e.n AS n
    FROM (SELECT CAST(k AS BIGINT) AS b FROM generate_series(0, 29) t(k)) s
    LEFT JOIN (SELECT event_id // 10 AS b, COUNT(*) AS n
               FROM events
               WHERE event_type = 'purchase' AND event_id < 300
               GROUP BY 1) e USING (b)
    ORDER BY s.b
    """,
)
def sql_with_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ORDER BY ... WITH FILL [FROM a] [TO b] [STEP s]: missing
    key values materialize as rows with NULL payload (NULLs mark filled
    rows — ClickHouse fills type defaults and needs INTERPOLATE to tell
    them apart; NULL is the honest strengthening). The series is built
    fully distributed: a one-row min/max aggregate (when FROM/TO are
    omitted) feeds sequence()+explode, joined back FULL OUTER so
    original rows outside the range survive — no driver collect at any
    scale. TO is exclusive; temporal keys require an interval STEP.
    The DuckDB oracle is the generate_series + LEFT JOIN idiom the
    clause replaces."""
    return _run(
        spark,
        sf_dir,
        """
        select intDiv(event_id, 10) as b, count(*) as n
        from events
        where event_type = 'purchase' and event_id < 300
        group by intDiv(event_id, 10)
        order by b with fill from 0 to 30
        """,
    )


@query(
    "sql_outfile",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_outfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] `INTO OUTFILE '<path>' [FORMAT parquet|csv|json|orc]` —
    the SQL-level write sink. The write is distributed (one file per
    partition, never a single-file driver funnel) and the statement
    returns the READ-BACK frame, so the oracle gate certifies the full
    write+read roundtrip against the source aggregation — a green row
    means bytes on disk decode to the exact same values."""
    import os

    out = f"/tmp/nutdb_outfile_{os.path.basename(sf_dir.rstrip('/'))}.parquet"
    return _run(
        spark,
        sf_dir,
        f"""
        select l_returnflag, l_linestatus, count(*) as n,
               sum(floor(l_quantity * 10000)) / 10000.0 as qty
        from lineitem
        group by l_returnflag, l_linestatus
        into outfile '{out}' format parquet
        """,
    )


@query(
    "sql_cte_chain",
    """
    WITH a AS (SELECT l_returnflag AS rf, COUNT(*) AS n
               FROM lineitem GROUP BY l_returnflag),
         b AS (SELECT rf, n FROM a WHERE n > 0)
    SELECT rf, n FROM b
    """,
)
def sql_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CTEs — a later CTE references an earlier one (standard
    scoping the round-6 CTE stack made work: previously each CTE body
    lowered in an empty scope and `b` could not see `a`). The stack
    also gives subqueries visibility of enclosing CTEs."""
    return _run(
        spark,
        sf_dir,
        """
        with a as (select l_returnflag as rf, count(*) as n
                   from lineitem group by l_returnflag),
             b as (select rf, n from a where n > 0)
        select rf, n from b
        """,
    )


@query(
    "sql_recursive",
    """
    WITH RECURSIVE seq AS (
      SELECT 1 AS n
      UNION ALL
      SELECT n + 1 AS n FROM seq WHERE n < 25
    )
    SELECT n, n * n AS sq FROM seq
    """,
)
def sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] WITH RECURSIVE on Spark (which has no native recursive
    CTE): the standard iterative fixpoint — each round re-lowers the
    recursive term against the previous round's DELTA, localCheckpoint
    bounds lineage, only per-round emptiness checks reach the driver
    (the connected-components contract). UNION ALL form terminates
    when the term runs dry; iteration cap guards divergence. DuckDB
    runs the identical text natively as the oracle."""
    return _run(
        spark,
        sf_dir,
        """
        with recursive seq as (
          select 1 as n
          union all
          select n + 1 as n from seq where n < 25
        )
        select n, n * n as sq from seq
        """,
    )


@query(
    "sql_recursive_graph",
    """
    WITH RECURSIVE chain AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderkey IN (777, 999)
      UNION
      SELECT k // 2 AS k FROM chain WHERE k > 0
    )
    SELECT k FROM chain
    """,
)
def sql_recursive_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] WITH RECURSIVE, UNION DISTINCT form — the graph-closure
    shape: each round's new frontier is step.distinct().subtract(acc),
    so shared ancestors (777 and 999 halve onto the same chain) and
    cycles terminate; anchored on a real table scan rather than a
    literal."""
    return _run(
        spark,
        sf_dir,
        """
        with recursive chain as (
          select o_orderkey as k from orders where o_orderkey in (777, 999)
          union distinct
          select intDiv(k, 2) as k from chain where k > 0
        )
        select k from chain
        """,
    )


@query(
    "sql_select_modifiers",
    """
    SELECT * EXCLUDE (c_name)
           REPLACE (CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS c_acctbal)
    FROM customer
    WHERE c_nationkey IN (1, 3, 5)
    ORDER BY c_custkey
    LIMIT 50
    """,
)
def sql_select_modifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ClickHouse SELECT-list wildcard modifiers `* EXCEPT (c)`
    and `* REPLACE (expr AS c)` plus `GLOBAL IN`. The wildcard expands
    to an explicit column list at lowering time, so the dropped column
    is pruned out of the parquet scan (ReadSchema excludes c_name) —
    the modifier is a scan-narrowing declaration, not a post-project.
    GLOBAL IN lowers identically to IN (the CH keyword only controls
    distributed-subquery shipping, which is Catalyst's decision on
    Spark). DuckDB oracle spells them EXCLUDE / REPLACE / IN."""
    return _run(
        spark,
        sf_dir,
        """
        select * except (c_name)
               replace (floor(c_acctbal * 100) as c_acctbal)
        from customer
        where c_nationkey global in (1, 3, 5)
        order by c_custkey
        limit 50
        """,
    )


@query(
    "sql_columns_regex",
    """
    SELECT COLUMNS('key')
    FROM (SELECT c_custkey, c_name, c_nationkey FROM customer)
    ORDER BY c_custkey
    LIMIT 20
    """,
)
def sql_columns_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] COLUMNS('regex') dynamic projection (ClickHouse / DuckDB
    both use partial regex match over column names). Expanded at
    lowering time against the resolved input schema, so the physical
    plan is an ordinary explicit projection with full column pruning —
    the regex never reaches execution."""
    return _run(
        spark,
        sf_dir,
        """
        select columns('key')
        from (select c_custkey, c_name, c_nationkey from customer)
        order by c_custkey
        limit 20
        """,
    )


@query(
    "sql_parametric",
    """
    WITH c AS (
      SELECT l_returnflag, l_linestatus AS val, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), t AS (
      SELECT l_returnflag,
             list_aggregate((list(val ORDER BY cnt DESC, val))[1:2],
                            'string_agg', ',') AS top_status
      FROM c GROUP BY 1
    ), q AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS q25,
             quantile_cont(l_quantity, 0.5) AS q50,
             quantile_cont(l_quantity, 0.75) AS q75,
             quantile_cont(l_quantity, 0.5) AS med
      FROM lineitem GROUP BY 1
    )
    SELECT t.l_returnflag, t.top_status, q.q25, q.q50, q.q75, q.med
    FROM t JOIN q USING (l_returnflag)
    ORDER BY l_returnflag
    """,
)
def sql_parametric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Parametric aggregates `fn(params)(args)` (ClickHouse
    combinator syntax): topK(2)(x) and quantiles(...)(x) /
    quantile(p)(x). topK is strengthened from CH's approximate
    space-saving sketch to the EXACT top-k by frequency with a
    deterministic (count desc, value asc) tie-break — one collect_list
    per group post-processed by JVM higher-order functions, no second
    shuffle and no Python. quantiles uses exact interpolating
    percentile over integer-valued doubles, so every output is an
    exactly-representable .25 multiple on both engines (see
    functions/exact.py conventions)."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag,
               arrayStringConcat(topK(2)(l_linestatus), ',') as top_status,
               quantiles(0.25, 0.5, 0.75)(l_quantity)[1] as q25,
               quantiles(0.25, 0.5, 0.75)(l_quantity)[2] as q50,
               quantiles(0.25, 0.5, 0.75)(l_quantity)[3] as q75,
               quantile(0.5)(l_quantity) as med
        from lineitem
        group by l_returnflag
        order by l_returnflag
        """,
    )


@query(
    "sql_uniq_upto",
    """
    SELECT l_returnflag,
           CAST(LEAST(COUNT(DISTINCT l_linenumber), 4) AS BIGINT) AS u3,
           CAST(LEAST(COUNT(DISTINCT l_linenumber), 101) AS BIGINT) AS u100,
           CAST(LEAST(COUNT(DISTINCT l_suppkey), 51) AS BIGINT) AS u50
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sql_uniq_upto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] uniqUpTo(N)(x) — ClickHouse's capped distinct counter:
    exact while <= N, the sentinel N+1 beyond. Lowered as
    least(countDistinct, N+1); Spark's distinct count is exact, so
    the answer contract is identical to CH's (CH caps only its state)
    and the entry is value-oracle-able — one of the three parametric
    aggregates the r6-r7 rounds didn't cover (topK/quantiles did)."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag,
               uniqUpTo(3)(l_linenumber) as u3,
               uniqUpTo(100)(l_linenumber) as u100,
               uniqUpTo(50)(l_suppkey) as u50
        from lineitem group by l_returnflag order by l_returnflag
        """,
    )


@query(
    "sql_grouping_fn",
    """
    SELECT l_returnflag AS k1, l_linestatus AS k2,
           CAST(GROUPING(l_returnflag) AS INT) AS g1,
           CAST(GROUPING(l_linestatus) AS INT) AS g2,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY g1, g2, k1, k2
    """,
)
def sql_grouping_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the standard-SQL grouping(col) aggregate — the companion
    to ROLLUP/CUBE/GROUPING SETS that distinguishes a subtotal row
    (key aggregated away → 1) from a detail row whose key is
    genuinely NULL (→ 0). The argument is matched structurally
    against the GROUP BY list and rewritten to the engine's aliased
    key column, so it composes with expression keys and with the
    bounded topK rewrite; still ONE hash aggregate. DuckDB runs the
    identical GROUPING() natively as the oracle."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag as k1, l_linestatus as k2,
               grouping(l_returnflag) as g1,
               grouping(l_linestatus) as g2,
               count(*) as n
        from lineitem group by l_returnflag, l_linestatus with rollup
        order by g1, g2, k1, k2
        """,
    )


@query(
    "sql_any_join",
    """
    WITH c AS (
      SELECT c_nationkey AS n_nationkey, c_acctbal AS acct, c_custkey,
             row_number() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal ASC NULLS LAST,
                        c_custkey ASC NULLS LAST) AS rn
      FROM customer)
    SELECT n.n_name, c.acct, c.c_custkey AS ck
    FROM nation n
    LEFT JOIN c ON n.n_nationkey = c.n_nationkey AND c.rn = 1
    ORDER BY n.n_name
    """,
)
def sql_any_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ClickHouse ANY join strictness (`LEFT|INNER|RIGHT ANY
    JOIN ... USING`): at most ONE match from the non-preserved side
    per key. CH picks an arbitrary match; this engine strengthens to
    the FIRST by a deterministic order over the deduped side's non-key
    columns, so results are partition-stable and oracle-able. The
    dedup is one bounded window on the side that would have fanned out
    — the preserved side streams through the ordinary hash join
    untouched (the 100 TB shape: fact side never carries the window).
    The oracle is the rn=1 LEFT JOIN the strictness replaces."""
    return _run(
        spark,
        sf_dir,
        """
        select n_name, acct, c_custkey as ck
        from nation left any join
             (select c_nationkey as n_nationkey, c_acctbal as acct,
                     c_custkey
              from customer) c
             using (n_nationkey)
        order by n_name
        """,
    )


@query(
    "sql_apply_modifier",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) AS BIGINT)
             AS "sum(toInt64(l_quantity))",
           CAST(SUM(l_orderkey) AS BIGINT)
             AS "sum(toInt64(l_orderkey))"
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sql_apply_modifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the ClickHouse APPLY select-list modifier:
    `COLUMNS('re') APPLY(fn) [APPLY(fn2)]` (and `* [EXCEPT ...]
    APPLY(fn)`) wraps every expanded column in fn, chains composing
    left-to-right with CH-style output names (`fn(col)`). Expansion
    happens BEFORE aggregate hoisting, so `APPLY(sum) ... GROUP BY`
    lowers into the one hash aggregate it would be if spelled out —
    the modifier is pure front-end sugar, nothing new in the plan."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag,
               COLUMNS('l_quantity|l_orderkey') APPLY(toInt64) APPLY(sum)
        from lineitem group by l_returnflag order by l_returnflag
        """,
    )


@query(
    "sql_group_order_all",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem
    WHERE l_shipdate < DATE '1997-01-01'
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def sql_group_order_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] GROUP BY ALL / ORDER BY ALL (ClickHouse 22.12+ / DuckDB):
    ALL expands to every non-aggregate select expression (group) and
    every select item left-to-right (order). Expansion is front-end
    only — GROUP BY ALL becomes the same hash aggregate as spelling
    the keys, ORDER BY ALL reuses the positional-ordinal machinery —
    so the physical plan is identical to the explicit form. A column
    literally named `all` keeps working; the keyword reading applies
    only where nothing after it can continue an expression. The
    oracle runs DuckDB's native GROUP BY ALL / ORDER BY ALL."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag, l_linestatus,
               getYear(l_shipdate) as yr,
               count(*) as n, sum(toInt64(l_quantity)) as qty
        from lineitem
        where l_shipdate < toDate('1997-01-01')
        group by all
        order by all
        """,
    )


@query(
    "sql_topk_rollup",
    """
    WITH c AS (
      SELECT l_returnflag AS k, l_linestatus AS val, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2),
    u AS (
      SELECT k, val, cnt FROM c
      UNION ALL
      SELECT CAST(NULL AS VARCHAR), val, SUM(cnt) FROM c GROUP BY val)
    SELECT k,
           list_aggregate((list(val ORDER BY cnt DESC, val))[1:2],
                          'string_agg', ',') AS top_status,
           CAST(SUM(cnt) AS BIGINT) AS n
    FROM u GROUP BY k
    ORDER BY k NULLS FIRST
    """,
)
def sql_topk_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] exact topK under WITH ROLLUP: every grouping set's top-k
    (including the grand-total row) derives from the SINGLE
    (keys, value) pre-aggregate — value counts are summable across
    dropped keys, so the subtotal's heavy hitters cost one Expand over
    the distinct-value frame plus a bounded spillable window, never a
    collect_list of a 100 TB group's raw rows (the topK side of
    frontend/lower.py _lower_aggregate, built by _topk_side;
    tests/test_advice_r8.py pins the hot-group plan). The oracle
    mirrors the re-sum: per-key counts UNION ALL their value-wise
    rollup."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag as k,
               arrayStringConcat(topK(2)(l_linestatus), ',') as top_status,
               count(*) as n
        from lineitem group by l_returnflag with rollup
        order by k nulls first
        """,
    )


@query(
    "sql_with_scalar",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)
                AS BIGINT) AS big,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM lineitem
    WHERE l_quantity > 25 - 5
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sql_with_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ClickHouse scalar WITH: `WITH <expr> AS <name>` binds a
    named expression macro substituted (with precedence over columns,
    chaining allowed) before lowering — so the physical plan is
    IDENTICAL to hand-inlining the expression: the threshold constant
    folds into the pushed parquet filter and the revenue expression
    stays one whole-stage-codegen projection. The DuckDB oracle is the
    inlined spelling."""
    return _run(
        spark,
        sf_dir,
        """
        with 25 as threshold,
             l_extendedprice * (1 - l_discount) as disc_price
        select l_returnflag,
               sum(if l_quantity > threshold then 1 else 0 end) as big,
               sum(floor(disc_price * 100)) / 100.0 as revenue
        from lineitem
        where l_quantity > threshold - 5
        group by l_returnflag
        order by l_returnflag
        """,
    )


@query(
    "sql_arrayjoin_fn",
    """
    SELECT n_nationkey, u.tok AS tok
    FROM nation, unnest(string_split(n_name, 'A')) AS u(tok)
    WHERE n_nationkey < 10
    ORDER BY n_nationkey, tok
    """,
)
def sql_arrayjoin_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] arrayJoin(arr) — ClickHouse's function form of ARRAY
    JOIN: one call in the select list multiplies the row per array
    element. Lowers to Spark's explode generator inside the same
    whole-stage-codegen projection (no shuffle, no Python); DuckDB
    oracle is the lateral unnest spelling."""
    return _run(
        spark,
        sf_dir,
        """
        select n_nationkey, arrayJoin(splitByChar('A', n_name)) as tok
        from nation
        where n_nationkey < 10
        order by n_nationkey, tok
        """,
    )


@query(
    "sql_retention",
    """
    WITH u AS (
      SELECT user_id,
        MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c1,
        MAX(CASE WHEN event_type = 'purchase' AND value > 40 THEN 1
                 ELSE 0 END) AS c2,
        MAX(CASE WHEN event_type = 'error' AND value > 48 THEN 1
                 ELSE 0 END) AS c3
      FROM events GROUP BY user_id)
    SELECT CAST(SUM(c1) AS BIGINT) AS s1,
           CAST(SUM(c1 * c2) AS BIGINT) AS s2,
           CAST(SUM(c1 * c3) AS BIGINT) AS s3,
           COUNT(*) AS n_users
    FROM u
    """,
)
def sql_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] retention(cond1..condN) — ClickHouse cohort-retention
    aggregate: per group r[1] = cond1 ever held, r[k] = cond1 AND
    condk both held (later steps anchored on the first condition,
    no ordering). Lowers to one max() per condition inside a single
    hash aggregate (map-side partial preserved); the entry reshapes
    the per-user arrays to the classic per-step user counts."""
    return _run(
        spark,
        sf_dir,
        """
        with per_user as (
          select user_id,
                 retention(event_type = 'signup',
                           event_type = 'purchase' and value > 40,
                           event_type = 'error' and value > 48) as r
          from events group by user_id
        )
        select sum(r[1]) as s1, sum(r[2]) as s2, sum(r[3]) as s3,
               count() as n_users
        from per_user
        """,
    )


@query(
    "sql_funnel",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t, event_type FROM events
    ),
    lv1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
    lv2 AS (
      SELECT DISTINCT a.user_id FROM e a JOIN e b ON a.user_id = b.user_id
      WHERE a.event_type = 'view' AND b.event_type = 'click'
        AND b.t >= a.t AND b.t - a.t <= 86400000000),
    lv3 AS (
      SELECT DISTINCT a.user_id FROM e a
      JOIN e b ON a.user_id = b.user_id
      JOIN e c ON a.user_id = c.user_id
      WHERE a.event_type = 'view' AND b.event_type = 'click'
        AND c.event_type = 'purchase'
        AND b.t >= a.t AND c.t >= b.t AND c.t - a.t <= 86400000000),
    lv AS (
      SELECT u.user_id,
             CASE WHEN u3.user_id IS NOT NULL THEN 3
                  WHEN u2.user_id IS NOT NULL THEN 2
                  WHEN u1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS lvl
      FROM (SELECT DISTINCT user_id FROM e) u
      LEFT JOIN lv1 u1 ON u.user_id = u1.user_id
      LEFT JOIN lv2 u2 ON u.user_id = u2.user_id
      LEFT JOIN lv3 u3 ON u.user_id = u3.user_id)
    SELECT CAST(lvl AS INT) AS lvl, COUNT(*) AS n_users
    FROM lv GROUP BY lvl
    """,
)
def sql_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] windowFunnel(window)(ts, cond1..condN) — sequential
    conversion depth within a sliding window (view → click → purchase
    inside 24 h). The engine strengthens ClickHouse's single-candidate
    scan to EXACT chain reachability: a greedy DP over the per-user
    events (sorted by ts) keeping the LATEST chain-start per step, so
    its result equals the pure EXISTS-chain definition — which is what
    the DuckDB oracle computes via per-user self-joins. Lowering is
    one collect_list + array_sort + aggregate() fold per user: ONE
    hash aggregate on user_id, all-JVM higher-order functions. At
    100 TB the per-group state is one user's events (bounded), never
    the corpus; the oracle's O(events²) self-join is exactly the plan
    this aggregate avoids."""
    return _run(
        spark,
        sf_dir,
        """
        with per_user as (
          select user_id,
                 windowFunnel(86400000000)(toUnixMicros(ts),
                   event_type = 'view', event_type = 'click',
                   event_type = 'purchase') as lvl
          from events group by user_id
        )
        select lvl, count() as n_users from per_user group by lvl
        """,
    )


@query(
    "sql_any_all",
    """
    SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT) AS total
    FROM orders
    WHERE o_totalprice > ALL (
            SELECT o_totalprice FROM orders WHERE o_custkey = 1)
      AND o_orderdate >= ANY (
            SELECT o_orderdate FROM orders WHERE o_orderpriority = '1-URGENT')
      AND o_orderkey < 5000
    ORDER BY o_orderkey
    """,
)
def sql_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] quantified comparisons `<op> ANY/ALL (subquery)` (SOME =
    ANY). `= ANY`/`!= ALL` reuse the IN/NOT IN hash semi/anti joins;
    every ordered form collapses to ONE scalar aggregate over the
    subquery — (min, max, count, count-nonnull) — broadcast as a
    single row and folded into the outer filter. The 100 TB plan is a
    one-row broadcast + pushed predicate, never the per-outer-row
    nested loop of a naive rewrite; three-valued NULL/empty-set
    outcomes are exact in filter context (pytest-pinned edges)."""
    return _run(
        spark,
        sf_dir,
        """
        select o_orderkey, floor(o_totalprice) as total
        from orders
        where o_totalprice > all (
                select o_totalprice from orders where o_custkey = 1)
          and o_orderdate >= any (
                select o_orderdate from orders where o_orderpriority = '1-URGENT')
          and o_orderkey < 5000
        order by o_orderkey
        """,
    )


@query(
    "sql_q17_corr",
    """
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#4' AND p_size < 15
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem
                        WHERE l_partkey = p_partkey)
    """,
)
def sql_q17_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] TPC-H Q17 in its NATIVE correlated form through the
    frontend — `l_quantity < (SELECT 0.2*avg(l_quantity) ... WHERE
    l_partkey = p_partkey)`. The correlated scalar subquery
    decorrelates into ONE per-partkey aggregate LEFT-joined on the
    correlation key (lower.py _try_correlated_scalar): at 100 TB
    that's a single hash aggregate over lineitem + a hash join,
    instead of re-running the subquery per outer row. avg over
    integer-valued doubles is exact cross-engine; the outer sum uses
    the floor-scaling convention."""
    return _run(
        spark,
        sf_dir,
        """
        select sum(floor(l_extendedprice * 100)) / 100.0 / 7.0 as avg_yearly
        from lineitem
        join part on p_partkey = l_partkey
        where p_brand = 'Brand#4' and p_size < 15
          and l_quantity < (select 0.2 * avg(l_quantity) from lineitem
                            where l_partkey = p_partkey)
        """,
    )


@query(
    "sql_in_corr",
    """
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         WHERE l_orderkey = o_orderkey
                           AND l_quantity >= 49)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_in_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] correlated IN subquery. Rewritten at lowering time to the
    decorrelated EXISTS semi-join — the correlation conjuncts AND the
    IN match (`s = x`) become ONE hash left-semi join condition, so
    the 100 TB plan is a single shuffle-hash/broadcast semi join with
    the inner pre-filter pushed to the lineitem scan (same machinery
    as sql_q4_exists; NOT IN adds the NULL-match disjuncts to keep
    three-valued semantics, pytest-pinned)."""
    return _run(
        spark,
        sf_dir,
        """
        select o_orderpriority, count(*) as n
        from orders
        where o_orderkey in (select l_orderkey from lineitem
                             where l_orderkey = o_orderkey
                               and l_quantity >= 49)
        group by o_orderpriority
        order by o_orderpriority
        """,
    )


@query(
    "sql_range_frame",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ets
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS roll_1h,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ets
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_1h
    FROM (SELECT user_id, event_id, epoch_us(ts) AS ets, value
          FROM events)
    ORDER BY user_id, event_id
    LIMIT 500
    """,
)
def sql_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] value-offset RANGE window frames — the rolling time
    window (sum/count of the trailing hour per user, keyed on epoch
    micros). Deterministic cross-engine because explicit value bounds
    include peer rows symmetrically; the bare-RANGE *default* frame
    stays rejected (its tie behavior is the classic cross-engine
    trap). Plan: one hash shuffle on user_id + per-partition sort —
    WindowExec streams the frame, no per-row rescans, same 100 TB
    contract as the ROWS-frame entries."""
    return _run(
        spark,
        sf_dir,
        """
        select user_id, event_id,
               sum(floor(value * 100)) over (
                 partition by user_id order by ets
                 range between 3600000000 preceding and current row) as roll_1h,
               count(*) over (
                 partition by user_id order by ets
                 range between 3600000000 preceding and current row) as n_1h
        from (select user_id, event_id, toUnixMicros(ts) as ets, value
              from events)
        order by user_id, event_id
        limit 500
        """,
    )


@query(
    "sql_with_fill_interp",
    """
    WITH src AS (
      SELECT n_nationkey * 3 AS k, n_nationkey * 10 AS v, n_nationkey AS w
      FROM nation
    ), series AS (
      SELECT CAST(unnest(generate_series((SELECT MIN(k) FROM src),
                                         (SELECT MAX(k) FROM src)))
                  AS INT) AS k
    ), j AS (
      SELECT s.k, src.v, src.w, src.k IS NOT NULL AS is_real,
             row_number() OVER (ORDER BY s.k) AS rn
      FROM series s LEFT JOIN src ON s.k = src.k
    )
    SELECT k,
      CAST(CASE WHEN is_real THEN v
           ELSE last_value(CASE WHEN is_real THEN v END IGNORE NULLS)
                OVER w1 END AS INT) AS v,
      CAST(CASE WHEN is_real THEN w
           ELSE last_value(CASE WHEN is_real THEN w END IGNORE NULLS) OVER w1
                + 2 * (rn - last_value(CASE WHEN is_real THEN rn END
                                       IGNORE NULLS) OVER w1)
           END AS INT) AS w
    FROM j
    WINDOW w1 AS (ORDER BY k ROWS UNBOUNDED PRECEDING)
    ORDER BY k
    """,
)
def sql_with_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] INTERPOLATE on WITH FILL: generated gap rows carry the
    last real value forward (`v`) or apply ClickHouse's running
    expression once per generated step (`w AS w + 2` → last_real +
    2 × steps, computed CLOSED-FORM by one window expression — no
    iterative per-row evaluation). The fill series itself stays the
    distributed sequence+join plan; interpolation is one
    presentation-layer window over the bounded series, the same scale
    class as the ORDER BY the clause already implies. The DuckDB
    oracle replays the definition with IGNORE NULLS window
    carry-forward."""
    return _run(
        spark,
        sf_dir,
        """
        select k, v, w from (
          select n_nationkey * 3 as k, n_nationkey * 10 as v,
                 n_nationkey as w
          from nation
        ) order by k with fill interpolate (v, w as w + 2)
        """,
    )


@query(
    "sql_sequence_match",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t, event_type FROM events
    ),
    m1 AS (
      SELECT DISTINCT a.user_id FROM e a
      JOIN e b ON a.user_id = b.user_id
      JOIN e c ON a.user_id = c.user_id
      WHERE a.event_type = 'view' AND b.event_type = 'click'
        AND c.event_type = 'purchase'
        AND b.t >= a.t AND b.t - a.t <= 7200000000 AND c.t >= b.t),
    m2 AS (
      SELECT DISTINCT a.user_id FROM e a
      JOIN e b ON a.user_id = b.user_id
      WHERE a.event_type = 'signup' AND b.event_type = 'error'
        AND b.t >= a.t AND b.t - a.t > 1728000000000),
    u AS (SELECT DISTINCT user_id FROM e)
    SELECT CAST(COUNT(m1.user_id) AS BIGINT) AS n_quick_funnel,
           CAST(COUNT(m2.user_id) AS BIGINT) AS n_late_error,
           COUNT(*) AS n_users
    FROM u
    LEFT JOIN m1 ON u.user_id = m1.user_id
    LEFT JOIN m2 ON u.user_id = m2.user_id
    """,
)
def sql_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] sequenceMatch('pattern')(ts, cond...) — ordered event
    chains with per-gap time constraints: `(?1)(?t<=2h)(?2).*(?3)`
    (view→click within 2 h, then a purchase any time later) and
    `(?1)(?t>20d)(?2)` (an error more than 20 days after a signup).
    Exact reachability: the fold keeps per-step MIN and MAX feasible
    match times — a `≤` gap is satisfiable iff satisfiable against
    the latest prior match, a `>` gap iff against the earliest, so
    one (min, max) pair per step decides any single-constraint gap
    exactly (the DuckDB oracle is the literal EXISTS-chain). One hash
    aggregate per user, JVM higher-order fold, bounded per-group
    state — same 100 TB contract as windowFunnel."""
    return _run(
        spark,
        sf_dir,
        """
        with per_user as (
          select user_id,
                 sequenceMatch('(?1)(?t<=7200000000)(?2).*(?3)')(
                   toUnixMicros(ts),
                   event_type = 'view', event_type = 'click',
                   event_type = 'purchase') as quick,
                 sequenceMatch('(?1)(?t>1728000000000)(?2)')(
                   toUnixMicros(ts),
                   event_type = 'signup', event_type = 'error') as late
          from events group by user_id
        )
        select sum(if quick then 1 else 0 end) as n_quick_funnel,
               sum(if late then 1 else 0 end) as n_late_error,
               count() as n_users
        from per_user
        """,
    )


@query(
    "sql_cast",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS a,
           CAST(n_nationkey AS SMALLINT) AS b,
           CAST(n_nationkey AS VARCHAR) AS c,
           CAST(n_nationkey AS DOUBLE) AS d,
           CAST(CAST(n_nationkey AS VARCHAR) || '.5' AS DOUBLE) AS e,
           CAST(n_nationkey % 2 AS BOOLEAN) AS f,
           CAST('2024-01-0' || CAST(n_nationkey % 9 + 1 AS VARCHAR)
                AS DATE) AS g
    FROM nation
    ORDER BY a
    """,
)
def sql_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the full cast surface: CAST(x AS Type), CAST(x, 'Type'),
    the `::` postfix operator, and the ClickHouse to<Type>() family —
    all lower to ONE Spark cast expression under the session's ANSI
    setting (overflow raises, accurateCast-style, rather than CH's
    silent wraparound — the honest strengthening). Dialect type names
    (Int64, UInt32, Float64, String, Date, Array(T)) map through the
    catalog's one type table, unsigned widening included."""
    return _run(
        spark,
        sf_dir,
        """
        select cast(n_nationkey as Int64) as a,
               n_nationkey :: Int16 as b,
               toString(n_nationkey) as c,
               cast(n_nationkey, 'Float64') as d,
               toFloat64(toString(n_nationkey) + '.5') as e,
               toBool(n_nationkey % 2) as f,
               toDate('2024-01-0' + toString(n_nationkey % 9 + 1)) as g
        from nation
        order by a
        """,
    )


@query(
    "sql_ansi_basics",
    """
    SELECT n.n_name,
           COUNT(DISTINCT c.c_mktsegment) AS segs,
           CAST(SUM(DISTINCT c.c_nationkey) AS BIGINT) AS snk,
           EXTRACT(YEAR FROM DATE '2024-03-05') AS y,
           r.r_name || '/' || n.n_name AS path
    FROM region r, nation n, customer c
    WHERE r.r_regionkey = n.n_regionkey
      AND n.n_nationkey = c.c_nationkey
    GROUP BY 1, 5
    ORDER BY 1
    """,
)
def sql_ansi_basics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the ANSI basics batch: comma joins (cross join + WHERE
    equalities — Catalyst rewrites to the same broadcast/hash joins an
    explicit INNER JOIN gives, plan-tested), COUNT/SUM(DISTINCT),
    EXTRACT(unit FROM expr), `||` concatenation, typed DATE literals,
    and positional GROUP BY / ORDER BY ordinals (substituted before
    aggregate hoisting, so an ordinal naming an aggregate item is
    identical to spelling it out)."""
    return _run(
        spark,
        sf_dir,
        """
        select n.n_name,
               count(distinct c.c_mktsegment) as segs,
               sum(distinct c.c_nationkey) as snk,
               extract(year from date '2024-03-05') as y,
               r.r_name || '/' || n.n_name as path
        from region r, nation n, customer c
        where r.r_regionkey = n.n_regionkey
          and n.n_nationkey = c.c_nationkey
        group by 1, 5
        order by 1
        """,
    )


@query(
    "sql_values_inline",
    """
    SELECT v.id, v.tag,
           n.n_name IS DISTINCT FROM v.tag AS differs,
           CASE WHEN v.id = 1 THEN 'one' ELSE 'many' END AS card
    FROM (VALUES (1, 'AFRICA'), (2, 'nope'), (3, NULL)) AS v(id, tag)
    LEFT JOIN nation n ON n.n_nationkey = v.id
    ORDER BY v.tag NULLS FIRST, v.id
    """,
)
def sql_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] inline `(VALUES ...) AS t(cols)` table constructor (a
    literal broadcast-sized frame), `IS [NOT] DISTINCT FROM`
    (null-safe comparison — one JVM eqNullSafe, no CASE dance),
    `if(c, a, b)` function form, and `ORDER BY ... NULLS FIRST/LAST`.
    The DuckDB oracle runs the identical text — all four are ANSI /
    DuckDB spellings too."""
    return _run(
        spark,
        sf_dir,
        """
        select v.id, v.tag,
               n.n_name is distinct from v.tag as differs,
               if(v.id = 1, 'one', 'many') as card
        from (values (1, 'AFRICA'), (2, 'nope'), (3, NULL)) as v(id, tag)
        left join nation n on n.n_nationkey = v.id
        order by v.tag nulls first, v.id
        """,
    )


@query(
    "sql_q22_corr",
    """
    SELECT CAST(c_nationkey % 5 AS VARCHAR) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(FLOOR(c_acctbal * 10000) AS BIGINT)) AS DOUBLE)
             / 10000.0 AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT (CAST(SUM(CAST(FLOOR(c_acctbal * 10000)
                         AS BIGINT)) AS DOUBLE) / 10000.0) / COUNT(c_acctbal)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_totalprice > 300000)
    GROUP BY cntrycode
    """,
)
def sql_q22_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 in its NATIVE SQL form end-to-end through the
    frontend: uncorrelated scalar-subquery threshold (broadcast 1-row)
    + correlated NOT EXISTS (decorrelated left-anti join). The
    DataFrame twin is tpch_q22; this entry certifies the dialect text
    itself produces the same plan shape."""
    return _run(
        spark,
        sf_dir,
        """
        select toString(c_nationkey % 5) as cntrycode,
               count(*) as numcust,
               sum(floor(c_acctbal * 10000)) / 10000.0 as totacctbal
        from customer
        where c_acctbal > (select sum(floor(c_acctbal * 10000)) / 10000.0
                                  / count(c_acctbal)
                           from customer where c_acctbal > 0)
          and not exists (select * from orders
                          where o_custkey = c_custkey
                            and o_totalprice > 300000)
        group by toString(c_nationkey % 5)
        """,
    )


@query(
    "sql_q21_corr",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 1 MONTH
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 1 MONTH)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
    GROUP BY s_name
    """,
)
def sql_q21_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 in its NATIVE SQL form through the frontend: FOUR
    comma-joined tables (Catalyst turns the filter-over-cross into
    hash joins), a correlated EXISTS and a correlated NOT EXISTS whose
    condition mixes TWO outer tables (l1 and orders) — the hardest
    decorrelation shape in the benchmark. DataFrame twin: tpch_q21."""
    return _run(
        spark,
        sf_dir,
        """
        select s_name, count(*) as numwait
        from supplier, lineitem as l1, orders, nation
        where s_suppkey = l1.l_suppkey and o_orderkey = l1.l_orderkey
          and o_orderstatus = 'F'
          and l1.l_shipdate > o_orderdate + interval 1 month
          and exists (select * from lineitem as l2
                      where l2.l_orderkey = l1.l_orderkey
                        and l2.l_suppkey != l1.l_suppkey)
          and not exists (select * from lineitem as l3
                          where l3.l_orderkey = l1.l_orderkey
                            and l3.l_suppkey != l1.l_suppkey
                            and l3.l_shipdate > o_orderdate + interval 1 month)
          and s_nationkey = n_nationkey and n_name = 'NATION_5'
        group by s_name
        """,
    )


@query(
    "sql_dictget",
    """
    SELECT n.n_name,
           r.r_name AS rname,
           COALESCE(r2.r_name, 'missing') AS rname_or
    FROM nation n
    LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
    LEFT JOIN region r2 ON r2.r_regionkey = n.n_nationkey
    ORDER BY n.n_nationkey
    """,
)
def sql_dictget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] dictGet('table', 'value_col', key[, default]) —
    ClickHouse dictionary lookup in expression position. The
    dictionary table (first column = key) is pinned as a LITERAL MAP
    (two array literals + element_at), which is what a CH dictionary
    IS — an in-memory lookup replicated to every node; >1M entries
    raises with join advice. The DuckDB oracle is the LEFT JOIN the
    function replaces."""
    return _run(
        spark,
        sf_dir,
        """
        select n_name,
               dictGet('region', 'r_name', n_regionkey) as rname,
               dictGetOrDefault('region', 'r_name', n_nationkey,
                                'missing') as rname_or
        from nation
        order by n_nationkey
        """,
    )


@query(
    "sql_dictget_broadcast",
    """
    SELECT o.o_orderstatus AS st, COUNT(*) AS n
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY st ORDER BY st
    """,
)
def sql_dictget_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] dictGet in the BROADCAST-JOIN regime: the orders
    dictionary has >10k entries at sf≥0.01, so the lookup lowers to an
    automatic broadcast LEFT join (duplicate-key-guarded — see
    tests/test_advice_r8.py) instead of a literal map whose expression
    tree would serialize to every task. The oracle is the LEFT JOIN
    the function replaces; the probe side streams, only the dictionary
    shuffles (groupBy for the dup guard) then broadcasts once per
    executor."""
    return _run(
        spark,
        sf_dir,
        """
        select dictGet('orders', 'o_orderstatus', l_orderkey) as st,
               count(*) as n
        from lineitem group by 1 order by st
        """,
    )


@query(
    "sql_table_fn_dedup",
    """
    WITH toks AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(string_split_regex(trim(lower(text)),
                     '\\s+')) - 3, 0) + 1),
               i -> array_to_string(string_split_regex(trim(lower(text)),
                     '\\s+')[i:i+3], ' ')) AS sh
      FROM documents),
    sizes AS (SELECT doc_id, len(sh) AS n FROM toks),
    ex0 AS (SELECT doc_id, unnest(sh) AS s FROM toks),
    keep AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 100),
    ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN keep USING (s)),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.id_a, p.id_b,
           p.shared * 1.0 / (sa.n + sb.n - p.shared) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
    WHERE p.shared * 1.0 / (sa.n + sb.n - p.shared) >= 0.6
    ORDER BY id_a, id_b
    """,
)
def sql_table_fn_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the LLM-pipeline operators exposed at the SQL surface:
    jaccardPairs('documents', 'doc_id', 'text', 4, 0.6) runs the
    inverted-index near-dup pair generator as a TABLE FUNCTION — the
    same guarded plan as q_dedup_jaccard (no all-pairs, hot shingles
    cut), now reachable from pure dialect text; a user of the
    reference can dedup without touching the Python API."""
    return _run(
        spark,
        sf_dir,
        """
        select id_a, id_b, jaccard
        from jaccardPairs('documents', 'doc_id', 'text', 4, 0.6, 100)
        order by id_a, id_b
        """,
    )


@query(
    "sql_subquery_values",
    """
    SELECT n_name,
           n_regionkey IN (SELECT r_regionkey FROM region
                           WHERE r_regionkey < 2) AS in_low,
           EXISTS(SELECT 1 FROM region WHERE r_regionkey > 3) AS any_high,
           n_nationkey NOT IN (SELECT r_regionkey FROM region) AS not_rk
    FROM nation
    ORDER BY n_nationkey
    """,
)
def sql_subquery_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] EXISTS / IN (SELECT …) in VALUE position (select list,
    OR-branches) for uncorrelated subqueries: each lowers to ONE
    scalar aggregate — count for EXISTS, (collect_set, count,
    count-nonnull) for IN — broadcast as a single row, with exact
    three-valued IN semantics (FALSE on empty set, NULL when
    unmatched-with-NULLs or NULL probe; pytest-pinned vs DuckDB).
    The correlated forms remain WHERE-conjuncts where they
    decorrelate to joins."""
    return _run(
        spark,
        sf_dir,
        """
        select n_name,
               n_regionkey in (select r_regionkey from region
                               where r_regionkey < 2) as in_low,
               exists(select 1 from region where r_regionkey > 3) as any_high,
               n_nationkey not in (select r_regionkey from region) as not_rk
        from nation
        order by n_nationkey
        """,
    )


@query(
    "sql_fn_tier3",
    """
    SELECT p_partkey,
           array_to_string((string_split(p_name, ' '))[1:2], ' ') AS si,
           CAST((length(p_name) - length(replace(p_name, 'a', '')))
                AS INT) AS cs,
           levenshtein(p_brand, p_type) AS lv,
           replace(p_brand, '#', '-') AS tr,
           format('{}-{}', p_brand, p_size) AS fm,
           CAST(2 * p_size AS BIGINT) AS cum
    FROM part WHERE p_partkey < 200
    ORDER BY p_partkey
    """,
)
def sql_fn_tier3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-3 scalar surface, driver-graded: substringIndex,
    countSubstrings (length arithmetic — codegen, no regex),
    levenshteinDistance, translate, CH-style format('{}') placeholders
    (translated to printf indexes at lowering), and arrayCumSum
    (indexed to a scalar). All JVM built-ins; DuckDB oracle spells
    each via its own equivalents."""
    return _run(
        spark,
        sf_dir,
        """
        select p_partkey,
               substringIndex(p_name, ' ', 2) as si,
               countSubstrings(p_name, 'a') as cs,
               levenshteinDistance(p_brand, p_type) as lv,
               translate(p_brand, '#', '-') as tr,
               format('{}-{}', p_brand, toString(p_size)) as fm,
               arrayCumSum([p_size, p_size])[2] as cum
        from part where p_partkey < 200
        order by p_partkey
        """,
    )


@query(
    "sql_fn_math3",
    """
    SELECT p_partkey,
           gcd(p_partkey, 36) AS g,
           lcm(p_partkey % 7 + 1, 6) AS l,
           CAST(bit_count(p_size) AS INT) AS bc,
           trunc(p_retailprice * 10) / 10 AS tr,
           CAST(2 AS DOUBLE) ** p_size AS e2
    FROM part WHERE p_partkey BETWEEN 1 AND 200
    ORDER BY p_partkey
    """,
)
def sql_fn_math3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] math tier 3 driver-graded: gcd (Euclid as a 64-step JVM
    fold — no UDF), lcm, bitCount, toward-zero truncate (long-cast
    truncation ≡ DuckDB trunc; floor would diverge on negatives —
    pytest-pinned), exp2 (2^n exact in double for n ≤ 52)."""
    return _run(
        spark,
        sf_dir,
        """
        select p_partkey,
               gcd(p_partkey, 36) as g,
               lcm(p_partkey % 7 + 1, 6) as l,
               bitCount(p_size) as bc,
               truncate(p_retailprice, 1) as tr,
               exp2(p_size) as e2
        from part where p_partkey between 1 and 200
        order by p_partkey
        """,
    )


from nutdb_spark.operators.sampling import oracle_split_case as _osc


@query(
    "sql_table_fn_split",
    f"""
    SELECT {_osc('doc_id', {'train': 0.8, 'val': 0.1})} AS split,
           COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY split ORDER BY split NULLS FIRST
    """,
)
def sql_table_fn_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the pipeline split operator at the SQL surface:
    trainTestSplit('documents', 'doc_id', 0.8, 0.1) assigns every row
    its deterministic hash-range split (train/val; the remaining 10%
    holds out as NULL) as a TABLE FUNCTION — closing the SQL-surface
    trio with jaccardPairs and annTopK. Same salted-md5 contract as
    the SAMPLE clause: appends and partition changes never move a row
    across the contamination boundary."""
    return _run(
        spark,
        sf_dir,
        """
        select split, count(*) as n, sum(n_chars) as chars
        from trainTestSplit('documents', 'doc_id', 0.8, 0.1)
        group by split
        order by split nulls first
        """,
    )


from nutdb_spark.operators.text import (
    ENGLISH_STOPWORDS as _SW,
    oracle_fingerprint_md5 as _ofp,
    oracle_lang_id as _olid,
    oracle_stopword_ratio as _oswr,
    oracle_tokenize as _otok,
)

_PW = _otok("text")


@query(
    "sql_pipeline_e2e",
    f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len({_PW}) AS INT) AS n_tok,
             {_oswr(_PW, _SW)} AS swr,
             {_olid(_PW)} AS lid,
             {_ofp('text')} AS fp
      FROM documents
    ), clean AS (
      SELECT * FROM scored WHERE n_tok >= 8
    ), dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) rn
        FROM clean) WHERE rn = 1
    )
    SELECT source, lid, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(FLOOR(swr * 10000) AS BIGINT)) AS BIGINT)
             AS swr_scaled
    FROM dedup GROUP BY source, lid
    ORDER BY source, lid
    """,
)
def sql_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the training-data cleaning pipeline in PURE DIALECT SQL —
    quality scoring (tokenCount / stopwordRatio / languageId), exact
    content dedup (fingerprint + QUALIFY keep-first), per-source
    corpus stats — no Python API anywhere: a user of the reference
    dialect can run the whole q_pipeline_clean shape from SQL text.
    One composed plan: the scan computes all features in one
    projection, dedup is one window on the fingerprint, stats are one
    hash aggregate. DuckDB oracle replays the identical definitions
    via the established oracle twins."""
    return _run(
        spark,
        sf_dir,
        """
        with scored as (
          select doc_id, source,
                 tokenCount(text) as n_tok,
                 stopwordRatio(tokenize(text)) as swr,
                 languageId(text) as lid,
                 fingerprint(text) as fp
          from documents
        ), clean as (
          select * from scored where n_tok >= 8
        ), dedup as (
          select * from clean
          qualify row_number() over (partition by fp order by doc_id) = 1
        )
        select source, lid, count(*) as n_docs,
               sum(n_tok) as total_tokens,
               sum(floor(swr * 10000)) as swr_scaled
        from dedup group by source, lid
        order by source, lid
        """,
    )


@query(
    "sql_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def sql_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] GROUP BY ... WITH CUBE — the rollup's power-set sibling
    (every subset of the keys gets subtotals, 2^k grouping sets in ONE
    Catalyst hash aggregate via Expand; map-side partials preserved).
    Previously pytest-only; this entry makes it driver-graded against
    the DuckDB CUBE oracle."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag, l_linestatus, count(*) as n,
               sum(floor(l_quantity * 10000)) / 10000.0 as qty
        from lineitem
        group by l_returnflag, l_linestatus with cube
        """,
    )


@query(
    "sql_config_vars",
    """
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem WHERE l_quantity > 30
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sql_config_vars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] session config variables end-to-end: SET @min_qty binds a
    value, @min_qty in a later query resolves to a literal at lowering
    time — so the threshold constant-folds into the pushed parquet
    filter exactly as if written inline (the oracle is the inlined
    spelling)."""
    from nutdb_spark.engine import NutEngine

    eng = NutEngine(spark, data_dir=sf_dir)
    eng.sql("SET @min_qty = 30")
    return eng.sql(
        """
        select l_returnflag, count(*) as n
        from lineitem where l_quantity > @min_qty
        group by l_returnflag order by l_returnflag
        """
    )


@query(
    "sql_agg_if",
    """
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) FILTER (l_tax > 0.02) AS u_tax,
           arg_max(l_linestatus, l_orderkey * 100000000 + l_partkey * 10000 + l_suppkey * 10 + l_linenumber)
             FILTER (l_quantity > 25) AS am,
           arg_min(l_orderkey, l_orderkey)
             FILTER (l_linestatus = 'F') AS first_f,
           COALESCE(array_to_string(list_sort(
             list(DISTINCT l_linestatus) FILTER (l_quantity > 48)), ','),
             '') AS st_hi,
           quantile_cont(l_quantity, 0.5)
             FILTER (l_linestatus = 'F') AS med_f,
           count(DISTINCT l_partkey) FILTER (l_discount = 0) AS u_nodisc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sql_agg_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the generated -If combinator family
    (functions/registry.py `_if_combinator`): ClickHouse's
    `<agg>If(args..., cond)` for every row-argument aggregate —
    uniqExactIf, argMaxIf/argMinIf, groupUniqArrayIf, medianIf,
    countUniqueIf here. Lowered by CASE-WHEN-wrapping every argument,
    so the whole family stays ONE map-side-partial JVM hash aggregate
    (standard SQL's FILTER clause, which the DuckDB oracle uses, is
    the same plan). argMax's ordering key is made unique
    (orderkey·10+linenumber) so the pick is tie-free on both
    engines; the empty groupUniqArrayIf case is pinned ('' on both,
    via COALESCE in the oracle — Spark's collect_set gives [] where
    DuckDB's FILTERed list gives NULL)."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag,
               uniqExactIf(l_suppkey, l_tax > 0.02) as u_tax,
               argMaxIf(l_linestatus, l_orderkey * 100000000 + l_partkey * 10000 + l_suppkey * 10 + l_linenumber,
                        l_quantity > 25) as am,
               argMinIf(l_orderkey, l_orderkey,
                        l_linestatus = 'F') as first_f,
               arrayStringConcat(
                 groupUniqArrayIf(l_linestatus, l_quantity > 48), ',')
                 as st_hi,
               medianIf(l_quantity, l_linestatus = 'F') as med_f,
               countUniqueIf(l_partkey, l_discount = 0) as u_nodisc
        from lineitem group by l_returnflag order by l_returnflag
        """,
    )


@query(
    "sql_agg_misc",
    """
    WITH uk AS (
      SELECT l_orderkey, l_quantity, l_linenumber, l_returnflag,
             l_linestatus,
             l_orderkey * 100000000 + l_partkey * 10000
               + l_suppkey * 10 + l_linenumber AS k
      FROM lineitem),
    d AS (
      SELECT l_orderkey,
             l_quantity - lag(l_quantity) OVER (
               PARTITION BY l_orderkey ORDER BY k) AS dq
      FROM uk),
    per_order AS (
      SELECT u.l_orderkey,
             FLOOR(SUM(l_quantity * l_linenumber)
                   / SUM(l_linenumber) * 10000) AS aw,
             FLOOR((arg_max(l_quantity, k) - arg_min(l_quantity, k))
                   / NULLIF(MAX(k) - MIN(k), 0) * 1000000000) AS br,
             CASE WHEN COUNT(DISTINCT l_returnflag) = 1
                  THEN MIN(l_returnflag) END AS sv,
             SUM(l_quantity) AS ss,
             COUNT(l_quantity) AS sc,
             MIN(l_quantity) FILTER (l_linestatus = 'F') AS mf,
             MAX(l_quantity) FILTER (l_linestatus = 'O') AS mo,
             (SELECT SUM(CASE WHEN dq > 0 THEN dq ELSE 0 END)
              FROM d WHERE d.l_orderkey = u.l_orderkey) AS ds
      FROM uk u GROUP BY u.l_orderkey)
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(aw) AS BIGINT) AS s_aw,
           CAST(SUM(br) AS BIGINT) AS s_br,
           COUNT(sv) AS n_single,
           SUM(ss) AS s_sum,
           CAST(SUM(sc) AS BIGINT) AS s_cnt,
           SUM(mf) AS s_mf,
           SUM(mo) AS s_mo,
           SUM(ds) AS s_ds
    FROM per_order
    """,
)
def sql_agg_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] weighted/positional/map aggregate surface: avgWeighted
    (Σxw/Σw in one hash aggregate), boundingRatio (slope between the
    group's leftmost and rightmost points over a tie-free unique x),
    singleValueOrNull, sumCount(x).sum/.count struct field access,
    minMap/maxMap merged per-key maps indexed back to scalars, and
    deltaSumTimestamp (sum of positive consecutive deltas in key
    order — the counter-rate building block; the oracle replays it
    with a lag window). DESIGNED-FOR-SCALE SHAPE: the fold-backed
    aggregates (deltaSumTimestamp, minMap/maxMap) hold O(group rows)
    state, so the entry applies them per ORDER (bounded ≤7 rows per
    group at every sf — the per-entity contract these event-style
    aggregates are for, like windowFunnel per user) and re-aggregates
    the per-order results distributively to a one-row summary;
    sf0.1→sf1 slope stays linear with no hot group. All inputs
    integer-valued so every float op is exactly rounded on both
    engines; floor-scaled where a division leaves the integer grid."""
    return _run(
        spark,
        sf_dir,
        """
        with per_order as (
          select l_orderkey,
                 floor(avgWeighted(l_quantity, l_linenumber) * 10000)
                   as aw,
                 floor(boundingRatio(l_orderkey * 100000000
                         + l_partkey * 10000 + l_suppkey * 10
                         + l_linenumber, l_quantity)
                       * 1000000000) as br,
                 singleValueOrNull(l_returnflag) as sv,
                 sumCount(l_quantity).sum as ss,
                 sumCount(l_quantity).count as sc,
                 minMap([l_linestatus], [l_quantity])['F'] as mf,
                 maxMap([l_linestatus], [l_quantity])['O'] as mo,
                 deltaSumTimestamp(l_quantity,
                   l_orderkey * 100000000 + l_partkey * 10000
                   + l_suppkey * 10 + l_linenumber) as ds
          from lineitem group by l_orderkey)
        select count() as n_orders,
               sum(aw) as s_aw,
               sum(br) as s_br,
               countIf(sv is not null) as n_single,
               sum(ss) as s_sum,
               sum(sc) as s_cnt,
               sum(mf) as s_mf,
               sum(mo) as s_mo,
               sum(ds) as s_ds
        from per_order
        """,
    )


@query(
    "sql_seq_count",
    """
    WITH RECURSIVE ev AS (
      SELECT user_id, epoch_us(ts) AS t, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events),
    nmax AS (SELECT user_id, MAX(rn) AS mx FROM ev GROUP BY user_id),
    walk AS (
      SELECT user_id, 0 AS rn,
             0 AS j1, CAST(NULL AS BIGINT) AS lt1, CAST(0 AS BIGINT) AS c1,
             0 AS j2, CAST(NULL AS BIGINT) AS lt2, CAST(0 AS BIGINT) AS c2
      FROM nmax
      UNION ALL
      SELECT w.user_id, e.rn,
             CASE WHEN w.j1 = 0 AND e.event_type = 'view' THEN 1
                  WHEN w.j1 = 1 AND e.event_type = 'purchase' THEN 0
                  ELSE w.j1 END,
             CASE WHEN w.j1 = 0 AND e.event_type = 'view' THEN e.t
                  WHEN w.j1 = 1 AND e.event_type = 'purchase' THEN NULL
                  ELSE w.lt1 END,
             w.c1 + CASE WHEN w.j1 = 1 AND e.event_type = 'purchase'
                         THEN 1 ELSE 0 END,
             CASE WHEN w.j2 = 0 AND e.event_type = 'view' THEN 1
                  WHEN w.j2 = 1 AND e.event_type = 'purchase'
                       AND e.t - w.lt2 <= 3600000000 THEN 0
                  ELSE w.j2 END,
             CASE WHEN w.j2 = 0 AND e.event_type = 'view' THEN e.t
                  WHEN w.j2 = 1 AND e.event_type = 'purchase'
                       AND e.t - w.lt2 <= 3600000000 THEN NULL
                  ELSE w.lt2 END,
             w.c2 + CASE WHEN w.j2 = 1 AND e.event_type = 'purchase'
                         AND e.t - w.lt2 <= 3600000000 THEN 1 ELSE 0 END
      FROM walk w JOIN ev e
        ON e.user_id = w.user_id AND e.rn = w.rn + 1),
    fin AS (
      SELECT w.user_id, w.c1, w.c2
      FROM walk w JOIN nmax n ON n.user_id = w.user_id AND w.rn = n.mx)
    SELECT CAST(SUM(c1) AS BIGINT) AS total_vp,
           CAST(SUM(c2) AS BIGINT) AS total_vp_1h,
           MAX(c1) AS max_vp,
           COUNT(*) FILTER (c2 > 0) AS users_quick,
           COUNT(*) AS n_users
    FROM fin
    """,
)
def sql_seq_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] sequenceCount('pattern')(ts, cond...) — the COUNT
    sibling of sequenceMatch: how many non-overlapping chains match,
    scanning each group's ts-sorted events once, greedily, restarting
    after each completed chain (ClickHouse semantics, deterministic
    here via the explicit sort). Both the plain `(?1)(?2)` form and a
    time-constrained `(?1)(?t<=1h)(?2)` gap. One O(1)-per-event JVM
    fold per user inside a single hash aggregate — the same bounded
    per-group-state contract as windowFunnel. The DuckDB oracle
    replays the greedy automaton literally with a recursive CTE over
    the row-numbered events (both pattern states walked in one
    recursion)."""
    return _run(
        spark,
        sf_dir,
        """
        with per_user as (
          select user_id,
                 sequenceCount('(?1)(?2)')(
                   toUnixMicros(ts),
                   event_type = 'view', event_type = 'purchase') as c1,
                 sequenceCount('(?1)(?t<=3600000000)(?2)')(
                   toUnixMicros(ts),
                   event_type = 'view', event_type = 'purchase') as c2
          from events group by user_id)
        select sum(c1) as total_vp, sum(c2) as total_vp_1h,
               max(c1) as max_vp,
               countIf(c2 > 0) as users_quick,
               count() as n_users
        from per_user
        """,
    )


@query(
    "sql_dicthas",
    """
    WITH probes AS (
      SELECT (l.l_orderkey IN (SELECT o_orderkey FROM orders)) AS h_ord,
             (-l.l_orderkey IN (SELECT o_orderkey FROM orders)) AS h_neg,
             ((l.l_suppkey % 8) IN (SELECT r_regionkey FROM region))
               AS h_reg
      FROM lineitem l)
    SELECT COUNT(*) FILTER (h_ord) AS n_hit,
           COUNT(*) FILTER (h_neg) AS n_miss,
           COUNT(*) FILTER (h_reg) AS n_reg,
           COUNT(*) AS n
    FROM probes
    """,
)
def sql_dicthas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] dictHas('table', key) — dictionary membership, riding
    the dictGet machinery with the key column probed as its own
    value (frontend/lower.py `_dict_has`), so it inherits BOTH
    regimes exercised here at sf0.01: region (5 rows → literal map
    folded into the expression, zero joins) and orders (15k rows →
    automatic duplicate-key-guarded broadcast LEFT join; the probe
    side streams). The oracle is the IN-subquery (hash semi join)
    spelling the function replaces."""
    return _run(
        spark,
        sf_dir,
        """
        with probes as (
          select dictHas('orders', l_orderkey) as h_ord,
                 dictHas('orders', -l_orderkey) as h_neg,
                 dictHas('region', l_suppkey % 8) as h_reg
          from lineitem)
        select countIf(h_ord) as n_hit,
               countIf(h_neg) as n_miss,
               countIf(h_reg) as n_reg,
               count() as n
        from probes
        """,
    )


@query(
    "sql_fn_tier4",
    """
    SELECT p_partkey,
           (contains(p_name, 'al') OR contains(p_name, 'zz')) AS ms,
           CASE WHEN strpos(p_name, 'a') = 0 THEN p_name
                ELSE substr(p_name, 1, strpos(p_name, 'a') - 1) || '@'
                     || substr(p_name, strpos(p_name, 'a') + 1) END AS ro,
           array_to_string(regexp_extract_all(p_name, '[aeiou]+'), '')
             AS ev,
           trim('  ' || p_brand || ' ') AS tb,
           array_to_string(list_filter(
             string_split_regex(p_brand, '[^A-Za-z]+'), x -> x <> ''),
             '.') AS al,
           bin(p_size) AS bn,
           printf('%.2f MiB', CAST(p_partkey + 1 AS DOUBLE)) AS fs,
           CAST(1 << (p_size % 20) AS BIGINT) AS e2,
           CAST(power(10, p_size % 15) AS BIGINT) AS e10,
           CAST(1 << (length(ltrim(bin(p_size), '0')) - 1) AS BIGINT)
             AS r2,
           CAST(COALESCE(list_max(
             list_filter([10, 25, 40], x -> x <= p_size)), 10) AS INT)
             AS rd,
           CAST((p_size >> 1) & 1 AS INT) AS bt,
           CAST(p_size << 3 AS BIGINT) AS bsl,
           CAST(p_size & 12 AS BIGINT) AS ba,
           CAST(p_size | 1 AS BIGINT) AS bo,
           CAST(xor(p_size, 5) AS BIGINT) AS bx,
           CAST(~p_size AS BIGINT) AS bnn,
           p_size + 2 AS pl, p_size - 2 AS mi, p_size * 3 AS mu,
           -p_size AS ng,
           date_trunc('quarter',
             date '2024-01-01' + INTERVAL (p_size * 7) DAY)::DATE AS q,
           CAST(weekofyear(
             date '2024-01-01' + INTERVAL (p_size) DAY) AS INT) AS iw,
           (date '2024-12-15' - INTERVAL (p_size % 12) MONTH)::DATE
             AS dsb,
           p_brand AS te
    FROM part WHERE p_partkey < 150
    ORDER BY p_partkey
    """,
)
def sql_fn_tier4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-4 scalar surface, driver-graded: multiSearchAny,
    replaceOne (locate + splice, no regex), extractAll (lowering-time
    capture-group sniff on the literal pattern), trimBoth,
    alphaTokens, bin, formatReadableSize (CH's 1024-ladder %.2f),
    exact intExp2/intExp10 (shift / integer fold — pow would round
    past 2^53), roundToExp2 (binary-string length, no float log2 at
    the boundaries), roundDown, the bitTest/bitShift/bitAnd...
    function spellings, plus/minus/multiply/negate, date helpers
    (toStartOfQuarter, toISOWeek, dateAdd/dateSub with raw unit
    literal), and tuple/tupleElement (struct _1.._n fields). All JVM
    codegen; the DuckDB oracle spells each via its own built-ins."""
    return _run(
        spark,
        sf_dir,
        """
        select p_partkey,
               multiSearchAny(p_name, ['al', 'zz']) as ms,
               replaceOne(p_name, 'a', '@') as ro,
               arrayStringConcat(extractAll(p_name, '[aeiou]+'), '') as ev,
               trimBoth('  ' + p_brand + ' ') as tb,
               arrayStringConcat(alphaTokens(p_brand), '.') as al,
               bin(p_size) as bn,
               formatReadableSize((p_partkey + 1) * 1048576) as fs,
               intExp2(p_size % 20) as e2,
               intExp10(p_size % 15) as e10,
               roundToExp2(p_size) as r2,
               roundDown(p_size, [10, 25, 40]) as rd,
               bitTest(p_size, 1) as bt,
               bitShiftLeft(p_size, 3) as bsl,
               bitAnd(p_size, 12) as ba,
               bitOr(p_size, 1) as bo,
               bitXor(p_size, 5) as bx,
               bitNot(p_size) as bnn,
               plus(p_size, 2) as pl,
               minus(p_size, 2) as mi,
               multiply(p_size, 3) as mu,
               negate(p_size) as ng,
               toStartOfQuarter(dateAdd('day', p_size * 7,
                                        toDate('2024-01-01'))) as q,
               toISOWeek(dateAdd('day', p_size,
                                 toDate('2024-01-01'))) as iw,
               dateSub('month', p_size % 12, toDate('2024-12-15')) as dsb,
               tupleElement(tuple(p_size, p_brand), 2) as te
        from part where p_partkey < 150
        order by p_partkey
        """,
    )


@query(
    "sql_group_array_sorted",
    """
    SELECT l_returnflag,
           CAST(CASE WHEN GROUPING(l_returnflag) = 1 THEN 1 ELSE 0 END
                AS INT) AS g,
           array_to_string(list_sort(list(l_suppkey))[1:5], ',') AS sm
    FROM lineitem GROUP BY ROLLUP(l_returnflag)
    ORDER BY g, l_returnflag
    """,
)
def sql_group_array_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] groupArraySorted(n)(x) — the n smallest values ascending
    with duplicates, exercised under ROLLUP so the grand-total row
    rides the shared (keys, value) pre-aggregate: counts re-sum per
    grouping set over the distinct-value frame, a running-count
    window keeps ≤ n rows per set, array_repeat rebuilds duplicate
    elements — bounded state even for the all-rows subtotal (the
    same contract as topK's rewrite, frontend/lower.py
    `_topk_side`). Output stringified for the scalar-only driver
    compare; DuckDB oracle is list_sort + slice."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag,
               grouping(l_returnflag) as g,
               arrayStringConcat(
                 arrayMap(x -> toString(x), groupArraySorted(5)(l_suppkey)),
                 ',') as sm
        from lineitem group by rollup(l_returnflag)
        order by g, l_returnflag
        """,
    )


@query(
    "sql_quantile_exact",
    """
    SELECT l_returnflag,
           CAST(GROUPING(l_returnflag) AS INT) AS g,
           list_sort(list(l_quantity))[
             CAST(floor(0.5 * (count(l_quantity) - 1)) AS INT) + 1]
             AS ql,
           list_sort(list(l_quantity))[
             CAST(ceil(0.5 * (count(l_quantity) - 1)) AS INT) + 1]
             AS qh,
           list_sort(list(l_suppkey))[
             CAST(floor(0.9 * (count(l_suppkey) - 1)) AS INT) + 1]
             AS q9
    FROM lineitem GROUP BY ROLLUP(l_returnflag)
    ORDER BY g, l_returnflag
    """,
)
def sql_quantile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] quantileExactLow/High(level)(x) — EXACT order statistics
    (sorted-index floor/ceil of level·(n−1)), exercised under ROLLUP.
    Lowered through the shared (keys, value, cnt) pre-aggregate: a
    running count over the value-sorted HISTOGRAM locates the index,
    so per-task state is O(distinct values) — never the O(group rows)
    buffer Spark's own percentile keeps — and the histogram counts
    re-sum per grouping set for the grand-total row (frontend/
    lower.py `_topk_side` quantile branch). The DuckDB oracle indexes
    the sorted list directly."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag,
               grouping(l_returnflag) as g,
               quantileExactLow(0.5)(l_quantity) as ql,
               quantileExactHigh(0.5)(l_quantity) as qh,
               quantileExact(0.9)(l_suppkey) as q9
        from lineitem group by rollup(l_returnflag)
        order by g, l_returnflag
        """,
    )


@query(
    "sql_fn_url",
    r"""
    WITH urls AS (
      SELECT p_partkey, p_size,
        CASE p_partkey % 4
          WHEN 0 THEN 'https://www.' || replace(lower(p_brand), '#', '')
            || '.example.com.tr:8080/cat/' || p_partkey || '/view?size='
            || p_size || '&c=' || replace(p_type, ' ', '+')
            || '#frag'
          WHEN 1 THEN '//cdn.' || replace(lower(p_brand), '#', '')
            || '.site.io/img/' || p_partkey || '.png?w=' || p_size
          WHEN 2 THEN 'http://user@' || replace(lower(p_brand), '#', '')
            || '.org/p/' || p_partkey
          ELSE 'files/' || p_partkey || '/readme.txt?x=1%20y'
        END AS u
      FROM part WHERE p_partkey < 200),
    hosts AS (
      SELECT *,
        regexp_extract(u,
          '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//(?:[^/?#@]*@)?([^/?#:]+)',
          1) AS dom0
      FROM urls),
    lbl AS (
      SELECT *,
        string_split(regexp_replace(dom0, '^www\.', ''), '.') AS ls
      FROM hosts)
    SELECT p_partkey,
      regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*):', 1) AS proto,
      dom0 AS dom,
      regexp_replace(dom0, '^www\.', '') AS dww,
      regexp_extract(u, '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]*)',
        1) AS nl,
      coalesce(try_cast(regexp_extract(u,
        '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//(?:[^/?#@]*@)?[^/?#:]*:(\d+)',
        1) AS INT), 0) AS prt,
      regexp_extract(u,
        '^(?:(?:[A-Za-z][A-Za-z0-9+.-]*:)?//[^/?#]*)?([^?#]*)',
        1) AS pth,
      regexp_extract(u,
        '^(?:(?:[A-Za-z][A-Za-z0-9+.-]*:)?//[^/?#]*)?(.*)', 1) AS pf,
      regexp_extract(u, '\?([^#]*)', 1) AS qs,
      regexp_extract(u, '#(.*)$', 1) AS fr,
      regexp_extract(u, '\?(.*)$', 1) AS qsf,
      CASE WHEN len(string_split(dom0, '.')) >= 2
           THEN string_split(dom0, '.')[-1] ELSE '' END AS tld,
      CASE WHEN len(ls) >= 3 THEN (CASE WHEN ls[-2] IN
             ('com','net','org','co','gov','edu','mil','biz')
             THEN ls[-3] ELSE ls[-2] END)
           WHEN len(ls) = 2 THEN ls[-2] ELSE '' END AS fss,
      CASE WHEN len(ls) >= 3 AND ls[-2] IN
             ('com','net','org','co','gov','edu','mil','biz')
           THEN array_to_string(ls[-3:], '.')
           WHEN len(ls) >= 2 THEN array_to_string(ls[-2:], '.')
           ELSE '' END AS cfss,
      regexp_replace(u,
        '^((?:[A-Za-z][A-Za-z0-9+.-]*:)?//)www\.', '\1') AS cw,
      regexp_replace(u, '\?[^#]*', '') AS cq,
      regexp_replace(u, '#.*$', '') AS cf,
      regexp_replace(u, '[?#].*$', '') AS cqf,
      regexp_extract(u, '[?&]size=([^&#]*)', 1) AS xp,
      coalesce(array_to_string(
        regexp_extract_all(u, '[?&]([^=&#]+)=', 1), ','), '') AS pn,
      CAST(len(regexp_extract_all(u, '[?&]([^&#]+)', 1)) AS INT)
        AS npr,
      'a b/' || p_size AS dcc,
      'a+b%2F' || p_size AS enc
    FROM lbl ORDER BY p_partkey
    """,
)
def sql_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the URL function family over fixture-synthesized URLs
    (four shapes: full https with www/port/query/fragment,
    scheme-relative CDN, userinfo@host, bare relative path):
    protocol/domain/domainWithoutWWW/netloc/port/path/pathFull/
    queryString/fragment/queryStringAndFragment, the public-suffix
    trio (topLevelDomain, firstSignificantSubdomain,
    cutToFirstSignificantSubdomain), the four cutters, URL-parameter
    extraction (scalar + names + pairs), and percent-coding. All
    anchored JVM regexps (functions/registry.py URL section) — the
    DuckDB oracle mirrors each with the same RE2-compatible regex.

    Scale: every function is a stateless projection over the scan —
    no shuffle, no UDF; at 100 TB this is the cheap map stage feeding
    domain-cap sampling (q_sample_domain_cap) and URL dedup."""
    return _run(
        spark,
        sf_dir,
        """
        with urls as (
          select p_partkey, p_size,
                 multiIf(
                   p_partkey % 4 = 0,
                     'https://www.' + replaceAll(lower(p_brand), '#', '')
                     + '.example.com.tr:8080/cat/' + toString(p_partkey)
                     + '/view?size=' + toString(p_size) + '&c='
                     + encodeURLComponent(p_type) + '#frag',
                   p_partkey % 4 = 1,
                     '//cdn.' + replaceAll(lower(p_brand), '#', '')
                     + '.site.io/img/' + toString(p_partkey) + '.png?w='
                     + toString(p_size),
                   p_partkey % 4 = 2,
                     'http://user@' + replaceAll(lower(p_brand), '#', '')
                     + '.org/p/' + toString(p_partkey),
                   'files/' + toString(p_partkey) + '/readme.txt?x=1%20y'
                 ) as u
          from part where p_partkey < 200)
        select p_partkey,
               protocol(u) as proto,
               domain(u) as dom,
               domainWithoutWWW(u) as dww,
               netloc(u) as nl,
               port(u) as prt,
               path(u) as pth,
               pathFull(u) as pf,
               queryString(u) as qs,
               fragment(u) as fr,
               queryStringAndFragment(u) as qsf,
               topLevelDomain(u) as tld,
               firstSignificantSubdomain(u) as fss,
               cutToFirstSignificantSubdomain(u) as cfss,
               cutWWW(u) as cw,
               cutQueryString(u) as cq,
               cutFragment(u) as cf,
               cutQueryStringAndFragment(u) as cqf,
               extractURLParameter(u, 'size') as xp,
               arrayStringConcat(extractURLParameterNames(u), ',') as pn,
               arrayLength(extractURLParameters(u)) as npr,
               decodeURLComponent('a%20b%2F' + toString(p_size)) as dcc,
               encodeURLComponent('a b/' + toString(p_size)) as enc
        from urls
        order by p_partkey
        """,
    )


@query(
    "sql_agg_combinators",
    """
    WITH t AS (
      SELECT l_returnflag rf, l_linenumber ln,
             l_suppkey % 5 m5, l_suppkey % 7 m7
      FROM lineitem),
    u AS (SELECT rf, m5 AS v FROM t UNION ALL SELECT rf, m7 FROM t),
    ucnt AS (SELECT rf, CAST(count(DISTINCT v) AS BIGINT) ua
             FROM u GROUP BY rf),
    g2 AS (SELECT rf, m5 % 3 AS v FROM t
           UNION ALL SELECT rf, 2 FROM t),
    gl AS (SELECT rf,
                  array_to_string(list_sort(list(DISTINCT v)), ',') gua
           FROM g2 GROUP BY rf),
    base AS (
      SELECT rf,
        CAST(sum(ln + m5) AS BIGINT) sa,
        CAST(min(least(ln, m5)) AS BIGINT) mna,
        CAST(max(greatest(ln, m5)) AS BIGINT) mxa,
        CAST(2 * count(*) AS BIGINT) ca,
        CAST(sum(ln + m5) AS DOUBLE) / (2 * count(*)) aa,
        CAST(sum(DISTINCT ln) AS BIGINT) sd,
        CAST(count(DISTINCT ln) AS BIGINT) cd,
        CAST(sum(DISTINCT ln) AS DOUBLE) / count(DISTINCT ln) ad,
        CAST(min(ln) AS BIGINT) mnd,
        CAST(max(ln) AS BIGINT) mxd,
        array_to_string(list_sort(list(DISTINCT m5)), ',') gad,
        CAST(sum(ln) AS BIGINT) sn,
        CAST(sum(ln) FILTER (WHERE m5 = 2) AS BIGINT) snh,
        CAST(NULL AS BIGINT) snm,
        CAST(coalesce(sum(ln) FILTER (WHERE m5 = 9), 0) AS BIGINT) sdm,
        CAST(NULL AS BIGINT) cnm,
        CAST(count(DISTINCT m5) FILTER (WHERE m7 = 3) AS BIGINT) udi,
        CAST(NULL AS BIGINT) anm,
        CAST(sum(ln + m5) FILTER (WHERE m5 = 2) AS BIGINT) sai,
        CAST(coalesce(2 * count(*) FILTER (WHERE m5 = 2), 0)
             AS BIGINT) cai
      FROM t GROUP BY rf)
    SELECT base.*, ucnt.ua, gl.gua
    FROM base JOIN ucnt USING (rf) JOIN gl USING (rf)
    ORDER BY rf
    """,
)
def sql_agg_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the -Array / -Distinct / -OrNull / -OrDefault aggregate
    combinator families (plus -If compositions), generated over the
    registered bases (functions/registry.py combinator section).
    Every name rewrites to expressions inside ONE JVM hash aggregate:
    -Array reduces each array row-side (element-typed fold) before
    the group fold, -OrNull/-OrDefault guard with an agg-over-agg
    CASE that Spark plans as a second accumulator in the same
    aggregate — no extra shuffle, map-side partials intact.
    uniqExactArray's state is the set of distinct normalized arrays
    (bounded by distinct values, not rows). The oracle spells each as
    standard SQL (FILTER clauses, DISTINCT aggregates, an exploded
    UNION for the cross-array distinct count)."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select l_returnflag as rf, l_linenumber as ln,
                 l_suppkey % 5 as m5, l_suppkey % 7 as m7,
                 [l_linenumber, l_suppkey % 5] as arr
          from lineitem)
        select rf,
               sumArray(arr) as sa,
               minArray(arr) as mna,
               maxArray(arr) as mxa,
               countArray(arr) as ca,
               avgArray(arr) as aa,
               sumDistinct(ln) as sd,
               countDistinct(ln) as cd,
               avgDistinct(ln) as ad,
               minDistinct(ln) as mnd,
               maxDistinct(ln) as mxd,
               arrayStringConcat(
                 arrayMap(x -> toString(x), groupArrayDistinct(m5)),
                 ',') as gad,
               sumOrNull(ln) as sn,
               sumOrNullIf(ln, m5 = 2) as snh,
               sumOrNullIf(ln, m5 = 9) as snm,
               sumOrDefaultIf(ln, m5 = 9) as sdm,
               countOrNullIf(ln, m5 = 9) as cnm,
               uniqExactOrDefaultIf(m5, m7 = 3) as udi,
               anyOrNullIf(ln, m5 = 9) as anm,
               sumArrayIf(arr, m5 = 2) as sai,
               countArrayIf(arr, m5 = 2) as cai,
               uniqExactArray([m5, m7]) as ua,
               arrayStringConcat(
                 arrayMap(x -> toString(x),
                          groupUniqArrayArray([m5 % 3, 2])),
                 ',') as gua
        from t group by rf order by rf
        """,
    )


@query(
    "sql_agg_stats2",
    """
    WITH t AS (
      SELECT user_id,
             event_id % 100 AS x,
             event_id % 31 + 2 * (event_id % 100) AS y,
             event_id % 50 AS rx,
             value AS ry,
             epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + event_id % 97 + 1 AS e
      FROM events),
    slr AS (
      SELECT user_id, count(*)::DOUBLE AS n,
             sum(x)::DOUBLE sx, sum(y)::DOUBLE sy,
             sum(x*y)::DOUBLE sxy, sum(x*x)::DOUBLE sxx
      FROM t GROUP BY user_id),
    slr2 AS (
      SELECT user_id,
        CASE WHEN n*sxx - sx*sx = 0 THEN NULL
             ELSE (n*sxy - sx*sy) / (n*sxx - sx*sx) END AS slope,
        CASE WHEN n = 0 THEN NULL
             ELSE (sy - CASE WHEN n*sxx - sx*sx = 0 THEN NULL
                   ELSE (n*sxy - sx*sy) / (n*sxx - sx*sx) END * sx) / n
             END AS intercept,
        CAST(n AS BIGINT) AS n
      FROM slr),
    r AS (
      SELECT user_id,
        2*rank() OVER (PARTITION BY user_id ORDER BY rx)
          + count(*) OVER (PARTITION BY user_id, rx) - 1 AS du,
        2*rank() OVER (PARTITION BY user_id ORDER BY ry)
          + count(*) OVER (PARTITION BY user_id, ry) - 1 AS dv
      FROM t),
    rcs AS (
      SELECT user_id, count(*)::DOUBLE n, sum(du)::DOUBLE su,
             sum(dv)::DOUBLE sv, sum(du*dv)::DOUBLE suv,
             sum(du*du)::DOUBLE suu, sum(dv*dv)::DOUBLE svv
      FROM r GROUP BY user_id),
    rc2 AS (
      SELECT user_id,
        CASE WHEN sqrt(n*suu - su*su) * sqrt(n*svv - sv*sv) = 0
             THEN NULL
             ELSE (n*suv - su*sv)
                  / (sqrt(n*suu - su*su) * sqrt(n*svv - sv*sv))
        END AS rc
      FROM rcs),
    w AS (
      SELECT user_id, s, e,
        max(e) OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS pm
      FROM t),
    ils AS (
      SELECT user_id,
        CAST(sum(greatest(0, e - greatest(s, coalesce(pm, s))))
             AS BIGINT) AS ils
      FROM w GROUP BY user_id),
    b AS (SELECT user_id, s AS p, 1 AS d FROM t
          UNION ALL SELECT user_id, e, -1 FROM t),
    c AS (SELECT user_id, p, d,
            sum(d) OVER (PARTITION BY user_id ORDER BY p, d
                         ROWS UNBOUNDED PRECEDING) AS cur
          FROM b),
    c2 AS (SELECT *, max(cur) OVER (PARTITION BY user_id) AS mx
           FROM c),
    mi AS (SELECT user_id, CAST(max(cur) AS BIGINT) AS mi,
                  CAST(min(p) FILTER (WHERE cur = mx) AS BIGINT) AS mip
           FROM c2 GROUP BY user_id)
    SELECT slr2.user_id, slope, intercept, rc, ils.ils, mi.mi, mi.mip,
           n
    FROM slr2 JOIN rc2 USING (user_id) JOIN ils USING (user_id)
         JOIN mi USING (user_id)
    ORDER BY user_id
    """,
)
def sql_agg_stats2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] statistical / interval aggregates, exact-arithmetic by
    design (functions/registry.py stats section):
    simpleLinearRegression (five integer sums + exactly-rounded
    division, one hash aggregate), rankCorr (Spearman with average
    ties via DOUBLED ranks — integers, so every sum is exact and the
    sqrt/divide finisher is bit-identical to the SQL-window oracle),
    intervalLengthSum (union length of [s,e) — sorted fold, O(1) per
    interval), maxIntersections[Position] (boundary sweep, −1 before
    +1 at equal positions = half-open semantics). Per-user groups
    keep the fold-backed states entity-bounded (the suite
    convention). The oracle spells each in portable SQL: classical
    regression sums, 2·rank()+ties−1 windows, running-max gaps, and
    a cumulative boundary sweep."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select user_id,
                 event_id % 100 as x,
                 event_id % 31 + 2 * (event_id % 100) as y,
                 event_id % 50 as rx,
                 value as ry,
                 intDiv(toUnixMicros(ts), 1000000) as s,
                 intDiv(toUnixMicros(ts), 1000000)
                   + event_id % 97 + 1 as e
          from events)
        select user_id,
               tupleElement(simpleLinearRegression(x, y), 'k')
                 as slope,
               tupleElement(simpleLinearRegression(x, y), 'b')
                 as intercept,
               rankCorr(rx, ry) as rc,
               intervalLengthSum(s, e) as ils,
               maxIntersections(s, e) as mi,
               maxIntersectionsPosition(s, e) as mip,
               count() as n
        from t group by user_id order by user_id
        """,
    )


@query(
    "sql_window_fns2",
    """
    SELECT event_id,
      nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts)
        AS nv,
      lag(event_id % 10) OVER (PARTITION BY user_id ORDER BY ts)
        AS lg,
      lead(event_id % 10, 2, -1) OVER (PARTITION BY user_id
                                       ORDER BY ts) AS ld,
      ntile(4) OVER (PARTITION BY user_id ORDER BY ts) AS nt,
      percent_rank() OVER (PARTITION BY user_id ORDER BY event_id)
        AS pr,
      cume_dist() OVER (PARTITION BY user_id ORDER BY event_id) AS cd
    FROM events WHERE user_id < 30
    ORDER BY event_id
    """,
)
def sql_window_fns2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] second window-function batch: nth_value (standard
    default frame — NULL until n peers seen), the ClickHouse
    lagInFrame/leadInFrame spellings (offset + default), ntile,
    percent_rank, cume_dist. One Exchange on user_id serves all six
    (same partition key); the rank fractions are exact divisions.
    Events ts is unique per fixture, so every ordering is total."""
    return _run(
        spark,
        sf_dir,
        """
        select event_id,
               nth_value(value, 2)
                 over (partition by user_id order by ts) as nv,
               lagInFrame(event_id % 10)
                 over (partition by user_id order by ts) as lg,
               leadInFrame(event_id % 10, 2, -1)
                 over (partition by user_id order by ts) as ld,
               ntile(4)
                 over (partition by user_id order by ts) as nt,
               percent_rank()
                 over (partition by user_id order by event_id) as pr,
               cume_dist()
                 over (partition by user_id order by event_id) as cd
        from events where user_id < 30
        order by event_id
        """,
    )


@query(
    "sql_fn_tier5",
    r"""
    WITH t AS (
      SELECT event_id, ts, event_type, props,
             make_date(2020 + event_id % 5, 1 + event_id % 12,
                       1 + event_id % 28) AS d,
             event_id % 7 AS p, event_id % 11 - 5 AS q
      FROM events WHERE user_id < 10)
    SELECT event_id,
      make_timestamp((event_id % 100000 + 1700000000) * 1000000)
        AS fu,
      d AS md,
      last_day(d) AS ld,
      monthname(d) AS mn,
      CAST(d - DATE '1970-01-01' AS INT) AS rd,
      CAST(d + (event_id % 3) * 3 * INTERVAL 1 MONTH AS DATE) AS aq,
      CAST(d - 3 * INTERVAL 1 MONTH AS DATE) AS sq,
      CAST(d - DATE '1858-11-17' AS INT) AS mjd,
      DATE '1858-11-17' + CAST(event_id % 60000 AS INT) AS fmjd,
      make_timestamp(epoch_us(ts) // 1000000 // 1800 * 1800
                     * 1000000) AS tslot,
      make_timestamp(epoch_us(ts) // 1000000 // 300 * 300
                     * 1000000) AS t5,
      CAST(epoch_us(ts) // 1000000 // 3600 AS BIGINT) AS rh,
      CAST(epoch_us(ts) // 1000000 // 60 AS BIGINT) AS rm,
      CAST(1 AS BOOLEAN) AS iv,
      event_type AS tv,
      reverse(event_type) AS rev,
      left(event_type, 3) AS lu,
      CAST(strpos(event_type, 'i') AS BIGINT) AS pu,
      CAST(len(regexp_extract_all(props, '\d', 0)) AS INT) AS cm,
      coalesce(array_to_string(
        list_filter([1, 2, 4, 8, 16, 32, 64, 128],
                    x -> (event_id % 200 & x) != 0), ','), '') AS bm,
      CAST(p * 3 + q * 1 + 3 * 2 AS DOUBLE) AS dot,
      CAST(abs(p) + abs(q) + 3 AS DOUBLE) AS l1,
      sqrt(CAST(p * p + q * q + 9 AS DOUBLE)) AS l2,
      CAST(abs(p - 3) + abs(q - 1) + abs(3 - 2) AS DOUBLE) AS l1d,
      sqrt(CAST((p - 3) * (p - 3) + (q - 1) * (q - 1) + 1
                AS DOUBLE)) AS l2d,
      CAST(greatest(abs(p - 3), abs(q - 1), 1) AS DOUBLE) AS linf,
      1 - CAST(p * 3 + q + 6 AS DOUBLE)
          / (sqrt(CAST(p * p + q * q + 9 AS DOUBLE))
             * sqrt(CAST(14 AS DOUBLE))) AS cosd,
      'a,b,c' AS muk,
      (event_id % 3) || ',9,' || (event_id % 5) AS muv,
      CASE WHEN event_id % 3 = 2 THEN 'a,b' ELSE 'b' END AS mfk
    FROM t ORDER BY event_id
    """,
)
def sql_fn_tier5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-5 scalar surface, oracle-safe members: date/time
    helpers (fromUnixTimestamp, makeDate, toLastDayOfMonth,
    monthName, toRelativeDay/Hour/MinuteNum, add/subtractQuarters,
    toModifiedJulianDay/fromModifiedJulianDay, timeSlot + the
    toStartOfNMinutes ladder), UTF-8 names (isValidUTF8, toValidUTF8,
    reverseUTF8, leftUTF8, positionUTF8), countMatches (raw-arg
    regex), bitmaskToList, map combinators (mapUpdate with
    m2-wins-on-collision, mapFilter with a (k,v) lambda), and the
    vector family (dotProduct, L1/L2/LinfNorm, L1/L2/LinfDistance,
    cosineDistance) over integer-valued arrays — F.aggregate is a
    sequential in-order fold, so int folds are exact and the sqrt/
    divide finishers are bit-identical to the oracle's spelled-out
    arithmetic. hypot/asinh/acosh/atanh/cot are registered but
    pytest-pinned (libm results differ cross-engine at the ulp).
    Everything is a stateless JVM projection — zero shuffles before
    the ORDER BY."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, ts, event_type, props,
                 makeDate(2020 + event_id % 5, 1 + event_id % 12,
                          1 + event_id % 28) as d,
                 event_id % 7 as p, event_id % 11 - 5 as q,
                 [event_id % 7, event_id % 11 - 5, 3] as va,
                 [3, 1, 2] as vb
          from events where user_id < 10)
        select event_id,
               fromUnixTimestamp(event_id % 100000 + 1700000000) as fu,
               d as md,
               toLastDayOfMonth(d) as ld,
               monthName(d) as mn,
               toRelativeDayNum(d) as rd,
               addQuarters(d, event_id % 3) as aq,
               subtractQuarters(d, 1) as sq,
               toModifiedJulianDay(d) as mjd,
               fromModifiedJulianDay(event_id % 60000) as fmjd,
               timeSlot(ts) as tslot,
               toStartOfFiveMinutes(ts) as t5,
               toRelativeHourNum(ts) as rh,
               toRelativeMinuteNum(ts) as rm,
               isValidUTF8(event_type) as iv,
               toValidUTF8(event_type) as tv,
               reverseUTF8(event_type) as rev,
               leftUTF8(event_type, 3) as lu,
               positionUTF8(event_type, 'i') as pu,
               countMatches(props, '\\\\d') as cm,
               bitmaskToList(event_id % 200) as bm,
               dotProduct(va, vb) as dot,
               L1Norm(va) as l1,
               L2Norm(va) as l2,
               L1Distance(va, vb) as l1d,
               L2Distance(va, vb) as l2d,
               LinfDistance(va, vb) as linf,
               cosineDistance(va, vb) as cosd,
               arrayStringConcat(mapKeys(mapUpdate(
                 mapFromArrays(['a', 'b'], [event_id % 3, 0]),
                 mapFromArrays(['b', 'c'], [9, event_id % 5]))), ',')
                 as muk,
               arrayStringConcat(arrayMap(x -> toString(x),
                 mapValues(mapUpdate(
                   mapFromArrays(['a', 'b'], [event_id % 3, 0]),
                   mapFromArrays(['b', 'c'], [9, event_id % 5])))),
                 ',') as muv,
               arrayStringConcat(mapKeys(mapFilter(
                 (k, v) -> v > 1,
                 mapFromArrays(['a', 'b'], [event_id % 3, 5]))), ',')
                 as mfk
        from t order by event_id
        """,
    )


@query(
    "sql_agg_state_merge",
    """
    SELECT l_returnflag,
           CAST(sum(l_quantity) AS DOUBLE) AS q,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(l_suppkey) AS BIGINT) AS mn,
           CAST(max(l_partkey) AS BIGINT) AS mx,
           CAST(sum(l_linenumber) AS DOUBLE) / count(l_linenumber)
             AS av
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sql_agg_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the -State / -Merge combinator pair: fine-grain states
    per (returnflag, linestatus), re-merged per returnflag in an
    outer aggregate — the incremental-materialized-view machinery
    (aggregate once per bucket, re-roll without rescanning the fact).
    The exact members (sum/count/min/max/avg — avg's state is a
    (sum, count) struct) merge associatively, so the oracle is the
    DIRECT single-level aggregate. uniqState/uniqMerge ride Spark's
    mergeable DataSketches HLL (binary, fixed-size state — the 100 TB
    trade -State exists for) and are pinned in
    tests/test_state_merge.py instead (estimates aren't
    SQL-reproducible in DuckDB)."""
    return _run(
        spark,
        sf_dir,
        """
        with st as (
          select l_returnflag, l_linestatus,
                 sumState(l_quantity) as s_sum,
                 countState() as s_cnt,
                 minState(l_suppkey) as s_min,
                 maxState(l_partkey) as s_max,
                 avgState(l_linenumber) as s_avg
          from lineitem group by l_returnflag, l_linestatus)
        select l_returnflag,
               sumMerge(s_sum) as q,
               countMerge(s_cnt) as n,
               minMerge(s_min) as mn,
               maxMerge(s_max) as mx,
               avgMerge(s_avg) as av
        from st group by l_returnflag order by l_returnflag
        """,
    )


@query(
    "sql_fn_tier6",
    """
    WITH t AS (
      SELECT event_id, ts, event_type,
             '{"a":' || (event_id % 5) || ',"b":"' || event_type
               || '","f":' || (event_id % 3) || '.5,"t":'
               || CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false'
                  END || ',"arr":[1,2,3]}' AS j,
             [1 + event_id % 4, 2, 3, 4] AS arr
      FROM events WHERE user_id < 20)
    SELECT event_id,
      CAST(json_extract_string(j, '$.t') AS BOOLEAN) AS jb,
      CAST(json_extract_string(j, '$.a') AS BIGINT) AS ju,
      json_extract_string(j, '$.b') AS js,
      CAST(json_extract_string(j, '$.f') AS DOUBLE) AS jf,
      array_to_string(json_keys(j), ',') AS jk,
      CAST(CASE WHEN contains(event_type, 'purchase') THEN 1
                WHEN contains(event_type, 'view') THEN 2
                WHEN contains(event_type, 'ick') THEN 3
                ELSE 0 END AS BIGINT) AS mfi,
      CAST(strpos(event_type, 'i') AS BIGINT) || ','
        || CAST(strpos(event_type, 'ck') AS BIGINT) || ','
        || CAST(strpos(event_type, 'zz') AS BIGINT) AS map_,
      CAST(coalesce(least(nullif(strpos(event_type, 'i'), 0),
                          nullif(strpos(event_type, 'ck'), 0),
                          nullif(strpos(event_type, 'zz'), 0)), 0)
           AS BIGINT) AS mfp,
      CAST(1 AS BOOLEAN) AS hs1,
      CAST(event_id % 4 = 2 AS BOOLEAN) AS hs2,
      CAST((length(event_type)
            - length(replace(lower(event_type), 'e', ''))) AS INT)
        AS cs,
      event_type LIKE 'vi%' AS sw,
      event_type LIKE '%ck' AS ew,
      CAST(epoch_us(ts) // 1000 AS BIGINT) AS ms,
      make_timestamp((event_id * 1000 + 1700000000000) * 1000) AS fm,
      CASE WHEN event_id * 1230 + 1 < 1000
             THEN printf('%.2f B', CAST(event_id * 1230 + 1 AS DOUBLE))
           WHEN event_id * 1230 + 1 < 1000000
             THEN printf('%.2f KB',
                         (event_id * 1230 + 1) / 1000.0)
           ELSE printf('%.2f MB',
                       (event_id * 1230 + 1) / 1000000.0)
      END AS frd,
      array_to_string(arr[(event_id % 5) % 4 + 1:]
                      || arr[1:(event_id % 5) % 4], ',') AS rl,
      array_to_string(arr[4:] || arr[1:3], ',') AS rr,
      array_to_string(arr[2:] || [9], ',') AS sl
    FROM t ORDER BY event_id
    """,
)
def sql_fn_tier6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-6 scalar surface: JSON extras (JSONExtractBool/
    UInt/Keys + the simpleJSON* fast-path spellings, raw-arg keys →
    JVM JsonPath), the multiSearch family (FirstIndex by list order,
    AllPositions, FirstPosition), hasSubstr (contiguous-subarray
    containment, row-local window compare),
    countSubstringsCaseInsensitive, UTF8 start/end aliases, the
    epoch64 conversion quartet (milli/micro both ways under the
    pinned UTC tz), formatReadableDecimalSize (1000 ladder), and
    array rotate/shift (element-typed NULL fill via an
    out-of-bounds F.get when the fill is omitted). All JVM
    expressions — one range Exchange for the ORDER BY, nothing
    else."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, ts, event_type,
                 '{"a":' + toString(event_id % 5) + ',"b":"'
                   + event_type + '","f":' + toString(event_id % 3)
                   + '.5,"t":'
                   + if(event_id % 2 = 0, 'true', 'false')
                   + ',"arr":[1,2,3]}' as j,
                 [1 + event_id % 4, 2, 3, 4] as arr
          from events where user_id < 20)
        select event_id,
               JSONExtractBool(j, 't') as jb,
               JSONExtractUInt(j, 'a') as ju,
               simpleJSONExtractString(j, 'b') as js,
               simpleJSONExtractFloat(j, 'f') as jf,
               arrayStringConcat(JSONExtractKeys(j), ',') as jk,
               multiSearchFirstIndex(event_type,
                 ['purchase', 'view', 'ick']) as mfi,
               arrayStringConcat(arrayMap(x -> toString(x),
                 multiSearchAllPositions(event_type,
                   ['i', 'ck', 'zz'])), ',') as map_,
               multiSearchFirstPosition(event_type,
                 ['i', 'ck', 'zz']) as mfp,
               hasSubstr(arr, [2, 3]) as hs1,
               hasSubstr(arr, [3, 2]) as hs2,
               countSubstringsCaseInsensitive(event_type, 'E') as cs,
               startsWithUTF8(event_type, 'vi') as sw,
               endsWithUTF8(event_type, 'ck') as ew,
               toUnixTimestamp64Milli(ts) as ms,
               fromUnixTimestamp64Milli(
                 event_id * 1000 + 1700000000000) as fm,
               formatReadableDecimalSize(event_id * 1230 + 1) as frd,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayRotateLeft(arr, event_id % 5)), ',') as rl,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayRotateRight(arr, 1)), ',') as rr,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayShiftLeft(arr, 1, 9)), ',') as sl
        from t order by event_id
        """,
    )


@query(
    "sql_alias_anywhere",
    """
    WITH f AS (
      SELECT l_suppkey % 7 AS b, l_linenumber
      FROM lineitem
      WHERE l_quantity * (1 - l_discount) > 10
        AND l_suppkey % 7 != 3)
    SELECT b AS bb,
           CAST(sum(l_linenumber) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM f
    GROUP BY bb
    HAVING n > 100
    ORDER BY bb
    """,
)
def sql_alias_anywhere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ClickHouse's alias-anywhere rule, all three clauses in
    one query: a computed WHERE alias (net — substituted textually,
    the predicate still reaches the parquet scan), a GROUP BY alias
    (b), and a HAVING alias (n, naming an aggregate). Column-wins
    precedence throughout — a real column of the same name never
    silently rebinds. DuckDB supports the same lateral column
    aliases natively, so the oracle is nearly the same SQL."""
    return _run(
        spark,
        sf_dir,
        """
        with f as (
          select l_suppkey % 7 as b, l_linenumber,
                 l_quantity * (1 - l_discount) as net
          from lineitem
          where net > 10 and b != 3)
        select b as bb,
               sum(l_linenumber) as s,
               count() as n
        from f
        group by bb
        having n > 100
        order by bb
        """,
    )


@query(
    "sql_table_fn_series",
    """
    WITH s AS (SELECT generate_series AS g
               FROM generate_series(2, 20, 3)),
    n AS (SELECT range AS number FROM range(100, 120)),
    d AS (SELECT generate_series AS dn
          FROM generate_series(10, 1, -2))
    SELECT CAST((SELECT sum(g) FROM s) AS BIGINT) AS sg,
           CAST((SELECT count(*) FROM s) AS BIGINT) AS cg,
           CAST((SELECT min(g) FROM s) AS BIGINT) AS mng,
           CAST((SELECT max(g) FROM s) AS BIGINT) AS mxg,
           CAST((SELECT sum(number) FROM n) AS BIGINT) AS sn,
           CAST((SELECT count(*) FROM n) AS BIGINT) AS cn,
           CAST((SELECT sum(dn) FROM d) AS BIGINT) AS sd,
           CAST((SELECT count(*) FROM d) AS BIGINT) AS cd
    """,
)
def sql_table_fn_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] series table functions: generate_series(start, stop[,
    step]) with the INCLUSIVE-stop DuckDB/Postgres contract (negative
    steps count down) and ClickHouse's 2-arg numbers(offset, count) —
    both lower to spark.range (distributed generation, nothing
    materializes on the driver). The oracle uses DuckDB's native
    generate_series/range functions."""
    return _run(
        spark,
        sf_dir,
        """
        with s as (select generate_series as g
                   from generate_series(2, 20, 3)),
             n as (select number from numbers(100, 20)),
             d as (select generate_series as dn
                  from generate_series(10, 1, -2))
        select (select sum(g) from s) as sg,
               (select count() from s) as cg,
               (select min(g) from s) as mng,
               (select max(g) from s) as mxg,
               (select sum(number) from n) as sn,
               (select count() from n) as cn,
               (select sum(dn) from d) as sd,
               (select count() from d) as cd
        """,
    )


@query(
    "sql_asof_forward",
    """
    SELECT v.event_id AS vid,
           (SELECT p.event_id FROM events p
            WHERE p.event_type = 'purchase'
              AND p.user_id = v.user_id AND p.ts >= v.ts
            ORDER BY p.ts LIMIT 1) AS pid
    FROM events v
    WHERE v.event_type = 'view' AND v.user_id < 40
    ORDER BY vid
    """,
)
def sql_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] FORWARD as-of join (`l.ts <= r.ts` — the earliest
    FOLLOWING right row, where the default orientation matches the
    latest prior): each view attributed to the next purchase by the
    same user. Same single-shuffle union+window lowering as the
    backward form — the window just scans time DESCENDING, so
    'latest in the reversed scan' is the earliest follower; no range
    join, no fan-out. Events ts is unique per fixture, so the match
    is total-ordered. The oracle spells it as a correlated
    first-row-at-or-after subquery."""
    return _run(
        spark,
        sf_dir,
        """
        select v.event_id as vid, p.event_id as pid
        from (select * from events
              where event_type = 'view' and user_id < 40) as v
        left asof join (select * from events
                        where event_type = 'purchase') as p
          on v.user_id = p.user_id and v.ts <= p.ts
        order by vid
        """,
    )


@query(
    "sql_any_join_on",
    """
    WITH r AS (
      SELECT l_orderkey, l_quantity, l_linenumber FROM (
        SELECT l_orderkey, l_quantity, l_linenumber,
               row_number() OVER (PARTITION BY l_orderkey
                 ORDER BY l_orderkey ASC NULLS LAST,
                          l_quantity ASC NULLS LAST,
                          l_linenumber ASC NULLS LAST) AS rn
        FROM lineitem) t WHERE rn = 1)
    SELECT o.o_orderkey AS k, r.l_quantity AS q, r.l_linenumber AS ln
    FROM orders o LEFT JOIN r ON o.o_orderkey = r.l_orderkey
    WHERE o.o_orderkey < 500
    ORDER BY k
    """,
)
def sql_any_join_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ANY join strictness through the ON form (the USING form
    is sql_any_join): equi-key '=' conjuncts derive the pick-one
    dedup keys, the non-preserved side dedups on its OWN key
    expressions (materialized temp columns → one bounded window),
    and the preserved side streams through the ordinary hash join —
    output cardinality equals the left side exactly (no fan-out).
    Non-equi conjuncts fail loudly. The oracle replays the
    deterministic first-by-all-columns pick."""
    return _run(
        spark,
        sf_dir,
        """
        select o.o_orderkey as k, l.l_quantity as q,
               l.l_linenumber as ln
        from orders as o
        left any join (select l_orderkey, l_quantity, l_linenumber
                       from lineitem) as l
          on o.o_orderkey = l.l_orderkey
        where o.o_orderkey < 500
        order by k
        """,
    )


@query(
    "sql_topk_if",
    """
    WITH f AS (SELECT * FROM lineitem WHERE l_quantity > 25),
    counts AS (
      SELECT l_returnflag rf, l_linestatus v, count(*) c
      FROM f GROUP BY rf, v),
    ranked AS (
      SELECT rf, v, row_number() OVER (PARTITION BY rf
               ORDER BY c DESC, v ASC) AS rn FROM counts),
    tk AS (SELECT rf, string_agg(v, ',' ORDER BY rn) AS t
           FROM ranked WHERE rn <= 2 GROUP BY rf),
    q AS (
      SELECT rf, CAST(v AS BIGINT) AS med FROM (
        SELECT l_returnflag rf, l_suppkey v,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY l_suppkey) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM f) t
      WHERE rn - 1 = CAST(floor(0.5 * (n - 1)) AS BIGINT))
    SELECT tk.rf AS l_returnflag, tk.t AS t, q.med AS q
    FROM tk JOIN q USING (rf) ORDER BY rf
    """,
)
def sql_topk_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] -If composition over the PARAMETRIC aggregates
    (topKIf(k)(x, cond), quantileExactIf(level)(x, cond)): under
    GROUP BY the bounded two-level rewrite filters its level-1
    (keys, value, cnt) pre-aggregate by the condition — the state
    stays O(distinct values), identical to the unfiltered paths —
    and the in-group fallback CASE-wraps the data args. Equivalent
    to pre-filtering the input (pinned); the oracle replays the
    count-rank top-k and the exact median over the filtered rows."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag,
               arrayStringConcat(
                 topKIf(2)(l_linestatus, l_quantity > 25), ',') as t,
               quantileExactIf(0.5)(l_suppkey, l_quantity > 25) as q
        from lineitem group by l_returnflag order by l_returnflag
        """,
    )


@query(
    "sql_fn_tier7",
    """
    WITH t AS (
      SELECT event_id, ts, event_type,
             [CAST(1 + event_id % 4 AS BIGINT),
              CAST(event_id % 3 - 1 AS BIGINT),
              CAST(2 AS BIGINT), CAST(event_id % 2 AS BIGINT)] AS arr
      FROM events WHERE user_id < 20)
    SELECT event_id,
      CAST(date_trunc('month', ts) AS TIMESTAMP) AS dt,
      CAST(bit_count(xor(CAST(event_id AS BIGINT),
                         CAST(event_id // 3 AS BIGINT))) AS INT) AS bh,
      lpad(event_type, 12, '.') AS lp,
      rpad(event_type, 12, '_') AS rp,
      array_to_string(list_transform(range(1, event_id % 3 + 2),
                                     i -> CAST(7 AS BIGINT)), ',') AS awc,
      array_to_string(
        CASE WHEN len(arr) >= CAST(event_id % 6 + 1 AS INT)
             THEN arr[1:event_id % 6 + 1]
             ELSE list_concat(arr, list_transform(
                    range(1, CAST(event_id % 6 + 1 AS INT) - len(arr) + 1),
                    i -> CAST(0 AS BIGINT))) END, ',') AS ar,
      array_to_string(list_transform(range(1, len(arr) + 1),
        i -> list_reduce(list_concat([CAST(0 AS BIGINT)], arr[1:i]),
                         (a, b) -> greatest(a + b, 0))), ',') AS acs,
      array_to_string(list_transform(range(1, len(arr) + 1),
        i -> len(list_filter(arr[1:i], e -> e = arr[i]))), ',') AS aeu,
      array_to_string(list_transform(arr,
        x -> len(list_distinct(arr[1:list_position(arr, x)]))), ',')
        AS aed,
      array_to_string(list_filter(
        string_split_regex(event_type || '-' || CAST(event_id AS VARCHAR),
                           '[^A-Za-z0-9]+'), s -> s <> ''), '|') AS tk,
      json_extract_string('{"k":"' || event_type || '"}', '$.k') AS vp,
      CASE WHEN (event_id * 97) % 100000 = 0 THEN '0 seconds'
           ELSE concat_ws(', ',
             CASE WHEN (event_id * 97) % 100000 // 86400 > 0
                  THEN CAST((event_id * 97) % 100000 // 86400 AS VARCHAR)
                       || ' day' || CASE WHEN (event_id * 97) % 100000
                            // 86400 > 1 THEN 's' ELSE '' END END,
             CASE WHEN (event_id * 97) % 100000 % 86400 // 3600 > 0
                  THEN CAST((event_id * 97) % 100000 % 86400 // 3600
                       AS VARCHAR) || ' hour'
                       || CASE WHEN (event_id * 97) % 100000 % 86400
                            // 3600 > 1 THEN 's' ELSE '' END END,
             CASE WHEN (event_id * 97) % 100000 % 3600 // 60 > 0
                  THEN CAST((event_id * 97) % 100000 % 3600 // 60
                       AS VARCHAR) || ' minute'
                       || CASE WHEN (event_id * 97) % 100000 % 3600
                            // 60 > 1 THEN 's' ELSE '' END END,
             CASE WHEN (event_id * 97) % 100000 % 60 > 0
                  THEN CAST((event_id * 97) % 100000 % 60 AS VARCHAR)
                       || ' second' || CASE WHEN (event_id * 97)
                            % 100000 % 60 > 1 THEN 's' ELSE '' END END)
      END AS td,
      CASE WHEN len(list_filter(list_transform(
                 range(1, greatest(length(event_type) - 3, 0) + 1),
                 i -> substring(event_type, CAST(i AS INT), 4)),
               g -> TRUE)) + 4 = 4
           THEN CASE WHEN event_type = 'view,click' THEN 0.0 ELSE 1.0 END
           ELSE (CAST(len(list_transform(range(1,
                   greatest(length(event_type) - 3, 0) + 1),
                   i -> substring(event_type, CAST(i AS INT), 4))) +
                 len(list_transform(range(1, 8),
                   i -> substring('view,click', CAST(i AS INT), 4)))
                 AS DOUBLE)
                 - 2 * CAST((SELECT coalesce(sum(c), 0) FROM (
                     SELECT least(
                       len(list_filter(list_transform(range(1,
                         greatest(length(t.event_type) - 3, 0) + 1),
                         i -> substring(t.event_type, CAST(i AS INT), 4)),
                         e -> e = g)),
                       len(list_filter(list_transform(range(1, 8),
                         i -> substring('view,click', CAST(i AS INT), 4)),
                         e -> e = g))) AS c
                     FROM unnest(list_distinct(list_transform(range(1,
                       greatest(length(t.event_type) - 3, 0) + 1),
                       i -> substring(t.event_type, CAST(i AS INT), 4))))
                       AS u(g))) AS DOUBLE))
                / (CAST(len(list_transform(range(1,
                     greatest(length(event_type) - 3, 0) + 1),
                     i -> substring(event_type, CAST(i AS INT), 4))) +
                   len(list_transform(range(1, 8),
                     i -> substring('view,click', CAST(i AS INT), 4)))
                   AS DOUBLE))
      END AS nd
    FROM t ORDER BY event_id
    """,
)
def sql_fn_tier7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-7 scalar surface: dateTrunc (raw-arg unit),
    bitHammingDistance, UTF8 pad aliases, the array construction/
    enumeration family (arrayWithConstant, arrayResize with explicit
    extender, arrayCumSumNonNegative via a typed sequential fold,
    arrayEnumerateUniq/Dense as row-local prefix scans), tokens(),
    visitParamExtractString (simpleJSON fast-path alias),
    formatReadableTimeDelta (integer-only string building), and
    ngramDistance (4-gram multiset symmetric difference — integer
    counts, one final division, so oracle-exact). All JVM
    expressions — one range Exchange for the ORDER BY, nothing else.
    The libm / sketch-backed tier-7 names (greatCircleDistance,
    quantileTDigest/Timing, bar, bitRotate*, mapAdd/Subtract) are
    pytest-pinned in tests/test_fn_tier7.py per PYTEST_ONLY."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, ts, event_type,
                 [toInt64(1 + event_id % 4), toInt64(event_id % 3 - 1),
                  toInt64(2), toInt64(event_id % 2)] as arr
          from events where user_id < 20)
        select event_id,
               dateTrunc('month', ts) as dt,
               bitHammingDistance(event_id, intDiv(event_id, 3)) as bh,
               leftPadUTF8(event_type, 12, '.') as lp,
               rightPadUTF8(event_type, 12, '_') as rp,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayWithConstant(event_id % 3 + 1, toInt64(7))), ',')
                 as awc,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayResize(arr, event_id % 6 + 1, toInt64(0))), ',')
                 as ar,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayCumSumNonNegative(arr)), ',') as acs,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayEnumerateUniq(arr)), ',') as aeu,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayEnumerateDense(arr)), ',') as aed,
               arrayStringConcat(tokens(event_type + '-'
                 + toString(event_id)), '|') as tk,
               visitParamExtractString('{"k":"' + event_type + '"}',
                 'k') as vp,
               formatReadableTimeDelta((event_id * 97) % 100000) as td,
               ngramDistance(event_type, 'view,click') as nd
        from t order by event_id
        """,
    )


@query(
    "sql_median_exact",
    """
    SELECT l_returnflag AS f, l_linestatus AS s,
           quantile_disc(l_quantity, 0.5) AS med,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY f, s
    """,
)
def sql_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """medianExact(x) — the exact lower-median order statistic
    (≡ quantileExact(0.5), param-free spelling). Lowers through the
    bounded (keys, value, cnt) pre-aggregate shared with the
    quantileExact family (frontend/lower.py _topk_side) — state
    O(distinct values) per group, never O(group rows). DuckDB's
    quantile_disc(x, 0.5) picks the identical lower-median element."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag as f, l_linestatus as s,
               medianExact(l_quantity) as med, count() as n
        from lineitem group by f, s
        """,
    )


@query(
    "sql_fn_tier8",
    """
    WITH t AS (
      SELECT event_id, ts,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS es,
             [CAST(event_id % 4 AS BIGINT), CAST(0 AS BIGINT),
              CAST(event_id % 3 AS BIGINT), CAST(0 AS BIGINT),
              CAST(2 + event_id % 2 AS BIGINT)] AS arr
      FROM events WHERE user_id < 15)
    SELECT event_id,
      CAST(to_timestamp((es // 900) * 900) AS TIMESTAMP) AS i15m,
      CAST(to_timestamp(((es + 259200) // 604800) * 604800
            - 259200) AS TIMESTAMP) AS iw,
      make_date(CAST(1970 + (((year(ts) - 1970) * 12 + month(ts) - 1)
                  // 2 * 2) // 12 AS INT),
                CAST((((year(ts) - 1970) * 12 + month(ts) - 1)
                  // 2 * 2) % 12 + 1 AS INT), 1) AS i2mo,
      array_to_string(list_transform(
        range(es // 1800, (es + 3600) // 1800 + 1),
        i -> CAST(CAST(to_timestamp(i * 1800) AS TIMESTAMP)
               AS VARCHAR)), '|') AS slots,
      dayname(CAST(ts AS DATE)) AS dn,
      isoyear(CAST(ts AS DATE)) AS iy,
      CAST((CAST(ts AS DATE) - DATE '1970-01-01') + 719528 AS BIGINT)
        AS d0,
      DATE '1970-01-01' + CAST(719000 + event_id % 1000 - 719528 AS INT)
        AS fd,
      list_reduce(list_concat([CAST(1 AS DOUBLE)],
        list_transform(arr, x -> CAST(x AS DOUBLE))),
        (a, b) -> a * b) AS ap,
      list_reduce(list_concat([CAST(0 AS DOUBLE)],
        list_transform(arr, x -> CAST(x AS DOUBLE))),
        (a, b) -> a + b) / len(arr) AS aa,
      CAST(len(list_intersect(arr, [CAST(1 AS BIGINT), CAST(2 AS BIGINT)]))
        AS DOUBLE)
        / len(list_distinct(list_concat(arr,
            [CAST(1 AS BIGINT), CAST(2 AS BIGINT)]))) AS aj,
      array_to_string(list_transform(range(1, len(arr) + 1),
        i -> CAST(coalesce(
               arr[list_max(list_filter(range(1, i + 1),
                 j -> arr[j] <> 0))], arr[1]) AS VARCHAR)), ',') AS af
    FROM t ORDER BY event_id
    """,
)
def sql_fn_tier8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-8 surface — time-series bucketing and calendar math:
    toStartOfInterval (INTERVAL literal consumed at PLAN time like
    raw-string args — 15-minute, Monday-anchored week, and 2-month
    buckets here), timeSlots (row-local slot expansion), dayName,
    toISOYear (year of the ISO week's Thursday), toDaysSinceYearZero /
    fromDaysSinceYearZero (proleptic day counts), and the array math
    extras (arrayProduct/arrayAvg as in-order double folds,
    arrayJaccardIndex from integer set sizes, arrayFill carry-forward
    as a typed sequential fold). parseDateTime is pinned in
    tests/test_fn_tier8.py (its %-pattern translation shares
    formatDateTime's table); the BestEffort ladder is PYTEST_ONLY.
    All JVM expressions — one Exchange for the ORDER BY."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, ts,
                 [toInt64(event_id % 4), toInt64(0),
                  toInt64(event_id % 3), toInt64(0),
                  toInt64(2 + event_id % 2)] as arr
          from events where user_id < 15)
        select event_id,
               toStartOfInterval(ts, INTERVAL 15 MINUTE) as i15m,
               toStartOfInterval(ts, INTERVAL 1 WEEK) as iw,
               toStartOfInterval(ts, INTERVAL 2 MONTH) as i2mo,
               arrayStringConcat(arrayMap(x -> toString(x),
                 timeSlots(ts, 3600)), '|') as slots,
               dayName(toDate(ts)) as dn,
               toISOYear(toDate(ts)) as iy,
               toDaysSinceYearZero(toDate(ts)) as d0,
               fromDaysSinceYearZero(719000 + event_id % 1000) as fd,
               arrayProduct(arr) as ap,
               arrayAvg(arr) as aa,
               arrayJaccardIndex(arr, [toInt64(1), toInt64(2)]) as aj,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayFill(x -> x != 0, arr)), ',') as af
        from t order by event_id
        """,
    )


_ASSOC_K = 1_000_000
# chi² machinery shared by the cramersV/contingency oracles: the same
# encoded-pair fold the Spark lowering runs, spelled in DuckDB lists —
# identical expression trees in identical (sorted-code) order, so the
# doubles match bit-exactly.
_ASSOC_LST = "list_sort(list(CAST(x AS BIGINT) * 1000000 + CAST(y AS BIGINT)))"
_ASSOC_S = (
    "list_reduce(list_concat([CAST(0 AS DOUBLE)],"
    " list_transform(list_sort(list_distinct(lst)), c ->"
    " CAST(len(list_filter(lst, e -> e = c))"
    "      * len(list_filter(lst, e -> e = c)) AS DOUBLE)"
    " / CAST(len(list_filter(lst, e -> e // 1000000 = c // 1000000))"
    "        * len(list_filter(lst, e -> e % 1000000 = c % 1000000))"
    "   AS DOUBLE))), (a, b) -> a + b)"
)


@query(
    "sql_agg_assoc",
    f"""
    WITH t AS (
      SELECT user_id, event_id % 5 AS x, event_id % 7 AS y
      FROM events WHERE user_id < 40),
    g AS (
      SELECT user_id, {_ASSOC_LST} AS lst, COUNT(*) AS cnt
      FROM t GROUP BY user_id),
    m AS (
      SELECT user_id, cnt, lst, {_ASSOC_S} AS s,
             CAST(len(lst) AS DOUBLE) AS n,
             CAST(len(list_distinct(list_transform(lst,
                  e -> e // 1000000))) AS DOUBLE) AS r,
             CAST(len(list_distinct(list_transform(lst,
                  e -> e % 1000000))) AS DOUBLE) AS c
      FROM g),
    f AS (
      SELECT user_id, cnt, n, r, c, n * s - n AS chi2 FROM m)
    SELECT user_id,
           CASE WHEN n > 0 AND least(r, c) - 1 >= 1
                THEN sqrt(chi2 / (n * (least(r, c) - 1))) END AS cv,
           CASE WHEN n > 1
                 AND least(r - (r-1)*(r-1)/(n-1),
                           c - (c-1)*(c-1)/(n-1)) - 1 > 0
                THEN sqrt(greatest(CAST(0 AS DOUBLE),
                            chi2 / n - (r-1)*(c-1)/(n-1))
                          / (least(r - (r-1)*(r-1)/(n-1),
                                   c - (c-1)*(c-1)/(n-1)) - 1)) END
             AS cvbc,
           CASE WHEN n > 0 THEN sqrt(chi2 / (chi2 + n)) END AS cont,
           CAST(cnt AS BIGINT) AS n_rows
    FROM f ORDER BY user_id
    """,
)
def sql_agg_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] categorical-association aggregates: cramersV,
    cramersVBiasCorrected (Bergsma's correction), contingency
    coefficient — the CH data-profiling quartet minus Theil's U (libm
    log, PYTEST_ONLY). Exact cross-engine: pairs encode as one
    integer, the chi² fold runs over SORTED distinct codes, and every
    double op is a fixed expression tree — so the values hash-match
    DuckDB's identical list fold. Per-user groups keep the fold-backed
    state entity-bounded (the suite convention for stats
    aggregates)."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select user_id, event_id % 5 as x, event_id % 7 as y
          from events where user_id < 40)
        select user_id,
               cramersV(x, y) as cv,
               cramersVBiasCorrected(x, y) as cvbc,
               contingency(x, y) as cont,
               count() as n_rows
        from t group by user_id order by user_id
        """,
    )


@query(
    "sql_fn_tier9",
    """
    WITH t AS (
      SELECT event_id, event_type AS et,
             [CAST(event_id % 4 AS BIGINT), CAST(1 + event_id % 3 AS BIGINT),
              CAST(2 * (event_id % 2) AS BIGINT), CAST(3 AS BIGINT),
              CAST(event_id % 5 AS BIGINT)] AS arr,
             [CAST(1 + event_id % 2 AS BIGINT), CAST(event_id % 6 AS BIGINT),
              CAST(2 AS BIGINT), CAST(event_id % 3 AS BIGINT),
              CAST(1 AS BIGINT)] AS arr2,
             event_id * 1000 + 7 AS v
      FROM events WHERE user_id < 15),
    b AS (
      SELECT *,
        list_concat([1], list_concat(
          list_filter(range(2, len(arr) + 1), i -> arr[i] % 3 = 0),
          [len(arr) + 1])) AS bounds,
        list_concat([1], list_concat(
          list_transform(list_filter(range(1, len(arr)),
            i -> arr[i] % 3 = 0), i -> i + 1),
          [len(arr) + 1])) AS rbounds
      FROM t)
    SELECT event_id,
      array_to_string(list_transform(range(1, len(arr)),
        i -> array_to_string(arr[i:i+1], '-')), '|') AS sh,
      array_to_string(list_transform(range(1, len(et) - 1),
        i -> substr(et, i, 3)), '|') AS ng,
      CAST(list_reduce(list_concat([0], range(1, len(et) + 1)), (a, i) ->
        a + CASE WHEN a < 2 AND substr(et, i, 1) = substr('ik', a + 1, 1)
                 THEN 1 ELSE 0 END) >= 2 AS INT) AS hs,
      array_to_string(list_transform(range(1, len(bounds)),
        j -> array_to_string(arr[bounds[j]:bounds[j+1]-1], '-')), '|') AS sp,
      array_to_string(list_transform(range(1, len(rbounds)),
        j -> array_to_string(arr[rbounds[j]:rbounds[j+1]-1], '-')), '|') AS rsp,
      list_reduce(list_concat([CAST(0 AS DOUBLE)],
        list_transform(range(1, len(arr) + 1),
          i -> CAST(arr[i] AS DOUBLE) * CAST(arr2[i] AS DOUBLE))),
        (a, x) -> a + x) AS dp,
      coalesce(array_to_string(list_filter(range(0, 64),
        i -> (CAST(event_id % 1000 AS BIGINT) >> i) & 1 = 1), ','), '')
        AS bp,
      CASE WHEN event_id % 5 - 2 < 0 THEN NULL
           ELSE sqrt(CAST(event_id % 5 - 2 AS DOUBLE)) END AS nn,
      CAST(CASE WHEN event_id % 2 = 0 THEN 1.5 ELSE -1.0 END AS DOUBLE) AS infn,
      CASE WHEN v < 1000 THEN printf('%.2f', CAST(v AS DOUBLE))
           WHEN v < 1000000 THEN printf('%.2f thousand', v / 1000.0)
           WHEN v < 1000000000 THEN printf('%.2f million', v / 1000000.0)
           WHEN v < 1000000000000 THEN
             printf('%.2f billion', v / 1000000000.0)
           ELSE printf('%.2f trillion', v / 1000000000000.0) END AS frq
    FROM b ORDER BY event_id
    """,
)
def sql_fn_tier9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-9 surface — window/subsequence/bit scalars:
    arrayShingles (consecutive windows), character ngrams,
    hasSubsequence (single in-order position fold, ≡ DuckDB
    list_reduce), arraySplit/arrayReverseSplit (cut-index bounds +
    slices, no per-element state), arrayDotProduct (in-order double
    fold), bitPositionsToArray ((x>>i)&1 probes, sign-safe),
    nanToNull/ifNotFinite, and formatReadableQuantity (the %.2f
    fixture values stay off .xx5 ties — FORMAT_TIE_HAZARD). All JVM
    expression trees; one Exchange for the ORDER BY."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, event_type as et,
                 [toInt64(event_id % 4), toInt64(1 + event_id % 3),
                  toInt64(2 * (event_id % 2)), toInt64(3),
                  toInt64(event_id % 5)] as arr,
                 [toInt64(1 + event_id % 2), toInt64(event_id % 6),
                  toInt64(2), toInt64(event_id % 3), toInt64(1)] as arr2
          from events where user_id < 15)
        select event_id,
               arrayStringConcat(arrayMap(
                 x -> arrayStringConcat(arrayMap(y -> toString(y), x), '-'),
                 arrayShingles(arr, 2)), '|') as sh,
               arrayStringConcat(ngrams(et, 3), '|') as ng,
               hasSubsequence(et, 'ik') as hs,
               arrayStringConcat(arrayMap(
                 x -> arrayStringConcat(arrayMap(y -> toString(y), x), '-'),
                 arraySplit(x -> x % 3 = 0, arr)), '|') as sp,
               arrayStringConcat(arrayMap(
                 x -> arrayStringConcat(arrayMap(y -> toString(y), x), '-'),
                 arrayReverseSplit(x -> x % 3 = 0, arr)), '|') as rsp,
               arrayDotProduct(arr, arr2) as dp,
               arrayStringConcat(arrayMap(x -> toString(x),
                 bitPositionsToArray(event_id % 1000)), ',') as bp,
               nanToNull(sqrt(toFloat64(event_id % 5 - 2))) as nn,
               ifNotFinite(if(event_id % 2 = 0, 1.5,
                 toFloat64('1e200') * toFloat64('1e200')), -1.0) as infn,
               formatReadableQuantity(event_id * 1000 + 7) as frq
        from t order by event_id
        """,
    )


@query(
    "sql_fn_maps",
    """
    WITH t AS (
      SELECT event_id, event_id % 5 AS va, event_id % 7 AS vb,
             event_id % 3 AS k2
      FROM events WHERE user_id < 15)
    SELECT event_id,
      'a,b,c' AS msk,
      concat(CAST(va AS VARCHAR), ',', CAST(vb AS VARCHAR), ',3') AS msv,
      'c,b,a' AS mrk,
      CAST(va > 4 OR vb > 4 AS INT) AS me,
      CAST(va >= 3 AND vb >= 3 AS INT) AS ma,
      CAST(k2 = 1 AS INT) AS mckl,
      CASE WHEN k2 = 1 THEN 'a1' ELSE '' END AS mekl,
      concat(CAST(va AS VARCHAR), ',0,0,', CAST(vb AS VARCHAR)) AS mps,
      concat(CAST(va * 2 + 1 AS VARCHAR), ',',
             CAST(vb * 2 + 1 AS VARCHAR), ',7') AS mapp
    FROM t ORDER BY event_id
    """,
)
def sql_fn_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] CH map-function surface: map() constructor, mapSort /
    mapReverseSort (entry-array sort — gives Spark maps a
    deterministic printable order), mapExists / mapAll (entry-level
    lambdas), mapContainsKeyLike / mapExtractKeyLike (LIKE over
    keys), mapPopulateSeries (integer-key gap fill with typed
    zeros), and mapApply (tuple-returning lambda through
    map_from_entries). The oracle states each expected string in
    closed form — the map machinery itself has no DuckDB
    equivalent, the VALUES do."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id,
                 map('a', toInt64(event_id % 5), 'b', toInt64(event_id % 7),
                     'c', toInt64(3)) as m,
                 map(concat('a', toString(event_id % 3)), toInt64(1),
                     'xy', toInt64(2)) as m2,
                 map(toInt64(1), toInt64(event_id % 5),
                     toInt64(4), toInt64(event_id % 7)) as mi
          from events where user_id < 15)
        select event_id,
               arrayStringConcat(arrayMap(x -> toString(x),
                 mapKeys(mapSort(m))), ',') as msk,
               arrayStringConcat(arrayMap(x -> toString(x),
                 mapValues(mapSort(m))), ',') as msv,
               arrayStringConcat(arrayMap(x -> toString(x),
                 mapKeys(mapReverseSort(m))), ',') as mrk,
               mapExists((k, v) -> v > 4, m) as me,
               mapAll((k, v) -> v >= 3, m) as ma,
               mapContainsKeyLike(m2, 'a1%') as mckl,
               arrayStringConcat(arrayMap(x -> toString(x),
                 mapKeys(mapExtractKeyLike(m2, 'a1%'))), ',') as mekl,
               arrayStringConcat(arrayMap(x -> toString(x),
                 mapValues(mapPopulateSeries(mi))), ',') as mps,
               arrayStringConcat(arrayMap(x -> toString(x),
                 mapValues(mapApply((k, v) -> tuple(k, v * 2 + 1),
                   mapSort(m)))), ',') as mapp
        from t order by event_id
        """,
    )


@query(
    "sql_topk_weighted",
    """
    WITH s AS (
      SELECT l_returnflag rf, l_linenumber v,
             SUM(CAST(l_quantity AS BIGINT)) w, COUNT(*) c
      FROM lineitem GROUP BY rf, v),
    r AS (
      SELECT rf, v, row_number() OVER (PARTITION BY rf
               ORDER BY w DESC, v ASC) AS rn FROM s),
    t AS (
      SELECT rf, string_agg(CAST(v AS VARCHAR), ',' ORDER BY rn) AS tw
      FROM r WHERE rn <= 3 GROUP BY rf),
    n AS (SELECT rf, CAST(SUM(c) AS BIGINT) AS n FROM s GROUP BY rf)
    SELECT n.rf AS l_returnflag, t.tw AS tw, n.n AS n
    FROM n JOIN t USING (rf) ORDER BY l_returnflag
    """,
)
def sql_topk_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] topKWeighted(k)(x, w) — the k values with the largest
    total weight (ties value asc), the weighted sibling of topK.
    Under GROUP BY it rides the same bounded two-level rewrite
    (level-1 pre-aggregate is (keys, value, Σw) — state O(distinct
    values) per group, never O(group rows)); the oracle replays the
    weight-rank top-k. Weights fold as longs, so the sums are
    integer-exact cross-engine."""
    return _run(
        spark,
        sf_dir,
        """
        select l_returnflag,
               arrayStringConcat(arrayMap(x -> toString(x),
                 topKWeighted(3)(l_linenumber, l_quantity)), ',') as tw,
               count() as n
        from lineitem group by l_returnflag order by l_returnflag
        """,
    )


@query(
    "sql_window_range_date",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
             AS BIGINT) AS roll_1h,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING
               AND INTERVAL 30 MINUTE FOLLOWING) AS BIGINT) AS n_pm30,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_1d
    FROM events WHERE user_id < 25
    ORDER BY user_id, event_id
    """,
)
def sql_window_range_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] INTERVAL-offset RANGE frames over a timestamp sort key —
    `RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW` with
    ORDER BY ts directly, no manual epoch-micros re-key (the
    ergonomic form of sql_range_frame). The lowering re-keys the
    window on unix_micros(ts) — a monotonic bijection, so frames are
    identical — and converts the bounds to micros; variable-length
    units (MONTH+) are rejected. DuckDB runs the identical INTERVAL
    frame natively. Same WindowExec streaming shape: one shuffle on
    user_id, per-partition sort, no rescans."""
    return _run(
        spark,
        sf_dir,
        """
        select user_id, event_id,
               sum(toInt64(floor(value * 100))) over (
                 partition by user_id order by ts
                 range between interval 1 hour preceding
                   and current row) as roll_1h,
               count(*) over (
                 partition by user_id order by ts
                 range between interval 30 minute preceding
                   and interval 30 minute following) as n_pm30,
               count(*) over (
                 partition by user_id order by ts
                 range between interval 1 day preceding
                   and current row) as n_1d
        from events where user_id < 25
        order by user_id, event_id
        """,
    )


@query(
    "sql_agg_moving",
    """
    WITH t AS (
      SELECT user_id, ts, CAST(floor(value * 100) AS BIGINT) AS v,
             event_type
      FROM events WHERE user_id < 20),
    w AS (
      SELECT user_id, ts,
             SUM(v) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ms,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC)
               AS rdesc
      FROM t),
    a AS (
      SELECT user_id,
             string_agg(CAST(ms AS VARCHAR), ',' ORDER BY ts) AS msum,
             CAST(MAX(CASE WHEN rdesc = 1 THEN ms END) AS DOUBLE) / 3.0
               AS mavg_last
      FROM w GROUP BY user_id),
    s AS (
      SELECT user_id,
             COUNT(*) FILTER (event_type = 'click') AS c,
             COUNT(*) FILTER (event_type = 'view') AS vv
      FROM t GROUP BY user_id)
    SELECT a.user_id AS user_id, a.msum AS msum, a.mavg_last AS mavg_last,
           CASE WHEN c > 0 AND vv > 0
                  THEN CAST(c AS VARCHAR) || ',' || CAST(vv AS VARCHAR)
                WHEN c > 0 THEN CAST(c AS VARCHAR)
                WHEN vv > 0 THEN CAST(vv AS VARCHAR)
                ELSE '' END AS smf
    FROM a JOIN s USING (user_id) ORDER BY user_id
    """,
)
def sql_agg_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] moving-window aggregates: groupArrayMovingSum(3) /
    groupArrayMovingAvg(3) in the 2-arg deterministic form (explicit
    time key — CH's 1-arg form depends on block arrival order, which
    a distributed engine cannot honestly reproduce) and
    sumMapFiltered (parametric key-filtered sumMap).
    Integer window sums fold exactly; the avg divides by k even in
    the warm-up prefix (CH semantics) as one double op. The oracle
    replays the trailing window with ROWS BETWEEN. Per-user groups
    keep fold state entity-bounded. exponentialMovingAverage shares
    this machinery but is PYTEST_ONLY (2^x decay is libm)."""
    return _run(
        spark,
        sf_dir,
        """
        select user_id,
               arrayStringConcat(arrayMap(x -> toString(x),
                 groupArrayMovingSum(3)(toInt64(floor(value * 100)),
                   toUnixMicros(ts))), ',') as msum,
               groupArrayMovingAvg(3)(toInt64(floor(value * 100)),
                 toUnixMicros(ts))[-1] as mavg_last,
               arrayStringConcat(arrayMap(x -> toString(x),
                 mapValues(sumMapFiltered('click', 'view')(
                   [event_type], [toInt64(1)]))), ',') as smf
        from events where user_id < 20
        group by user_id order by user_id
        """,
    )


@query(
    "sql_fn_auc",
    """
    WITH t AS (
      SELECT event_id,
             [CAST(event_id % 7 AS BIGINT), CAST((event_id * 3) % 7 AS BIGINT),
              CAST((event_id * 5) % 7 AS BIGINT), CAST(event_id % 4 AS BIGINT),
              CAST((event_id * 2) % 5 AS BIGINT)] AS sc,
             [CAST(event_id % 2 AS BIGINT), CAST((event_id // 2) % 2 AS BIGINT),
              CAST(1 AS BIGINT), CAST(0 AS BIGINT),
              CAST((event_id // 4) % 2 AS BIGINT)] AS lb
      FROM events WHERE user_id < 15),
    r AS (
      SELECT event_id, sc, lb,
        list_reduce(list_concat([CAST(0 AS DOUBLE)],
          list_transform(range(1, len(sc) + 1), i ->
            CASE WHEN lb[i] = 1
                 THEN CAST(len(list_filter(sc, s -> s < sc[i])) AS DOUBLE)
                      + (CAST(len(list_filter(sc, s -> s = sc[i]))
                          AS DOUBLE) + 1.0) / 2.0
                 ELSE CAST(0 AS DOUBLE) END)),
          (a, b) -> a + b) AS rs,
        CAST(len(list_filter(lb, l -> l = 1)) AS DOUBLE) AS p,
        CAST(len(list_filter(lb, l -> l <> 1)) AS DOUBLE) AS nn
      FROM t),
    pr AS (
      SELECT event_id, p,
        list_reduce(
          [[CAST(0 AS DOUBLE), 0, 0]] ||
          list_transform(
            list_sort(list_transform(range(1, len(sc) + 1),
                      i -> [-sc[i], lb[i]])),
            e -> [CAST(e[1] AS DOUBLE), CAST(e[2] AS DOUBLE), 0]),
          (a, e) -> [
            a[1] + CASE WHEN e[2] = 1
                   THEN (a[3] + e[2]) / (a[2] + 1) ELSE 0 END,
            a[2] + 1, a[3] + e[2]]) AS fold
      FROM r)
    SELECT r.event_id AS event_id,
           CASE WHEN r.p > 0 AND nn > 0
                THEN (rs - r.p * (r.p + 1.0) / 2.0) / (r.p * nn) END AS auc,
           CASE WHEN pr.p = 0 THEN NULL
                ELSE (pr.fold)[1] / pr.p END AS aucpr
    FROM r JOIN pr ON r.event_id = pr.event_id ORDER BY event_id
    """,
)
def sql_fn_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] arrayAUC/arrayROCAUC — ROC AUC over parallel score/label
    arrays via the midrank rank-sum formula (ties count half):
    AUC = (Σ ranks⁺ − P(P+1)/2) / (P·N). Exact cross-engine — counts
    are integers, midranks exact halves, one double division at the
    end; degenerate single-class rows are NULL. arrayAUCPR joins it:
    sum of precision at each positive over the (score desc, label
    asc) order — ties resolved pessimistically, a documented
    deterministic choice where CH's is partition-order-dependent; the
    oracle replays the identical fold. Row-local O(n²) in the ARRAY
    length only — the model-evaluation primitive for
    quality-classifier scoring at corpus scale."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id,
                 [toInt64(event_id % 7), toInt64((event_id * 3) % 7),
                  toInt64((event_id * 5) % 7), toInt64(event_id % 4),
                  toInt64((event_id * 2) % 5)] as sc,
                 [toInt64(event_id % 2), toInt64(intDiv(event_id, 2) % 2),
                  toInt64(1), toInt64(0),
                  toInt64(intDiv(event_id, 4) % 2)] as lb
          from events where user_id < 15)
        select event_id, arrayAUC(sc, lb) as auc,
               arrayAUCPR(sc, lb) as aucpr
        from t order by event_id
        """,
    )


@query(
    "sql_seq_next",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e1,
             lead(event_type, 2) OVER w AS e2,
             row_number() OVER w AS rn
      FROM events WHERE user_id < 40
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    m AS (
      SELECT user_id, e2,
             row_number() OVER (PARTITION BY user_id ORDER BY rn) AS k
      FROM o WHERE event_type = 'view' AND e1 = 'click')
    SELECT u.user_id AS user_id, m.e2 AS nxt
    FROM (SELECT DISTINCT user_id FROM o) u
    LEFT JOIN m ON u.user_id = m.user_id AND m.k = 1
    ORDER BY user_id
    """,
)
def sql_seq_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] sequenceNextNode('forward', 'head')(ts, value, cond...) —
    the value FOLLOWING the first consecutive view→click run in
    event-time order (CH's next-step-in-journey aggregate, completing
    the windowFunnel/sequenceMatch/retention family). The match scan
    is array_position over a precomputed boolean window — no
    sequential state; NULL when no chain matches or it ends the
    series. The oracle replays it with lead() windows."""
    return _run(
        spark,
        sf_dir,
        """
        select user_id,
               sequenceNextNode('forward', 'head')(ts, event_type,
                 event_type = 'view', event_type = 'click') as nxt
        from events where user_id < 40
        group by user_id order by user_id
        """,
    )


@query(
    "sql_quantile_weighted",
    """
    WITH t AS (
      SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS v,
             CAST(1 + event_id % 5 AS BIGINT) AS w
      FROM events WHERE user_id < 40),
    c AS (
      SELECT user_id, v,
             SUM(w) OVER (PARTITION BY user_id ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS cumw,
             SUM(w) OVER (PARTITION BY user_id) AS totw
      FROM t)
    SELECT user_id,
           MIN(CASE WHEN cumw >= CAST(floor(0.5 * (totw - 1)) AS BIGINT)
                      + 1 THEN v END) AS q50,
           MIN(CASE WHEN cumw >= CAST(floor(0.9 * (totw - 1)) AS BIGINT)
                      + 1 THEN v END) AS q90,
           MIN(CASE WHEN cumw >= CAST(floor(0.5 * (totw - 1)) AS BIGINT)
                      + 1 THEN v END) AS med,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM c GROUP BY user_id ORDER BY user_id
    """,
)
def sql_quantile_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] quantileExactWeighted(level)(x, w) / medianExactWeighted —
    the exact weighted order statistic: the value at 0-based rank
    floor(level·(Σw−1)) among the weight-expanded repetitions (all
    weights 1 ⇒ exactly quantileExactLow, pytest-pinned). Integer
    cumulative weights fold in value order; the oracle replays the
    rank with window cumsums — the first v whose cumulative weight
    passes the rank is order-independent under ties, so the values
    hash-match. Per-user groups keep the fold state entity-bounded."""
    return _run(
        spark,
        sf_dir,
        """
        select user_id,
               quantileExactWeighted(0.5)(toInt64(floor(value * 100)),
                 1 + event_id % 5) as q50,
               quantileExactWeighted(0.9)(toInt64(floor(value * 100)),
                 1 + event_id % 5) as q90,
               medianExactWeighted(toInt64(floor(value * 100)),
                 1 + event_id % 5) as med,
               count() as n
        from events where user_id < 40
        group by user_id order by user_id
        """,
    )


def _morton_oracle() -> str:
    """Morton spread in DuckDB: shifts run in HUGEINT (BIGINT << errors
    on overflow) with a final two's-complement wrap back to BIGINT —
    bit-identical to Spark's 64-bit shiftleft. The decode side is
    plain BIGINT: masks go first, and the arithmetic >> sign-fill
    lands only on bit 63, which every compact mask drops."""

    def spread(x):
        v = f"(CAST({x} AS HUGEINT) & 4294967295)"
        for s, m in (
            (16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ):
            v = f"((({v}) | (({v}) << {s})) & {m})"
        return v

    def wrap(h):
        return (
            f"CAST(CASE WHEN {h} >= 9223372036854775808"
            f" THEN {h} - 18446744073709551616 ELSE {h} END AS BIGINT)"
        )

    def compact(z):
        v = f"(({z}) & 6148914691236517205)"
        for s, m in (
            (1, 0x3333333333333333), (2, 0x0F0F0F0F0F0F0F0F),
            (4, 0x00FF00FF00FF00FF), (8, 0x0000FFFF0000FFFF),
            (16, 0x00000000FFFFFFFF),
        ):
            v = f"((({v}) | (({v}) >> {s})) & {m})"
        return v

    enc = wrap(f"(({spread('x')}) | (({spread('y')}) << 1))")
    return f"""
    WITH t AS (
      SELECT event_id, event_id % 100000 AS x, user_id AS y
      FROM events WHERE user_id < 15),
    e AS (SELECT event_id, x, y, {enc} AS z FROM t)
    SELECT event_id, z,
           {compact('z')} AS dx,
           {compact('(z >> 1)')} AS dy
    FROM e ORDER BY event_id
    """


@query("sql_fn_morton", _morton_oracle())
def sql_fn_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] mortonEncode / mortonDecode — Z-order bit interleaving,
    the multi-dimensional clustering primitive (a Z-ordered sort key
    turns 2-key range scans into short runs — the layout trick behind
    Delta/Iceberg Z-ORDER at 100 TB). Magic-number spread/compact:
    pure 64-bit shift/mask codegen, wraparound-exact vs the oracle's
    HUGEINT replay; decode(i, z) round-trips both coordinates."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, event_id % 100000 as x, user_id as y
          from events where user_id < 15),
        e as (select event_id, mortonEncode(x, y) as z from t)
        select event_id, z,
               mortonDecode(1, z) as dx, mortonDecode(2, z) as dy
        from e order by event_id
        """,
    )


@query(
    "sql_fn_tier10",
    """
    WITH t AS (
      SELECT event_id, ts, props,
             [CAST(event_id % 9 AS BIGINT), CAST(2 AS BIGINT),
              CAST(event_id % 5 AS BIGINT)] AS arr,
             [CAST(event_id % 5 AS BIGINT), CAST(7 AS BIGINT)] AS arr2
      FROM events WHERE user_id < 15)
    SELECT event_id,
      monthname(ts) AS dn_m,
      dayname(ts) AS dn_w,
      CAST(epoch_us(ts) // 1000000
           - epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP)) // 1000000
           AS BIGINT) AS td,
      CAST(year(ts) * 12 + month(ts) AS BIGINT) AS rm,
      CAST((CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 3)
           // 7 AS BIGINT) AS rw,
      CAST(year(ts) AS BIGINT) AS ry,
      CAST(year(ts) AS BIGINT) * 10000000000
        + CAST(month(ts) AS BIGINT) * 100000000
        + CAST(day(ts) AS BIGINT) * 1000000
        + CAST(hour(ts) AS BIGINT) * 10000
        + CAST(minute(ts) AS BIGINT) * 100
        + CAST(second(ts) AS BIGINT) AS ts10,
      CAST(((epoch_us(ts) // 1000000) * 1000 - 1288834974657) << 22
           AS BIGINT) AS snow,
      CAST(to_timestamp((((((epoch_us(ts) // 1000000) * 1000
             - 1288834974657) << 22) >> 22) + 1288834974657) // 1000)
           AS TIMESTAMP) AS sback,
      coalesce(array_to_string(list_filter(
        string_split_regex(props, '[^A-Za-z0-9]+'),
        x -> len(x) > 0), ','), '') AS spl,
      arr[list_position(list_transform(arr, x -> x > 2), true)] AS afo,
      arr[len(arr) + 1 - list_position(
        list_transform(list_reverse(arr), x -> x > 2), true)] AS alo,
      CAST(least(greatest(event_id % 20, 3), 12) AS BIGINT) AS cl,
      coalesce(array_to_string(list_transform(
        list_filter(
          list_filter(list_concat(arr, arr2),
            (x, i) -> list_position(list_concat(arr, arr2), x) = i),
          x -> NOT (list_contains(arr, x) AND list_contains(arr2, x))),
        x -> CAST(x AS VARCHAR)), ','), '') AS sd
    FROM t ORDER BY event_id
    """,
)
def sql_fn_tier10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-10 surface — calendar names and period codecs:
    dateName (fixed English names), timeDiff, toRelative{Month,Week,
    Year}Num (weeks are Monday-bounded epoch weeks, +3 alignment —
    documented convention), toYYYYMMDDhhmmss, snowflake ID round-trip
    (41-bit millis << 22, integer-exact both ways), splitByNonAlpha
    (empty runs dropped), arrayFirstOrNull/arrayLastOrNull, clamp,
    and arraySymmetricDifference (union minus intersection, left
    order). All JVM expression trees; one Exchange for ORDER BY."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, ts, props,
                 [toInt64(event_id % 9), toInt64(2),
                  toInt64(event_id % 5)] as arr,
                 [toInt64(event_id % 5), toInt64(7)] as arr2
          from events where user_id < 15)
        select event_id,
               dateName('month', ts) as dn_m,
               dateName('weekday', ts) as dn_w,
               timeDiff(toDate(ts), ts) as td,
               toRelativeMonthNum(ts) as rm,
               toRelativeWeekNum(ts) as rw,
               toRelativeYearNum(ts) as ry,
               toYYYYMMDDhhmmss(ts) as ts10,
               dateTimeToSnowflakeID(ts) as snow,
               snowflakeIDToDateTime(dateTimeToSnowflakeID(ts)) as sback,
               arrayStringConcat(splitByNonAlpha(props), ',') as spl,
               arrayFirstOrNull(x -> x > 2, arr) as afo,
               arrayLastOrNull(x -> x > 2, arr) as alo,
               clamp(event_id % 20, 3, 12) as cl,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arraySymmetricDifference(arr, arr2)), ',') as sd
        from t order by event_id
        """,
    )


# --- tier-11: string-similarity family --------------------------------------

_OSA_INF = 1 << 40


def _oracle_cp(expr: str) -> str:
    """Codepoint list of a string — the DuckDB twin of the registry's
    _cp (string_split('') drops nothing because empty splits vanish)."""
    return (
        f"list_transform(string_split({expr}, ''), "
        "c -> CAST(ascii(c) AS BIGINT))"
    )


def _oracle_osa(A: str, B: str, la: str, lb: str) -> str:
    """DuckDB mirror of the registry's OSA Damerau-Levenshtein fold
    (functions/registry.py _damerau_osa): the SAME nested
    rows-of-the-DP-matrix fold, with the accumulator FLATTENED to one
    BIGINT list (state = prevprev || prev, each lb+1 long) because
    DuckDB struct-accumulator list_reduce is broken under vectorized
    multi-group execution (the r10 trap) while plain BIGINT[] folds
    are exact. Elements are [i]/[j] singleton lists so the reduce's
    acc-type == element-type constraint holds."""
    return f"""(
      CASE WHEN {la} = 0 THEN CAST({lb} AS BIGINT)
           WHEN {lb} = 0 THEN CAST({la} AS BIGINT)
           ELSE (
             list_reduce(
               [list_concat(
                  list_transform(range(1, {lb}+2),
                                 x -> CAST({_OSA_INF} AS BIGINT)),
                  list_transform(range(0, {lb}+1),
                                 x -> CAST(x AS BIGINT)))]
               || list_transform(range(1, {la}+1),
                                 i -> [CAST(i AS BIGINT)]),
               (st, xi) -> list_concat(
                 st[{lb}+2 : 2*{lb}+2],
                 list_reduce(
                   [[xi[1]]] || list_transform(range(1, {lb}+1),
                                               j -> [CAST(j AS BIGINT)]),
                   (r, xj) -> r || [least(
                      st[{lb}+2+xj[1]] + 1,
                      r[len(r)] + 1,
                      st[{lb}+1+xj[1]]
                        + (CASE WHEN {A}[xi[1]] = {B}[xj[1]]
                                THEN 0 ELSE 1 END),
                      CASE WHEN xi[1] >= 2 AND xj[1] >= 2
                                AND {A}[xi[1]] = {B}[xj[1]-1]
                                AND {A}[xi[1]-1] = {B}[xj[1]]
                           THEN st[xj[1]-1] + 1
                           ELSE CAST({_OSA_INF} AS BIGINT) END)]
                 )
               )
             )[2*({lb}+1)]
           ) END)"""


def _oracle_byte_hamming(A: str, B: str, la: str, lb: str) -> str:
    return (
        f"CAST((CASE WHEN least({la},{lb}) = 0 THEN 0 ELSE "
        f"len(list_filter(range(1, least({la},{lb})+1), "
        f"i -> {A}[i] <> {B}[i])) END) + abs({la} - {lb}) AS BIGINT)"
    )


@query(
    "sql_fn_strsim",
    f"""
    WITH t0 AS (
      SELECT doc_id,
        list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                    x -> len(x) > 0) AS ws,
        substr(text, 1, 12) AS p1, substr(text, 3, 12) AS p2
      FROM documents WHERE doc_id < 200),
    t AS (SELECT doc_id, ws[1] AS w1, ws[2] AS w2, p1, p2 FROM t0),
    cp AS (SELECT doc_id, w1, w2, p1, p2,
            {_oracle_cp('w1')} AS A1, {_oracle_cp('w2')} AS B1,
            {_oracle_cp('p1')} AS A2, {_oracle_cp('p2')} AS B2
           FROM t),
    sz AS (SELECT *, len(A1) AS la1, len(B1) AS lb1,
                  len(A2) AS la2, len(B2) AS lb2 FROM sz0),
    sz0 AS (SELECT * FROM cp)
    SELECT doc_id,
      {_oracle_osa('A1', 'B1', 'la1', 'lb1')} AS dl_w,
      {_oracle_osa('A2', 'B2', 'la2', 'lb2')} AS dl_p,
      jaro_similarity(w1, w2) AS js_w,
      jaro_winkler_similarity(w1, w2) AS jws_w,
      jaro_similarity(p1, p2) AS js_p,
      jaro_winkler_similarity(p1, p2) AS jws_p,
      {_oracle_byte_hamming('A1', 'B1', 'la1', 'lb1')} AS bh
    FROM sz ORDER BY doc_id
    """,
)
def sql_fn_strsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-11 string-similarity family over word pairs and
    shifted text slices: damerauLevenshteinDistance (OSA form — each
    substring edited once; mirrored in DuckDB as the identical nested
    DP fold because the native damerau_levenshtein is the unrestricted
    variant), jaroSimilarity / jaroWinklerSimilarity (bit-exact
    against DuckDB's NATIVE implementations — textbook window/match/
    floored-transposition algorithm, 0.7 boost threshold, prefix cap
    4), and byteHammingDistance (common-prefix diffs + length tail).
    All nested F.aggregate folds over let-bound codepoint arrays —
    whole-stage codegen, no Python; one Exchange for ORDER BY."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select doc_id,
                 splitByNonAlpha(text)[1] as w1,
                 splitByNonAlpha(text)[2] as w2,
                 substring(text, 1, 12) as p1,
                 substring(text, 3, 12) as p2
          from documents where doc_id < 200)
        select doc_id,
               damerauLevenshteinDistance(w1, w2) as dl_w,
               damerauLevenshteinDistance(p1, p2) as dl_p,
               jaroSimilarity(w1, w2) as js_w,
               jaroWinklerSimilarity(w1, w2) as jws_w,
               jaroSimilarity(p1, p2) as js_p,
               jaroWinklerSimilarity(p1, p2) as jws_p,
               byteHammingDistance(w1, w2) as bh
        from t order by doc_id
        """,
    )


# --- tier-11 grab bag: factorial/unbin/kv-pairs/geo ---------------------------

_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _oracle_geohash_encode(lon: str, lat: str, p: int) -> str:
    """DuckDB mirror of registry _geohash_encode: the identical flat
    DOUBLE[]-state fold (struct accumulators are the r10 list_reduce
    trap); every midpoint is an exact IEEE (lo+hi)/2 so the string is
    bit-identical."""
    step = f"""(st, xi) -> list_concat(
        [CASE WHEN CAST(xi[1] AS BIGINT) % 2 = 0
              THEN (CASE WHEN {lon} >= (st[1]+st[2])/2
                         THEN (st[1]+st[2])/2 ELSE st[1] END)
              ELSE st[1] END,
         CASE WHEN CAST(xi[1] AS BIGINT) % 2 = 0
              THEN (CASE WHEN {lon} >= (st[1]+st[2])/2
                         THEN st[2] ELSE (st[1]+st[2])/2 END)
              ELSE st[2] END,
         CASE WHEN CAST(xi[1] AS BIGINT) % 2 = 0 THEN st[3]
              ELSE (CASE WHEN {lat} >= (st[3]+st[4])/2
                         THEN (st[3]+st[4])/2 ELSE st[3] END) END,
         CASE WHEN CAST(xi[1] AS BIGINT) % 2 = 0 THEN st[4]
              ELSE (CASE WHEN {lat} >= (st[3]+st[4])/2
                         THEN st[4] ELSE (st[3]+st[4])/2 END) END,
         CASE WHEN CAST(xi[1] AS BIGINT) % 5 = 4 THEN 0.0
              ELSE st[5]*2 + (CASE WHEN (CASE WHEN CAST(xi[1] AS BIGINT) % 2 = 0
                                              THEN {lon} >= (st[1]+st[2])/2
                                              ELSE {lat} >= (st[3]+st[4])/2 END)
                                   THEN 1.0 ELSE 0.0 END) END],
        list_concat(
          st[6 : len(st)],
          CASE WHEN CAST(xi[1] AS BIGINT) % 5 = 4
               THEN [st[5]*2 + (CASE WHEN (CASE WHEN CAST(xi[1] AS BIGINT) % 2 = 0
                                                THEN {lon} >= (st[1]+st[2])/2
                                                ELSE {lat} >= (st[3]+st[4])/2 END)
                                     THEN 1.0 ELSE 0.0 END)]
               ELSE CAST([] AS DOUBLE[]) END))"""
    fold = f"""list_reduce(
        [[CAST(-180 AS DOUBLE), 180, -90, 90, 0]]
        || list_transform(range(0, {p * 5}), i -> [CAST(i AS DOUBLE)]),
        {step})"""
    return (
        f"array_to_string(list_transform(({fold})[6 : {p} + 5], "
        f"d -> substr('{_GH32}', CAST(d AS INT) + 1, 1)), '')"
    )


def _oracle_geohash_decode(dim: int, h: str) -> str:
    bits = f"""flatten(list_transform(string_split({h}, ''),
        c -> list_transform([4, 3, 2, 1, 0],
          k -> [CAST((strpos('{_GH32}', c) - 1) // (1 << k) % 2 AS DOUBLE)])))"""
    step = """(st, xb) -> [
        CASE WHEN CAST(st[5] AS BIGINT) % 2 = 0
             THEN (CASE WHEN xb[1] = 1 THEN (st[1]+st[2])/2 ELSE st[1] END)
             ELSE st[1] END,
        CASE WHEN CAST(st[5] AS BIGINT) % 2 = 0
             THEN (CASE WHEN xb[1] = 1 THEN st[2] ELSE (st[1]+st[2])/2 END)
             ELSE st[2] END,
        CASE WHEN CAST(st[5] AS BIGINT) % 2 = 0 THEN st[3]
             ELSE (CASE WHEN xb[1] = 1 THEN (st[3]+st[4])/2 ELSE st[3] END) END,
        CASE WHEN CAST(st[5] AS BIGINT) % 2 = 0 THEN st[4]
             ELSE (CASE WHEN xb[1] = 1 THEN st[4] ELSE (st[3]+st[4])/2 END) END,
        st[5] + 1]"""
    fold = f"""list_reduce(
        [[CAST(-180 AS DOUBLE), 180, -90, 90, 0]] || {bits}, {step})"""
    pick = "(({f})[1] + ({f})[2]) / 2" if dim == 1 else "(({f})[3] + ({f})[4]) / 2"
    return pick.replace("{f}", fold)


_PIP_POLY = "[[0,0],[10,0],[10,10],[5,5],[0,10]]"  # non-convex pentagon
_PIP_N = 5


def _oracle_pip(x: str, y: str) -> str:
    a = f"(CAST({_PIP_POLY} AS BIGINT[][]))[i+1]"
    b = (
        f"(CAST({_PIP_POLY} AS BIGINT[][]))"
        f"[CASE WHEN i = 0 THEN {_PIP_N} ELSE i END]"
    )
    crossing = f"""(
        (({a})[2] > {y}) <> (({b})[2] > {y})
        AND (CASE WHEN ({b})[2] - ({a})[2] > 0
                  THEN ({x} - ({a})[1]) * (({b})[2] - ({a})[2])
                       < (({b})[1] - ({a})[1]) * ({y} - ({a})[2])
                  ELSE ({x} - ({a})[1]) * (({b})[2] - ({a})[2])
                       > (({b})[1] - ({a})[1]) * ({y} - ({a})[2]) END))"""
    return (
        f"CAST(len(list_filter(range(0, {_PIP_N}), i -> {crossing})) % 2 "
        "AS BIGINT)"
    )


@query(
    "sql_fn_tier11",
    f"""
    WITH t AS (
      SELECT event_id, event_type,
             CAST(event_id % 25 - 2 AS BIGINT) AS fn,
             CAST(event_id % 1000 + 1 AS BIGINT) AS bm,
             CAST(event_id % 6 AS BIGINT) AS ze,
             'a:' || CAST(event_id % 5 AS VARCHAR) || ', b : ' || event_type
               || ' ,a:9,junk,' AS kvs,
             CAST(event_id % 21 - 10 AS BIGINT) AS px,
             CAST(event_id % 17 - 8 AS BIGINT) AS py,
             CAST(event_id % 360 AS DOUBLE) - 180 + 0.5 AS lon,
             CAST(event_id % 180 AS DOUBLE) - 90 + 0.25 AS lat
      FROM events WHERE user_id < 15)
    SELECT event_id,
      CASE WHEN fn < 0 OR fn > 20 THEN NULL
           ELSE CAST(factorial(CAST(fn AS INT)) AS BIGINT) END AS fac,
      bm AS ubrt,
      CAST(1 << ze AS BIGINT) AS ubp,
      'a,b' AS kvk,
      CAST(event_id % 5 AS VARCHAR) || ',' || event_type AS kvv,
      {_oracle_pip('px', 'py')} AS pip,
      {_oracle_geohash_encode('lon', 'lat', 6)} AS gh,
      {_oracle_geohash_decode(1, _oracle_geohash_encode('lon', 'lat', 6))} AS glon,
      {_oracle_geohash_decode(2, _oracle_geohash_encode('lon', 'lat', 6))} AS glat
    FROM t ORDER BY event_id
    """,
)
def sql_fn_tier11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-11 grab bag: factorial (0..20, NULL-instead-of-junk
    guard), unbin (inverse of the numeric bin — round-trip plus a
    '1'+zeros power-of-two pattern), extractKeyValuePairs (trimmed
    first-colon split, first duplicate key wins; keys/values
    string-joined through mapSort for a canonical order),
    pointInPolygon over a non-convex pentagon (cross-multiplied ray
    casting — integer-exact), and the geohash pair (encode at
    precision 6, decode back to the cell center; the oracle replays
    the identical flat DOUBLE[] fold, every midpoint an exact IEEE
    halving). All JVM expression trees; one Exchange for ORDER BY."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id,
                 toInt64(event_id % 25) - 2 as fn,
                 toInt64(event_id % 1000) + 1 as bm,
                 toInt64(event_id % 6) as ze,
                 concat('a:', toString(event_id % 5), ', b : ', event_type,
                        ' ,a:9,junk,') as kvs,
                 toInt64(event_id % 21) - 10 as px,
                 toInt64(event_id % 17) - 8 as py,
                 toFloat64(event_id % 360) - 180 + 0.5 as lon,
                 toFloat64(event_id % 180) - 90 + 0.25 as lat
          from events where user_id < 15),
        g as (
          select event_id, fn, bm, ze, kvs, px, py,
                 geohashEncode(lon, lat, 6) as gh
          from t)
        select event_id,
               factorial(fn) as fac,
               unbin(bin(bm)) as ubrt,
               unbin(concat('1', repeat('0', ze))) as ubp,
               arrayStringConcat(mapKeys(mapSort(
                 extractKeyValuePairs(kvs))), ',') as kvk,
               arrayStringConcat(mapValues(mapSort(
                 extractKeyValuePairs(kvs))), ',') as kvv,
               pointInPolygon([px, py],
                 [[toInt64(0),toInt64(0)],[toInt64(10),toInt64(0)],
                  [toInt64(10),toInt64(10)],[toInt64(5),toInt64(5)],
                  [toInt64(0),toInt64(10)]]) as pip,
               gh,
               geohashDecode(1, gh) as glon,
               geohashDecode(2, gh) as glat
        from g order by event_id
        """,
    )


# --- tier-11: two-sample test aggregates -------------------------------------

_TT_V0 = "((q0 - s0*s0/n0) / (n0 - 1))"
_TT_V1 = "((q1 - s1*s1/n1) / (n1 - 1))"
_TT_SP2 = f"(((n0 - 1) * {_TT_V0} + (n1 - 1) * {_TT_V1}) / (n0 + n1 - 2))"
_TT_DEN_S = f"sqrt({_TT_SP2} * (1/n0 + 1/n1))"
_TT_DEN_W = f"sqrt({_TT_V0}/n0 + {_TT_V1}/n1)"

_MWU_FOLD = """list_reduce(
  [[CAST(0 AS BIGINT), 0]]
  || list_transform(
       list_sort(list_distinct(list_transform(cl, c -> c - (c % 2)))),
       v -> [v]),
  (st, xv) -> [
    st[1] + len(list_filter(cl, c -> c - (c % 2) = xv[1])),
    st[2] + (2*st[1] + len(list_filter(cl, c -> c - (c % 2) = xv[1])) + 1)
            * len(list_filter(cl, c -> c = xv[1] + 1))])"""


@query(
    "sql_agg_ttest",
    f"""
    WITH t AS (
      SELECT o_custkey AS cust, CAST(floor(o_totalprice) AS BIGINT) AS x,
             CAST(o_orderkey % 2 AS BIGINT) AS i
      FROM orders WHERE o_custkey < 300),
    agg AS (
      SELECT cust,
        CAST(CAST(SUM(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) AS n0,
        CAST(CAST(SUM(CASE WHEN i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) AS n1,
        CAST(CAST(SUM(CASE WHEN i = 0 THEN x ELSE 0 END) AS BIGINT) AS DOUBLE) AS s0,
        CAST(CAST(SUM(CASE WHEN i = 1 THEN x ELSE 0 END) AS BIGINT) AS DOUBLE) AS s1,
        CAST(CAST(SUM(CASE WHEN i = 0 THEN x*x ELSE 0 END) AS BIGINT) AS DOUBLE) AS q0,
        CAST(CAST(SUM(CASE WHEN i = 1 THEN x*x ELSE 0 END) AS BIGINT) AS DOUBLE) AS q1,
        list(x*2 + i) AS cl
      FROM t GROUP BY cust)
    SELECT cust,
      CASE WHEN n0 < 2 OR n1 < 2 OR {_TT_DEN_S} <= 0 THEN NULL
           ELSE (s0/n0 - s1/n1) / {_TT_DEN_S} END AS st,
      CASE WHEN n0 < 2 OR n1 < 2 OR {_TT_DEN_W} <= 0 THEN NULL
           ELSE (s0/n0 - s1/n1) / {_TT_DEN_W} END AS wt,
      CASE WHEN len(list_filter(cl, c -> c % 2 = 1)) = 0
                OR len(list_filter(cl, c -> c % 2 = 1)) = len(cl)
           THEN NULL
           ELSE CAST(({_MWU_FOLD})[2]
                     - len(list_filter(cl, c -> c % 2 = 1))
                       * (len(list_filter(cl, c -> c % 2 = 1)) + 1)
                     AS DOUBLE) / 2 END AS u,
      CASE WHEN n0 < 1 OR n1 < 1 OR sqrt(4000000/n0 + 9000000/n1) <= 0
                OR sqrt(4000000/n0 + 9000000/n1) IS NULL THEN NULL
           ELSE (s0/n0 - s1/n1) / sqrt(4000000/n0 + 9000000/n1) END AS mz
    FROM agg ORDER BY cust
    """,
)
def sql_agg_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-11 A/B-test aggregates per customer (orders split by
    odd/even order key): studentTTest (pooled variance), welchTTest
    (unequal variance), mannWhitneyUTest (midrank-tied U, exact
    rationals) — statistic components; the p-values need libm
    (incomplete beta / erf) and are deliberately not exposed. The six
    sufficient statistics are exact int64 sums inside ONE hash
    aggregate; the statistic is a fixed double expression over them
    (division + the exactly-rounded sqrt), so values hash-match the
    oracle running the same formula over SUM/COUNT. Degenerate
    samples (either side < 2, zero variance, one-sided groups) →
    NULL-instead-of-junk."""
    return _run(
        spark,
        sf_dir,
        """
        select o_custkey as cust,
               studentTTest(toInt64(floor(o_totalprice)),
                            o_orderkey % 2) as st,
               welchTTest(toInt64(floor(o_totalprice)),
                          o_orderkey % 2) as wt,
               mannWhitneyUTest(toInt64(floor(o_totalprice)),
                                o_orderkey % 2) as u,
               meanZTest(toInt64(floor(o_totalprice)),
                         o_orderkey % 2, 4000000, 9000000) as mz
        from orders where o_custkey < 300
        group by cust order by cust
        """,
    )


_KS_FOLD = """list_reduce(
  [[CAST(0 AS BIGINT), 0, 0]]
  || list_transform(
       list_sort(list_distinct(list_transform(cl, c -> c - (c % 2)))),
       v -> [v]),
  (st, xv) -> [
    st[1] + len(list_filter(cl, c -> c = xv[1])),
    st[2] + len(list_filter(cl, c -> c = xv[1] + 1)),
    greatest(st[3],
      abs((st[1] + len(list_filter(cl, c -> c = xv[1]))) * n1
        - (st[2] + len(list_filter(cl, c -> c = xv[1] + 1))) * n0))])"""

_PZT_P = "((sx + sy) / (nx + ny))"
_PZT_DEN = f"sqrt({_PZT_P} * (1 - {_PZT_P}) * (1/nx + 1/ny))"


@query(
    "sql_agg_ks",
    f"""
    WITH t AS (
      SELECT o_custkey AS cust, CAST(floor(o_totalprice) AS BIGINT) AS x,
             CAST(o_orderkey % 2 AS BIGINT) AS i,
             CAST(o_orderstatus = 'F' AS BIGINT) AS s,
             CAST(o_orderkey % 10 AS BIGINT) AS xk
      FROM orders WHERE o_custkey < 300),
    g AS (SELECT cust, list(x*2 + i) AS cl, list(xk) AS cl2,
                 CAST(CAST(SUM(CASE WHEN i = 0 THEN s ELSE 0 END) AS BIGINT) AS DOUBLE) AS sx,
                 CAST(CAST(SUM(CASE WHEN i = 1 THEN s ELSE 0 END) AS BIGINT) AS DOUBLE) AS sy,
                 CAST(CAST(SUM(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) AS nx,
                 CAST(CAST(SUM(CASE WHEN i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) AS ny
          FROM t GROUP BY cust),
    s AS (SELECT cust, cl, cl2, sx, sy, nx, ny,
                 CAST(len(list_filter(cl, c -> c % 2 = 0)) AS BIGINT) AS n0,
                 CAST(len(list_filter(cl, c -> c % 2 = 1)) AS BIGINT) AS n1
          FROM g)
    SELECT cust,
      CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
           ELSE CAST(({_KS_FOLD})[3] AS DOUBLE) / (n0 * n1) END AS ks,
      CASE WHEN nx <= 0 OR ny <= 0 OR {_PZT_DEN} <= 0
                OR {_PZT_DEN} IS NULL THEN NULL
           ELSE (sx/nx - sy/ny) / {_PZT_DEN} END AS z,
      (list_reduce(
        [[CAST(-1 AS BIGINT), 0]]
        || list_transform(list_sort(list_distinct(cl2)), v -> [v]),
        (st, xv) -> CASE
          WHEN CAST(len(list_filter(cl2, c -> c = xv[1])) AS BIGINT) > st[1]
          THEN [CAST(len(list_filter(cl2, c -> c = xv[1])) AS BIGINT), xv[1]]
          ELSE st END))[2] AS ah,
      CAST(len(list_distinct(cl2)) AS BIGINT) AS gb
    FROM s ORDER BY cust
    """,
)
def sql_agg_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-11 distribution tests per customer:
    kolmogorovSmirnovTest (two-sample KS D over odd/even-keyed order
    totals — exact rationals, max|c0·n1 − c1·n0|/(n0·n1) folded over
    sorted distinct values) and proportionsZTest (pooled
    two-proportion z over the F-status share of each sample — fixed
    double expression over four exact int sums). Statistic
    components; both p-values are libm and deliberately unexposed.
    Degenerate samples NULL-instead-of-junk."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select o_custkey as cust,
                 toInt64(floor(o_totalprice)) as x,
                 o_orderkey % 2 as i,
                 toInt64(o_orderstatus = 'F') as s,
                 o_orderkey % 10 as xk
          from orders where o_custkey < 300),
        g as (
          select cust,
                 kolmogorovSmirnovTest(x, i) as ks,
                 sumIf(s, i = 0) as sx, sumIf(s, i = 1) as sy,
                 countIf(i = 0) as nx, countIf(i = 1) as ny,
                 anyHeavy(xk) as ah,
                 groupBitmap(xk) as gb
          from t group by cust)
        select cust, ks,
               proportionsZTest(sx, sy, nx, ny) as z, ah, gb
        from g order by cust
        """,
    )


# --- tier-12: regex multi-match, buckets, deterministic shuffles --------------

_SHUF_KEYED = (
    "list_transform(range(1, len({a})+1), i -> "
    "{{'k': md5(CAST(i AS VARCHAR) || '|' || CAST({a}[i] AS VARCHAR)), "
    "'v': {a}[i]}})"
)


def _oracle_shuffle(a: str) -> str:
    keyed = _SHUF_KEYED.format(a=a)
    return f"list_transform(list_sort({keyed}), e -> e.v)"


def _oracle_lev(A: str, B: str, la: str, lb: str) -> str:
    """DuckDB mirror of arrayLevenshtein: the plain-Levenshtein DP as
    the same nested BIGINT[]-accumulator fold, carrying only the
    previous row (no transposition lookback)."""
    return f"""(
      CASE WHEN {la} = 0 THEN CAST({lb} AS BIGINT)
           WHEN {lb} = 0 THEN CAST({la} AS BIGINT)
           ELSE (
             list_reduce(
               [list_transform(range(0, {lb}+1), x -> CAST(x AS BIGINT))]
               || list_transform(range(1, {la}+1),
                                 i -> [CAST(i AS BIGINT)]),
               (prev, xi) -> list_reduce(
                 [[xi[1]]] || list_transform(range(1, {lb}+1),
                                             j -> [CAST(j AS BIGINT)]),
                 (r, xj) -> r || [least(
                    prev[xj[1]+1] + 1,
                    r[len(r)] + 1,
                    prev[xj[1]]
                      + (CASE WHEN {A}[xi[1]] = {B}[xj[1]]
                              THEN 0 ELSE 1 END))]
               )
             )
           )[{lb}+1] END)"""


@query(
    "sql_fn_tier12",
    f"""
    WITH t AS (
      SELECT event_id, ts, props,
             CAST(event_id % 100 AS DOUBLE) + 0.5 AS wx,
             [CAST(event_id % 7 AS BIGINT), CAST(event_id % 5 AS BIGINT),
              CAST(event_id % 3 AS BIGINT), CAST(2 AS BIGINT)] AS arr,
             [CAST(event_id % 5 AS BIGINT), CAST(7 AS BIGINT),
              CAST(event_id % 3 AS BIGINT)] AS arr2
      FROM events WHERE user_id < 15)
    SELECT event_id,
      CAST(to_timestamp(86400 + epoch_us(ts) // 1000000 % 86400)
           AS TIMESTAMP) AS tt,
      CAST(CASE WHEN wx < 0 THEN 0 WHEN wx >= 100 THEN 11
                ELSE floor((wx - 0) / (100 - 0) * 10) + 1 END
           AS BIGINT) AS wb,
      CAST(len(list_filter(['up', 'e.t', '^z'],
               p -> regexp_matches(props, p))) > 0 AS BOOLEAN) AS mm,
      CAST(coalesce(list_position(
             list_transform(['^zzz', 'e.t'],
                            p -> regexp_matches(props, p)), true), 0)
           AS BIGINT) AS mmi,
      regexp_extract(props, '([a-z]+)', 1) AS rex,
      '' AS ea,
      array_to_string(list_transform({_oracle_shuffle('arr')},
                                     x -> CAST(x AS VARCHAR)), ',') AS shuf,
      array_to_string(list_transform(({_oracle_shuffle('arr')})[1:2],
                                     x -> CAST(x AS VARCHAR)), ',') AS samp,
      {_oracle_lev('arr', 'arr2', 'len(arr)', 'len(arr2)')} AS alev
    FROM t ORDER BY event_id
    """,
)
def sql_fn_tier12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-12 surface: toTime (time-of-day pinned to
    1970-01-02), widthBucket (Spark's built-in; the oracle replays the
    closed-form bucket with boundary-free fixture values),
    multiMatchAny / multiMatchAnyIndex (regex-any over a pattern
    array — column-pattern rlike), regexpExtract, the typed
    emptyArray* constructor family, and DETERMINISTIC arrayShuffle /
    arrayRandomSample (md5(position||value)-keyed permutation — the
    documented determinism deviation from CH's random shuffle; the
    oracle replays the identical keyed sort). One Exchange for
    ORDER BY."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, ts, props,
                 toFloat64(event_id % 100) + 0.5 as wx,
                 [toInt64(event_id % 7), toInt64(event_id % 5),
                  toInt64(event_id % 3), toInt64(2)] as arr,
                 [toInt64(event_id % 5), toInt64(7),
                  toInt64(event_id % 3)] as arr2
          from events where user_id < 15)
        select event_id,
               toTime(ts) as tt,
               widthBucket(wx, 0, 100, 10) as wb,
               multiMatchAny(props, ['up', 'e.t', '^z']) as mm,
               multiMatchAnyIndex(props, ['^zzz', 'e.t']) as mmi,
               regexpExtract(props, '([a-z]+)', 1) as rex,
               arrayStringConcat(arrayMap(x -> toString(x),
                 emptyArrayInt64()), ',') as ea,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayShuffle(arr)), ',') as shuf,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayRandomSample(arr, 2)), ',') as samp,
               arrayLevenshtein(arr, arr2) as alev
        from t order by event_id
        """,
    )


# --- tier-13: ANOVA / sparkbar / groupArrayInsertAt ---------------------------

_ANOVA_SG = """CAST(list_sum(list_transform(list_zip(xs, gs), z ->
        CASE WHEN z[2] = gg THEN z[1] ELSE 0 END)) AS DOUBLE)"""

_ANOVA_T = f"""list_reduce(
  [CAST(0.0 AS DOUBLE)] || list_transform(dv, gg ->
    {_ANOVA_SG} * {_ANOVA_SG}
    / CAST(len(list_filter(gs, x2 -> x2 = gg)) AS DOUBLE)),
  (a, b) -> a + b)"""

_SB_W = """list_transform(range(0, 8), b -> list_sum(
  list_transform(cl2, t -> CASE WHEN
    ((t[1] - mn) * 8) // (mx - mn + 1)
    = b THEN t[2] ELSE 0 END)))"""


@query(
    "sql_agg_anova",
    f"""
    WITH t AS (
      SELECT o_custkey AS cust, CAST(floor(o_totalprice) AS BIGINT) AS x,
             CAST(o_orderkey % 5 AS BIGINT) AS g,
             CAST(year(o_orderdate) AS BIGINT) AS yr
      FROM orders WHERE o_custkey < 300),
    g1 AS (
      SELECT cust, list(x*8 + g) AS cl,
             list([yr, CAST(1 AS BIGINT)]) AS cl2,
             list([g, x]) AS cl3
      FROM t GROUP BY cust),
    s AS (
      SELECT cust, cl2, cl3, CAST(len(cl) AS BIGINT) AS n,
             list_transform(cl, c -> (c - c % 8) // 8) AS xs,
             list_transform(cl, c -> c % 8) AS gs
      FROM g1),
    u AS (
      SELECT cust, cl2, cl3, n, xs, gs,
             list_sum(xs) AS s_, list_sum(list_transform(xs, v -> v*v)) AS q_,
             list_sort(list_distinct(gs)) AS dv
      FROM s),
    v AS (
      SELECT cust, cl2, cl3, n, s_, q_, CAST(len(dv) AS BIGINT) AS k,
             {_ANOVA_T} AS t_
      FROM u),
    w AS (
      SELECT cust, cl3, n, s_, q_, k, t_,
             list_min(list_transform(cl2, t -> t[1])) AS mn,
             list_max(list_transform(cl2, t -> t[1])) AS mx, cl2
      FROM v),
    sb AS (
      SELECT cust, cl3, n, s_, q_, k, t_, mn, mx,
             {_SB_W} AS weights
      FROM w)
    SELECT cust,
      CASE WHEN k < 2 OR n <= k OR (CAST(q_ AS DOUBLE) - t_) <= 0 THEN NULL
           ELSE ((t_ - CAST(s_*s_ AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(k - 1 AS DOUBLE))
                / ((CAST(q_ AS DOUBLE) - t_) / CAST(n - k AS DOUBLE)) END AS f,
      array_to_string(list_transform(weights, w2 -> substring(
        '░▁▂▃▄▅▆▇█',
        CAST(CASE WHEN w2 <= 0 THEN 0 ELSE
          (w2 * 8 + list_max(weights) - 1) // list_max(weights)
        END AS INT) + 1,
        1)), '') AS sb,
      array_to_string(list_transform(range(0, 5), p -> CAST(coalesce(
        list_min(list_transform(list_filter(cl3, t2 -> t2[1] = p),
                                t2 -> t2[2])),
        CAST(-1 AS BIGINT)) AS VARCHAR)), ',') AS ga
    FROM sb ORDER BY cust
    """,
)
def sql_agg_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-13 aggregates per customer: analysisOfVariance
    (one-way ANOVA F statistic over order totals grouped by order-key
    residue — exact int sufficient statistics, the one float
    accumulation folded in sorted-group order so the oracle replays the
    identical rounding sequence), sparkbar(8) (inline text histogram of
    order years, integer-exact bucket/level math so the glyph string
    hash-oracles), and groupArrayInsertAt (fixed-size positional array,
    MIN on collisions — the documented determinism strengthening).
    Statistic component only for ANOVA; its p-value is the incomplete
    beta (libm) and lives in the PYTEST_ONLY family."""
    return _run(
        spark,
        sf_dir,
        """
        select o_custkey as cust,
               analysisOfVariance(toInt64(floor(o_totalprice)),
                                  o_orderkey % 5) as f,
               sparkbar(8)(getYear(o_orderdate), toInt64(1)) as sb,
               arrayStringConcat(arrayMap(x -> toString(x),
                 groupArrayInsertAt(-1, 5)(
                   toInt64(floor(o_totalprice)), o_orderkey % 5)), ',') as ga
        from orders where o_custkey < 300
        group by cust order by cust
        """,
    )


_T13_NQ = r"""regexp_replace(regexp_replace(regexp_replace(
  qsql, '''[^'']*''', '?', 'g'),
  '\b\d+(\.\d+)?\b', '?', 'g'),
  '\?(\s*,\s*\?)+', '?..', 'g')"""

_T13_TDS = """CASE WHEN {x} IS NULL THEN NULL ELSE
  concat(CASE WHEN {x} < 0 THEN '-' ELSE '' END,
    CAST(CAST(floor(CAST(CAST(floor(abs({x}) * {p} + 0.5) AS BIGINT)
      AS DOUBLE) / {p}) AS BIGINT) AS VARCHAR),
    '.',
    right(concat(repeat('0', 15), CAST(
      CAST(floor(abs({x}) * {p} + 0.5) AS BIGINT)
      - CAST(floor(CAST(CAST(floor(abs({x}) * {p} + 0.5) AS BIGINT)
          AS DOUBLE) / {p}) AS BIGINT) * CAST({p} AS BIGINT)
      AS VARCHAR)), {s})) END"""


@query(
    "sql_fn_tier13",
    f"""
    WITH t AS (
      SELECT event_id, props,
        CAST(event_id % 1000 AS DOUBLE) / 7 + event_id % 9 AS dx,
        concat('SELECT v FROM t WHERE id = ', CAST(event_id AS VARCHAR),
               ' AND name = ''u', CAST(event_id % 5 AS VARCHAR),
               ''' AND k IN (1, 2, 3)') AS qsql
      FROM events WHERE user_id < 15)
    SELECT event_id,
      regexp_replace(concat(props, '.*[x]+'),
        '([\\^$.\\[\\]|()?*+{{}}:\\-])', '\\\\\\1', 'g') AS rqm,
      strpos(lower(props), 'k"') AS pci,
      {_T13_NQ} AS nq,
      CAST('0x' || substring(md5({_T13_NQ}), 1, 15) AS BIGINT) AS nqh,
      {_T13_TDS.format(x='dx', p='power(10.0, 3)', s='3')} AS tds,
      {_T13_TDS.format(x='-dx', p='power(10.0, 2)', s='2')} AS tdsn
    FROM t ORDER BY event_id
    """,
)
def sql_fn_tier13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-13 scalar surface: regexpQuoteMeta (escape regex
    metacharacters — the oracle replays the identical RE2-compatible
    pattern), positionCaseInsensitiveUTF8, normalizeQuery /
    normalizedQueryHash (literal → '?' placeholder folding with '?..'
    list collapse; the hash is the md5-60-bit sampling-family
    convention, a documented deviation from CH's siphash),
    and toDecimalString (fixed-point rendering by integer-exact
    scaled-half-up assembly — no %f formatting, so Java-vs-C tie
    behavior never enters). One Exchange for ORDER BY."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, props,
                 toFloat64(event_id % 1000) / 7 + event_id % 9 as dx,
                 concat('SELECT v FROM t WHERE id = ',
                        toString(event_id),
                        ' AND name = ''u', toString(event_id % 5),
                        ''' AND k IN (1, 2, 3)') as qsql
          from events where user_id < 15)
        select event_id,
               regexpQuoteMeta(concat(props, '.*[x]+')) as rqm,
               positionCaseInsensitiveUTF8(props, 'K"') as pci,
               normalizeQuery(qsql) as nq,
               normalizedQueryHash(qsql) as nqh,
               toDecimalString(dx, 3) as tds,
               toDecimalString(-dx, 2) as tdsn
        from t order by event_id
        """,
    )


# --- tier-14: sequenceMatchEvents / deterministic group-array forms ----------

_T14_SME = """list_reduce(
  [[CAST(NULL AS BIGINT), NULL, NULL]] ||
  list_transform(list_sort(ev), e -> [e[1], e[2], e[3]]),
  (acc, e) -> [
    CASE WHEN acc[1] IS NULL AND e[2] = 1 THEN e[1] ELSE acc[1] END,
    CASE WHEN acc[2] IS NULL AND e[3] = 1 AND acc[1] IS NOT NULL
         THEN e[1] ELSE acc[2] END,
    NULL])"""

_T14_GAL = """list_transform(
  list_sort(tv)[greatest(len(tv) - 2, 1):len(tv)], p -> p[2])"""


@query(
    "sql_fn_tier14",
    f"""
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS tu, event_type,
             CAST(floor(value) AS BIGINT) AS v
      FROM events WHERE user_id < 40),
    g AS (
      SELECT user_id,
        list([tu, CASE WHEN event_type = 'view' THEN 1 ELSE 0 END,
              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END]) AS ev,
        list([md5(event_type), event_type]) AS ks,
        list([tu, v]) AS tv
      FROM t GROUP BY user_id),
    r AS (
      SELECT user_id,
        CASE WHEN ({_T14_SME})[2] IS NULL THEN NULL
             ELSE array_to_string(({_T14_SME})[1:2], ',') END AS sme,
        array_to_string(list_transform(list_sort(ks)[1:3], p -> p[2]),
                        ',') AS gas,
        array_to_string(list_transform({_T14_GAL},
                        x -> CAST(x AS VARCHAR)), ',') AS gal,
        {_T14_GAL} AS lastv
      FROM g)
    SELECT user_id, sme, gas, gal,
      CASE WHEN len(lastv) = 0 OR sqrt(CAST(list_sum(list_transform(lastv,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DOUBLE)) = 0
           THEN NULL
           ELSE CAST(lastv[1] AS DOUBLE)
                / sqrt(CAST(list_sum(list_transform(lastv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  AS DOUBLE)) END AS an1
    FROM r ORDER BY user_id
    """,
)
def sql_fn_tier14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-14 per user: sequenceMatchEvents (timestamps of the
    earliest view→purchase chain — the greedy-earliest witness is
    canonical for step-only patterns; time-constrained patterns are
    rejected as ill-defined and stay with boolean sequenceMatch),
    groupArraySample (md5-keyed deterministic sample — the
    arrayShuffle convention), groupArrayLast (n most recent by the
    explicit time key — the 2-arg deterministic form, the
    groupArrayMovingSum honesty rationale), and arrayNormalize over
    the last-values vector (exactly-rounded sqrt + one division per
    element, so the double hash-oracles). ONE hash aggregate."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select user_id, toUnixMicros(ts) as tu, event_type,
                 toInt64(floor(value)) as v
          from events where user_id < 40)
        select user_id,
               arrayStringConcat(arrayMap(x -> toString(x),
                 sequenceMatchEvents('(?1)(?2)')(tu,
                   event_type = 'view', event_type = 'purchase')),
                 ',') as sme,
               arrayStringConcat(groupArraySample(3)(event_type),
                 ',') as gas,
               arrayStringConcat(arrayMap(x -> toString(x),
                 groupArrayLast(3)(v, tu)), ',') as gal,
               arrayNormalize(groupArrayLast(3)(v, tu))[1] as an1
        from t group by user_id order by user_id
        """,
    )


# --- windowFunnel strict modes ------------------------------------------------

_WF_W = 86400000000
_WF_EV = """list_transform(list_sort(ev), x -> [x[1], x[2], x[3], x[4]])"""

_WF_SO_R1 = "CASE WHEN e[2] = 1 THEN e[1] END"
_WF_SO_R2 = (
    f"CASE WHEN e[3] = 1 AND a[1] IS NOT NULL AND e[1] - a[1] <= {_WF_W} "
    "THEN a[1] END"
)
_WF_SO_R3 = (
    f"CASE WHEN e[4] = 1 AND a[2] IS NOT NULL AND e[1] - a[2] <= {_WF_W} "
    "THEN a[2] END"
)
_WF_SO = f"""list_reduce(
  [[CAST(NULL AS BIGINT), NULL, NULL, 0]] || {_WF_EV},
  (a, e) -> [
    {_WF_SO_R1}, {_WF_SO_R2}, {_WF_SO_R3},
    greatest(a[4],
      CASE WHEN ({_WF_SO_R3}) IS NOT NULL THEN 3
           WHEN ({_WF_SO_R2}) IS NOT NULL THEN 2
           WHEN ({_WF_SO_R1}) IS NOT NULL THEN 1
           ELSE 0 END)])"""

_WF_SD_E1 = "CASE WHEN e[2] = 1 THEN e[1] END"
_WF_SD_E2 = (
    f"CASE WHEN e[3] = 1 AND a[1] IS NOT NULL AND e[1] - a[1] <= {_WF_W} "
    "THEN a[1] END"
)
_WF_SD_E3 = (
    f"CASE WHEN e[4] = 1 AND a[2] IS NOT NULL AND e[1] - a[2] <= {_WF_W} "
    "THEN a[2] END"
)
_WF_SD_R1 = f"coalesce({_WF_SD_E1}, CASE WHEN e[2] = 1 THEN NULL ELSE a[1] END)"
_WF_SD_R2 = (
    f"coalesce({_WF_SD_E2}, "
    "CASE WHEN e[2] = 1 OR e[3] = 1 THEN NULL ELSE a[2] END)"
)
_WF_SD_R3 = (
    f"coalesce({_WF_SD_E3}, "
    "CASE WHEN e[2] = 1 OR e[3] = 1 OR e[4] = 1 THEN NULL ELSE a[3] END)"
)
_WF_SD = f"""list_reduce(
  [[CAST(NULL AS BIGINT), NULL, NULL, 0]] || {_WF_EV},
  (a, e) -> [
    {_WF_SD_R1}, {_WF_SD_R2}, {_WF_SD_R3},
    greatest(a[4],
      CASE WHEN ({_WF_SD_R3}) IS NOT NULL THEN 3
           WHEN ({_WF_SD_R2}) IS NOT NULL THEN 2
           WHEN ({_WF_SD_R1}) IS NOT NULL THEN 1
           ELSE 0 END)])"""


@query(
    "sql_funnel_strict",
    f"""
    WITH e AS (
      SELECT user_id,
             list([epoch_us(ts),
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END])
               AS ev
      FROM events WHERE user_id < 120 GROUP BY user_id),
    r AS (SELECT user_id, unnest(ev) AS x FROM e),
    f AS (SELECT user_id, x[1] AS t,
                 x[2] AS c1, x[3] AS c2, x[4] AS c3 FROM r),
    l1 AS (SELECT DISTINCT user_id FROM f WHERE c1 = 1),
    l2 AS (SELECT DISTINCT a.user_id FROM f a JOIN f b
           ON a.user_id = b.user_id
           WHERE a.c1 = 1 AND b.c2 = 1 AND b.t > a.t
             AND b.t - a.t <= {_WF_W}),
    l3 AS (SELECT DISTINCT a.user_id FROM f a
           JOIN f b ON a.user_id = b.user_id
           JOIN f c ON a.user_id = c.user_id
           WHERE a.c1 = 1 AND b.c2 = 1 AND c.c3 = 1
             AND b.t > a.t AND c.t > b.t AND c.t - a.t <= {_WF_W})
    SELECT e.user_id AS user_id,
           ({_WF_SO})[4] AS lvl_order,
           ({_WF_SD})[4] AS lvl_dedup,
           CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
                WHEN l2.user_id IS NOT NULL THEN 2
                WHEN l1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS BIGINT) AS lvl_inc
    FROM e LEFT JOIN l1 ON e.user_id = l1.user_id
           LEFT JOIN l2 ON e.user_id = l2.user_id
           LEFT JOIN l3 ON e.user_id = l3.user_id
    ORDER BY user_id
    """,
)
def sql_funnel_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] windowFunnel strict modes per user (view→click→purchase,
    24 h window): 'strict_order' (chains may only extend at the
    immediately next event — any intervention kills them; CH keeps
    non-matching events as breakers, same contract) and
    'strict_dedup' (a repeat of an already-consumed condition
    interrupts the chain unless the event itself just created it),
    and 'strict_increase' (strictly increasing timestamps — oracled
    via the EXISTS-chain self-join with strict inequalities, valid
    because fixture timestamps are unique).
    Both are history-dependent, so the oracle replays the IDENTICAL
    DP fold via list_reduce rather than the EXISTS-chain self-join
    the base mode enjoys. Deepest-step-ever-reached counts even if
    the chain later dies. Integer state only — hash-exact."""
    return _run(
        spark,
        sf_dir,
        """
        select user_id,
               windowFunnel(86400000000, 'strict_order')(toUnixMicros(ts),
                 event_type = 'view', event_type = 'click',
                 event_type = 'purchase') as lvl_order,
               windowFunnel(86400000000, 'strict_dedup')(toUnixMicros(ts),
                 event_type = 'view', event_type = 'click',
                 event_type = 'purchase') as lvl_dedup,
               windowFunnel(86400000000, 'strict_increase')(
                 toUnixMicros(ts),
                 event_type = 'view', event_type = 'click',
                 event_type = 'purchase') as lvl_inc
        from events where user_id < 120
        group by user_id order by user_id
        """,
    )


# --- tier-14: correlation / covariance matrices -------------------------------

_CM_NUM = "(n * {pab} - {sa} * {sb})"
_CM_DEN = "(sqrt(n * {qa} - {sa} * {sa}) * sqrt(n * {qb} - {sb} * {sb}))"
_CM_CELL = (
    "CASE WHEN n < 2 OR " + _CM_DEN + " <= 0 THEN NULL ELSE "
    + _CM_NUM + " / " + _CM_DEN + " END"
)
_CV_CELL = (
    "CASE WHEN n < 2 THEN NULL ELSE ({pab} - ({sa} * {sb}) / n) / (n - 1) "
    "END"
)


@query(
    "sql_agg_matrix",
    f"""
    WITH t AS (
      SELECT o_custkey AS cust, CAST(floor(o_totalprice) AS BIGINT) AS x,
             CAST(o_orderkey % 100 AS BIGINT) AS y,
             CAST(year(o_orderdate) AS BIGINT) AS z
      FROM orders WHERE o_custkey < 300),
    agg AS (
      SELECT cust,
        CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
        CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
        CAST(CAST(SUM(z) AS BIGINT) AS DOUBLE) AS sz,
        CAST(CAST(SUM(x*x) AS BIGINT) AS DOUBLE) AS qx,
        CAST(CAST(SUM(y*y) AS BIGINT) AS DOUBLE) AS qy,
        CAST(CAST(SUM(z*z) AS BIGINT) AS DOUBLE) AS qz,
        CAST(CAST(SUM(x*y) AS BIGINT) AS DOUBLE) AS pxy,
        CAST(CAST(SUM(x*z) AS BIGINT) AS DOUBLE) AS pxz,
        CAST(CAST(SUM(y*z) AS BIGINT) AS DOUBLE) AS pyz
      FROM t GROUP BY cust)
    SELECT cust,
      {_CM_CELL.format(pab='pxy', sa='sx', sb='sy', qa='qx', qb='qy')} AS cxy,
      {_CM_CELL.format(pab='pxz', sa='sx', sb='sz', qa='qx', qb='qz')} AS cxz,
      {_CM_CELL.format(pab='pyz', sa='sy', sb='sz', qa='qy', qb='qz')} AS cyz,
      {_CV_CELL.format(pab='pxy', sa='sx', sb='sy')} AS vxy,
      {_CV_CELL.format(pab='qx', sa='sx', sb='sx')} AS vxx
    FROM agg ORDER BY cust
    """,
)
def sql_agg_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-14 matrix aggregates per customer: corrMatrix /
    covarSampMatrix over (order total, key residue, order year) in
    ONE hash aggregate — exact int64 sufficient statistics, each cell
    a fixed double expression (the t-test discipline; F.corr's
    Welford updates are block-order-dependent and stay PYTEST_ONLY).
    Off-diagonal cells surfaced via chained index access; degenerate
    cells (n < 2, zero variance — e.g. single-order customers) are
    NULL-instead-of-junk."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select o_custkey as cust,
                 toInt64(floor(o_totalprice)) as x,
                 o_orderkey % 100 as y,
                 toInt64(getYear(o_orderdate)) as z
          from orders where o_custkey < 300)
        select cust,
               corrMatrix(x, y, z)[1][2] as cxy,
               corrMatrix(x, y, z)[1][3] as cxz,
               corrMatrix(x, y, z)[2][3] as cyz,
               covarSampMatrix(x, y, z)[1][2] as vxy,
               covarSampMatrix(x, y, z)[1][1] as vxx
        from t group by cust order by cust
        """,
    )


# --- tier-15: interpolating exact quantiles + array wave ---------------------

_QI_VAL = """(CAST(arr[CAST({fl} AS BIGINT)] AS DOUBLE)
  + ({h} - CAST({fl} AS DOUBLE))
    * (CAST(coalesce(arr[CAST({fl} AS BIGINT) + 1],
                     arr[CAST({fl} AS BIGINT)]) AS DOUBLE)
       - CAST(arr[CAST({fl} AS BIGINT)] AS DOUBLE)))"""


def _qi_cell(level: str, exclusive: bool) -> str:
    h = (
        f"({level} * CAST(n + 1 AS DOUBLE))"
        if exclusive
        else f"({level} * CAST(n - 1 AS DOUBLE) + 1.0)"
    )
    fl = f"floor({h})"
    val = _QI_VAL.format(h=h, fl=fl)
    return (
        f"CASE WHEN n = 0 OR {fl} < 1 OR {fl} > n THEN NULL "
        f"ELSE {val} END"
    )


@query(
    "sql_agg_quantile_interp",
    f"""
    WITH t AS (
      SELECT o_custkey AS cust, CAST(floor(o_totalprice) AS BIGINT) AS x
      FROM orders WHERE o_custkey < 300),
    g AS (SELECT cust, list_sort(list(x)) AS arr,
                 CAST(count(*) AS BIGINT) AS n
          FROM t GROUP BY cust)
    SELECT cust,
      {_qi_cell('0.25', True)} AS qe25,
      {_qi_cell('0.25', False)} AS qi25,
      {_qi_cell('0.9', True)} AS qe90,
      {_qi_cell('0.9', False)} AS qi90
    FROM g ORDER BY cust
    """,
)
def sql_agg_quantile_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-15 interpolating exact quantiles per customer:
    quantileExactExclusive / quantileExactInclusive (the
    PERCENTILE.EXC / PERCENTILE.INC conventions — rank h = (n+1)·p
    vs (n−1)·p + 1 over the sorted values, linear interpolation
    between neighbors). The interpolation is ONE fixed double
    expression over exact int64 order statistics, so both
    hash-oracle — unlike the sketch-backed quantileApprox family.
    Exclusive ranks outside [1, n] → NULL-instead-of-junk (CH
    throws; single-order customers exercise the branch)."""
    return _run(
        spark,
        sf_dir,
        """
        select o_custkey as cust,
               quantileExactExclusive(0.25)(
                 toInt64(floor(o_totalprice))) as qe25,
               quantileExactInclusive(0.25)(
                 toInt64(floor(o_totalprice))) as qi25,
               quantileExactExclusive(0.9)(
                 toInt64(floor(o_totalprice))) as qe90,
               quantileExactInclusive(0.9)(
                 toInt64(floor(o_totalprice))) as qi90
        from orders where o_custkey < 300
        group by cust order by cust
        """,
    )


_T15_PS = """list_transform(list_filter(
  list_transform(range(1, len({a}) + 1), i -> CASE
    WHEN len(list_filter({a}[1:i], e -> e = {a}[i]))
         > len(list_filter({h}, e2 -> e2 = {a}[i]))
    THEN i ELSE NULL END),
  i -> i IS NOT NULL), i -> {a}[i])"""


@query(
    "sql_fn_tier15",
    f"""
    WITH t AS (
      SELECT event_id,
             [CAST(event_id % 7 AS BIGINT), CAST(event_id % 5 AS BIGINT),
              CAST(event_id % 3 AS BIGINT), CAST(event_id % 5 AS BIGINT),
              CAST(9 AS BIGINT)] AS arr,
             [CAST(event_id % 4 AS BIGINT)] AS arr2,
             'hello ' || event_type || ' WORLD' AS txt
      FROM events WHERE user_id < 15),
    k AS (
      SELECT event_id, arr, arr2, txt,
             list_sort(arr)[1:3] AS head,
             list_reverse_sort(arr)[1:3] AS rhead
      FROM t)
    SELECT event_id,
      array_to_string(head || {_T15_PS.format(a='arr', h='head')},
                      ',') AS ps,
      array_to_string(rhead || {_T15_PS.format(a='arr', h='rhead')},
                      ',') AS prs,
      array_to_string(list_transform(range(1, greatest(len(arr2),
          len(list_sort(arr)[1:2])) + 1), i ->
        coalesce(CAST(arr2[i] AS VARCHAR), 'n') || '|'
        || coalesce(CAST((list_sort(arr)[1:2])[i] AS VARCHAR), 'n')),
        ',') AS zu,
      array_to_string(list_transform(string_split(lower(txt), ' '),
        w -> upper(w[1]) || w[2:]), ' ') AS ic
    FROM k ORDER BY event_id
    """,
)
def sql_fn_tier15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-15 array/string wave: arrayPartialSort /
    arrayPartialReverseSort (k smallest/largest sorted, then the
    REMAINING elements in original order — CH leaves the tail
    unspecified, this engine pins it; duplicate-safe via occurrence
    counting), arrayZipUnaligned (NULL-padded zip, surfaced as
    'a|b' strings with 'n' for the padding), and initcapUTF8
    (whitespace-word initcap; the oracle rebuilds it from
    split/upper since DuckDB has no initcap). One Exchange for
    ORDER BY."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id,
                 [toInt64(event_id % 7), toInt64(event_id % 5),
                  toInt64(event_id % 3), toInt64(event_id % 5),
                  toInt64(9)] as arr,
                 [toInt64(event_id % 4)] as arr2,
                 'hello ' + event_type + ' WORLD' as txt
          from events where user_id < 15)
        select event_id,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayPartialSort(3, arr)), ',') as ps,
               arrayStringConcat(arrayMap(x -> toString(x),
                 arrayPartialReverseSort(3, arr)), ',') as prs,
               arrayStringConcat(arrayMap(t2 -> ifNull(toString(
                   tupleElement(t2, 1)), 'n') + '|' + ifNull(toString(
                   tupleElement(t2, 2)), 'n'),
                 arrayZipUnaligned(arr2, arraySlice(arraySort(arr), 1, 2))),
                 ',') as zu,
               initcapUTF8(txt) as ic
        from t order by event_id
        """,
    )


# --- tier-16: bitmap family ---------------------------------------------------

_BM_A = "list_sort(list_distinct(arr))"
_BM_B = "list_sort(list_distinct(arr2))"


@query(
    "sql_fn_bitmap",
    f"""
    WITH t AS (
      SELECT event_id,
             [CAST(event_id % 7 AS BIGINT), CAST(event_id % 5 AS BIGINT),
              CAST(event_id % 3 AS BIGINT), CAST(event_id % 5 AS BIGINT)]
               AS arr,
             [CAST(event_id % 4 AS BIGINT), CAST(event_id % 6 AS BIGINT),
              CAST(2 AS BIGINT)] AS arr2,
             CAST(event_id % 20 AS BIGINT) AS uid
      FROM events WHERE user_id < 15),
    r AS (
      SELECT event_id, uid,
        coalesce(array_to_string({_BM_A}, ','), '') AS bld,
        CAST(len({_BM_A}) AS BIGINT) AS card,
        coalesce(array_to_string(list_sort(list_intersect({_BM_A}, {_BM_B})),
                        ','), '') AS band,
        coalesce(array_to_string(list_sort(list_distinct({_BM_A} || {_BM_B})),
                        ','), '') AS bor,
        coalesce(array_to_string(list_sort(
          list_filter({_BM_A}, v -> NOT list_contains({_BM_B}, v))
          || list_filter({_BM_B}, v -> NOT list_contains({_BM_A}, v))),
          ','), '') AS bxor,
        CAST(len(list_filter({_BM_A},
          v -> NOT list_contains({_BM_B}, v))) AS BIGINT) AS andnot_c,
        list_contains({_BM_A}, 2) AS has2,
        CAST(len(list_filter({_BM_B},
          v -> NOT list_contains({_BM_A}, v))) AS BIGINT) = 0 AS hasall,
        len(list_intersect({_BM_A}, {_BM_B})) > 0 AS hasany,
        list_min({_BM_A}) AS mn, list_max({_BM_A}) AS mx,
        coalesce(array_to_string(list_sort(list_filter({_BM_A},
          v -> v >= 1 AND v < 4)), ','), '') AS sub,
        coalesce(array_to_string(list_sort(list_filter({_BM_A},
          v -> v >= 1))[1:2], ','), '') AS sublim,
        arr
      FROM t)
    SELECT event_id, bld, card, band, bor, bxor, andnot_c, has2,
           hasall, hasany, mn, mx, sub, sublim
    FROM r ORDER BY event_id
    """,
)
def sql_fn_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-16 bitmap family over canonical sorted-distinct
    array<long> sets (roaring is CH's compression choice, not a
    semantic one — the groupBitmap stance): build/toArray/cardinality,
    and/or/xor/andnot (+cardinalities), contains/hasAll/hasAny,
    min/max, subsetInRange (half-open), subsetLimit. Pure set algebra
    in JVM higher-order functions; the oracle replays it with DuckDB
    list ops."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id,
                 [toInt64(event_id % 7), toInt64(event_id % 5),
                  toInt64(event_id % 3), toInt64(event_id % 5)] as arr,
                 [toInt64(event_id % 4), toInt64(event_id % 6),
                  toInt64(2)] as arr2
          from events where user_id < 15)
        select event_id,
               arrayStringConcat(arrayMap(x -> toString(x),
                 bitmapBuild(arr)), ',') as bld,
               bitmapCardinality(arr) as card,
               arrayStringConcat(arrayMap(x -> toString(x),
                 bitmapAnd(arr, arr2)), ',') as band,
               arrayStringConcat(arrayMap(x -> toString(x),
                 bitmapOr(arr, arr2)), ',') as bor,
               arrayStringConcat(arrayMap(x -> toString(x),
                 bitmapXor(arr, arr2)), ',') as bxor,
               bitmapAndnotCardinality(arr, arr2) as andnot_c,
               bitmapContains(arr, 2) as has2,
               bitmapHasAll(arr, arr2) as hasall,
               bitmapHasAny(arr, arr2) as hasany,
               bitmapMin(arr) as mn,
               bitmapMax(arr) as mx,
               arrayStringConcat(arrayMap(x -> toString(x),
                 bitmapSubsetInRange(arr, 1, 4)), ',') as sub,
               arrayStringConcat(arrayMap(x -> toString(x),
                 bitmapSubsetLimit(arr, 1, 2)), ',') as sublim
        from t order by event_id
        """,
    )


@query(
    "sql_agg_bitmap",
    """
    WITH t AS (
      SELECT CAST(event_id % 20 AS BIGINT) AS uid, event_id,
             [CAST(event_id % 7 AS BIGINT), CAST(event_id % 5 AS BIGINT),
              CAST(event_id % 3 AS BIGINT)] AS arr
      FROM events WHERE user_id < 15),
    s AS (SELECT uid, event_id, list_sort(list_distinct(arr)) AS bm FROM t),
    ex AS (SELECT uid, unnest(bm) AS v FROM s),
    nrows AS (SELECT uid, COUNT(*) AS n FROM s GROUP BY uid),
    cnt AS (SELECT uid, v, COUNT(*) AS c FROM ex GROUP BY uid, v)
    SELECT cnt.uid AS uid,
      CAST(SUM(CASE WHEN c = n THEN 1 ELSE 0 END) AS BIGINT) AS band,
      CAST(COUNT(*) AS BIGINT) AS bor,
      CAST(SUM(CASE WHEN c % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bxor
    FROM cnt JOIN nrows ON cnt.uid = nrows.uid
    GROUP BY cnt.uid ORDER BY uid
    """,
)
def sql_agg_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-16 bitmap aggregates per key: groupBitmapAnd /
    groupBitmapOr / groupBitmapXor — cardinality of the
    intersection / union / odd-multiplicity set across the group's
    bitmaps (set algebra is associative+commutative, so the engine's
    sorted fold and the oracle's closed forms — c = n, any, c odd
    over per-value row counts — are the same value by definition).
    Per-entity groups; the oracle's unnest+count shape is also the
    100 TB formulation (no per-group array state at all)."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id % 20 as uid,
                 [toInt64(event_id % 7), toInt64(event_id % 5),
                  toInt64(event_id % 3)] as arr
          from events where user_id < 15)
        select uid,
               groupBitmapAnd(arr) as band,
               groupBitmapOr(arr) as bor,
               groupBitmapXor(arr) as bxor
        from t group by uid order by uid
        """,
    )


# --- tier-17: web-text extraction ---------------------------------------------

_T17_DEC = """replace(replace(replace(replace(replace(replace({x},
  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
  '&nbsp;', ' '), '&amp;', '&')"""

_T17_STRIP = """regexp_replace(regexp_replace(regexp_replace(
  regexp_replace({x},
    '(?s)<!--.*?-->', ' ', 'g'),
    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
    '<[^>]*>', ' ', 'g')"""


@query(
    "sql_fn_html",
    f"""
    WITH t AS (
      SELECT doc_id,
        '<html><head><style>p{{{{color:red}}}}</style>'
        || '<script type="x">var a = 1 &lt; 2;</script></head>'
        || '<body><!-- hidden --><h1>Doc ' || CAST(doc_id AS VARCHAR)
        || '</h1><p class="m">' || substring(text, 1, 120)
        || ' &amp;amp; more &nbsp;&gt; here</p></body></html>' AS html
      FROM documents WHERE doc_id < 400)
    SELECT doc_id,
      trim(regexp_replace({_T17_DEC.format(x=_T17_STRIP.format(x='html'))},
           '\\s+', ' ', 'g')) AS txt,
      {_T17_DEC.format(x="'&amp;lt; &quot;q&quot; &#39;a&#39;'")} AS dec,
      replace(replace(replace(replace(replace(
        'a<b & "c" ' || chr(39) || 'd', '&', '&amp;'), '<', '&lt;'),
        '>', '&gt;'), '"', '&quot;'), chr(39), '&#39;') AS enc
    FROM t ORDER BY doc_id
    """,
)
def sql_fn_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-17 web-ingest scalars: extractTextFromHTML
    (comments, script/style blocks with their CONTENT, then tags
    stripped to spaces; entities decoded; whitespace collapsed — CH's
    deterministic approximate extraction, a DOM parser is a library
    choice), decodeHTMLComponent (basic entity set, &amp; last so
    &amp;lt; decodes ONCE to &lt;), encodeHTMLComponent (inverse, &
    first). Regex subset identical under Java regex and RE2
    (inline (?is), lazy quantifiers, no lookaround). Synthetic HTML
    is built from the documents fixture identically on both sides."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select doc_id,
                 '<html><head><style>p{color:red}</style>'
                 + '<script type="x">var a = 1 &lt; 2;</script></head>'
                 + '<body><!-- hidden --><h1>Doc ' + toString(doc_id)
                 + '</h1><p class="m">' + substring(text, 1, 120)
                 + ' &amp;amp; more &nbsp;&gt; here</p></body></html>'
                   as html
          from documents where doc_id < 400)
        select doc_id,
               extractTextFromHTML(html) as txt,
               decodeHTMLComponent('&amp;lt; "q" ''a''') as dec,
               encodeHTMLComponent('a<b & "c" ''d') as enc
        from t order by doc_id
        """,
    )


# --- tier-18: -Resample combinators -------------------------------------------

_RS_BKT = "CAST((yr - 1992) // 2 AS BIGINT)"


@query(
    "sql_agg_resample",
    f"""
    WITH t AS (
      SELECT o_custkey AS cust, CAST(floor(o_totalprice) AS BIGINT) AS x,
             CAST(year(o_orderdate) AS BIGINT) AS yr
      FROM orders WHERE o_custkey < 300),
    b AS (
      SELECT cust, {_RS_BKT} AS bkt, x FROM t
      WHERE yr >= 1992 AND yr < 1999),
    per AS (
      SELECT cust, bkt,
             CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS c,
             CAST(MAX(x) AS BIGINT) AS mx
      FROM b GROUP BY cust, bkt),
    cells AS (
      SELECT u.cust AS cust, g.i AS i,
             coalesce(s, 0) AS s, coalesce(c, 0) AS c, mx,
             CASE WHEN coalesce(c, 0) > 0
                  THEN CAST(coalesce(s, 0) AS DOUBLE)
                       / CAST(c AS DOUBLE) END AS av
      FROM (SELECT DISTINCT cust FROM t) u
      CROSS JOIN (SELECT unnest(range(0, 4)) AS i) g
      LEFT JOIN per ON per.cust = u.cust AND per.bkt = g.i)
    SELECT cust,
      array_to_string(list(CAST(s AS VARCHAR) ORDER BY i), ',') AS sums,
      array_to_string(list(CAST(c AS VARCHAR) ORDER BY i), ',') AS cnts,
      array_to_string(list(coalesce(CAST(mx AS VARCHAR), 'n')
                           ORDER BY i), ',') AS mxs,
      max(CASE WHEN i = 0 THEN av END) AS av0,
      max(CASE WHEN i = 3 THEN av END) AS av3
    FROM cells GROUP BY cust ORDER BY cust
    """,
)
def sql_agg_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-18 -Resample combinators per customer:
    sumResample / countResample / maxResample / avgResample over
    order totals bucketed by 2-year order-date windows [1992, 1999)
    step 2 — ONE hash aggregate of per-bucket conditional aggregates
    (the -If-family discipline: no collect_list, no second shuffle);
    out-of-range keys ignored, empty buckets 0 for sum/count, NULL
    for max/avg. The oracle rebuilds the bucket matrix with a
    range-join and ordered list()s."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select o_custkey as cust,
                 toInt64(floor(o_totalprice)) as x,
                 toInt64(getYear(o_orderdate)) as yr
          from orders where o_custkey < 300)
        select cust,
               arrayStringConcat(arrayMap(v -> toString(v),
                 sumResample(1992, 1999, 2)(x, yr)), ',') as sums,
               arrayStringConcat(arrayMap(v -> toString(v),
                 countResample(1992, 1999, 2)(x, yr)), ',') as cnts,
               arrayStringConcat(arrayMap(v -> ifNull(toString(v), 'n'),
                 maxResample(1992, 1999, 2)(x, yr)), ',') as mxs,
               avgResample(1992, 1999, 2)(x, yr)[1] as av0,
               avgResample(1992, 1999, 2)(x, yr)[4] as av3
        from t group by cust order by cust
        """,
    )


# --- tier-18: MySQL-compat aliases --------------------------------------------


@query(
    "sql_fn_aliases",
    """
    WITH t AS (
      SELECT event_id, props || ' é±' AS s FROM events WHERE user_id < 15)
    SELECT event_id,
           strpos(s, 'k') AS loc,
           substring(s, 3, 5) AS m,
           upper(s) AS uc,
           lower(s) AS lc,
           CAST(ceiling(CAST(event_id AS DOUBLE) / 7) AS BIGINT) AS ce,
           CAST(length(s) AS BIGINT) AS cl,
           CAST(strlen(s) AS BIGINT) AS ol
    FROM t ORDER BY event_id
    """,
)
def sql_fn_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-18 MySQL-compat alias spellings (CH accepts all of
    them): locate (MySQL ARGUMENT ORDER — needle first), mid/substr,
    ucase/lcase, ceiling, char_length vs octet_length (the multibyte
    suffix in the fixture makes them differ: characters vs UTF-8
    bytes). Pure aliases over existing lowerings."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, props + ' é±' as s
          from events where user_id < 15)
        select event_id,
               locate('k', s) as loc,
               mid(s, 3, 5) as m,
               ucase(s) as uc,
               lcase(s) as lc,
               toInt64(ceiling(toFloat64(event_id) / 7)) as ce,
               char_length(s) as cl,
               octet_length(s) as ol
        from t order by event_id
        """,
    )


_JH_FOLD = """list_reduce(
  list_prepend(CAST(0 AS BIGINT),
    list_transform(range(1, length({x}) + 1),
                   i -> CAST(unicode(substring({x}, i, 1)) AS BIGINT))),
  (h, c) -> ((((h * 31 + c + 2147483648) % 4294967296)
              + 4294967296) % 4294967296) - 2147483648)"""


@query(
    "sql_fn_javahash",
    f"""
    WITH t AS (
      SELECT event_id, props || '/' || event_type AS s
      FROM events WHERE user_id < 15)
    SELECT event_id,
           CASE WHEN length(s) = 0 THEN 0
                ELSE {_JH_FOLD.format(x='s')} END AS jh,
           CASE WHEN length(s) = 0 THEN 0
                ELSE ({_JH_FOLD.format(x='s')} & 2147483647) END AS hh
    FROM t ORDER BY event_id
    """,
)
def sql_fn_javahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] javaHash / hiveHash — Java String.hashCode() (31·h + c
    with int32 wraparound, exact via the 2³¹-shifted mod-2³² fold)
    and its sign-bit-cleared Hive variant; the CH Java-interop
    hashes. The oracle replays the identical fold with the
    double-pmod trick (DuckDB % keeps the operand's sign). BMP-only
    fixture strings = code units are codepoints (documented scope)."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, props + '/' + event_type as s
          from events where user_id < 15)
        select event_id,
               javaHash(s) as jh,
               hiveHash(s) as hh
        from t order by event_id
        """,
    )


# --- [EXT] BPE tokenization dialect surface ---------------------------------

from nutdb_spark.operators.bpe import (  # noqa: E402
    oracle_bpe_token_count_text as _ora_bpe_count,
    oracle_bpe_tokens_text as _ora_bpe_toks,
)


@query(
    "sql_fn_bpe",
    f"""
    WITH t AS (
      SELECT doc_id, substring(text, 1, 64) AS s
      FROM documents WHERE doc_id < 200)
    SELECT doc_id,
           array_to_string({_ora_bpe_toks("s")}, '|') AS toks,
           {_ora_bpe_count("s")} AS n,
           {_ora_bpe_count("concat('Order-', CAST(doc_id AS VARCHAR))")}
             AS n2
    FROM t ORDER BY doc_id
    """,
)
def sql_fn_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] bpeEncode / bpeTokenCount through the SQL frontend:
    greedy byte-pair merges over the committed fixture-trained vocab
    (operators/bpe.py), applied in rank order as nested JVM-side HOF
    folds; the oracle replays the identical fold in DuckDB. The second
    count exercises the mixed-case + punctuation pre-tokenization
    path ('Order-…' → lowercase word, hyphen, digits)."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select doc_id, substring(text, 1, 64) as s
          from documents where doc_id < 200)
        select doc_id,
               arrayStringConcat(bpeEncode(s), '|') as toks,
               bpeTokenCount(s) as n,
               bpeTokenCount(concat('Order-', toString(doc_id))) as n2
        from t order by doc_id
        """,
    )


# --- [EXT] round-12 session-3 pipeline table functions ----------------------


def _sql_gopher_oracle() -> str:
    from nutdb_spark.operators.text import ENGLISH_STOPWORDS, oracle_gopher

    g = oracle_gopher("text", stopwords=ENGLISH_STOPWORDS)
    return f"""
    SELECT doc_id, {g['n_words']} AS n_words,
           {g['n_stop_hits']} AS n_stop_hits,
           {g['ok_words']} AS ok_words, {g['passes']} AS passes
    FROM documents WHERE doc_id < 200 ORDER BY doc_id"""


@query("sql_table_fn_gopher", _sql_gopher_oracle())
def sql_table_fn_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The Gopher rule gate as a dialect TABLE FUNCTION —
    gopherQuality('table', 'id', 'text'[, 'stoplist']) through the
    frontend, composed with an outer WHERE/ORDER BY."""
    return _run(
        spark,
        sf_dir,
        "select doc_id, n_words, n_stop_hits, ok_words, passes "
        "from gopherQuality('documents', 'doc_id', 'text', 'english') "
        "where doc_id < 200 order by doc_id",
    )


def _sql_dsir_oracle() -> str:
    from nutdb_spark.operators.sampling import oracle_dsir_scores

    inner = oracle_dsir_scores("lang = 'en'")
    return f"""
    WITH scored AS ({inner})
    SELECT doc_id, n_feats, score FROM scored
    WHERE doc_id < 200 ORDER BY doc_id"""


@query("sql_table_fn_dsir", _sql_dsir_oracle())
def sql_table_fn_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] DSIR importance scores as a dialect TABLE FUNCTION —
    dsirScores('table', 'id', 'text', 'target_col', 'target_val');
    the feature statistics run over the WHOLE source table, the outer
    WHERE prunes only the output (selection semantics)."""
    return _run(
        spark,
        sf_dir,
        "select doc_id, n_feats, score "
        "from dsirScores('documents', 'doc_id', 'text', 'lang', 'en') "
        "where doc_id < 200 order by doc_id",
    )


def _sql_bpe_train_oracle() -> str:
    from nutdb_spark.operators.bpe import oracle_bpe_train

    return oracle_bpe_train(6)


@query("sql_table_fn_bpe_train", _sql_bpe_train_oracle())
def sql_table_fn_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] In-engine BPE vocabulary training as a dialect TABLE
    FUNCTION — bpeTrain('table', 'text_col', n_merges). Eager by
    design (one 1-row argmax per round, k-means precedent)."""
    return _run(
        spark,
        sf_dir,
        "select rk, a, b, cnt from bpeTrain('documents', 'text', 6) "
        "order by rk",
    )


def _sql_substring_oracle() -> str:
    from nutdb_spark.operators.dedup import oracle_dedup_repeated_ngrams

    return (
        oracle_dedup_repeated_ngrams(k=8, max_freq=1)
        + "\nORDER BY doc_id"
    )


@query("sql_table_fn_substring", _sql_substring_oracle())
def sql_table_fn_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Sliding-k-gram exact-substring span dedup as a dialect
    TABLE FUNCTION — dedupSubstrings('table', 'id', 'text', k)."""
    return _run(
        spark,
        sf_dir,
        "select doc_id, n_words, n_removed, clean_text "
        "from dedupSubstrings('documents', 'doc_id', 'text', 8) "
        "order by doc_id",
    )


def _tier18_oracle() -> str:
    v = "((event_id * 2654435761) % 4294967296)"
    ip = (
        f"(CAST(({v} >> 24) & 255 AS VARCHAR) || '.' || "
        f"CAST(({v} >> 16) & 255 AS VARCHAR) || '.' || "
        f"CAST(({v} >> 8) & 255 AS VARCHAR) || '.' || "
        f"CAST({v} & 255 AS VARCHAR))"
    )
    ip2 = f"(CASE WHEN event_id % 3 = 0 THEN '999.9.9.9' ELSE {ip} END)"
    ipv4_re = (
        "^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}"
        "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"
    )
    sp = f"string_split({ip2}, '.')"
    ip_num = (
        f"CASE WHEN regexp_matches({ip2}, '{ipv4_re}') THEN "
        f"CAST({sp}[1] AS BIGINT) * 16777216 + CAST({sp}[2] AS BIGINT) "
        f"* 65536 + CAST({sp}[3] AS BIGINT) * 256 + CAST({sp}[4] AS BIGINT) "
        "ELSE NULL END"
    )
    age_ladder = (
        "CASE WHEN user_id >= 55 THEN 55 WHEN user_id >= 45 THEN 45 "
        "WHEN user_id >= 35 THEN 35 WHEN user_id >= 25 THEN 25 "
        "WHEN user_id >= 18 THEN 18 WHEN user_id >= 1 THEN 17 "
        "ELSE 0 END"
    )
    dur = "((event_id * 37) % 40000)"
    dur_steps = [1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800,
                 3600, 7200, 18000, 36000]
    dur_ladder = "CASE " + " ".join(
        f"WHEN {dur} >= {s} THEN {s}" for s in reversed(dur_steps)
    ) + " ELSE 0 END"
    bs_v = "(event_id & 4294967295)"
    byteswap = (
        f"(({bs_v} & 255) * 16777216 + (({bs_v} >> 8) & 255) * 65536 "
        f"+ (({bs_v} >> 16) & 255) * 256 + (({bs_v} >> 24) & 255))"
    )
    mac_v = "(event_id * 131071 & 281474976710655)"
    mac = " || ':' || ".join(
        f"lpad(lower(to_hex(({mac_v} >> {8 * i}) & 255)), 2, '0')"
        for i in range(5, -1, -1)
    )
    b64 = "rtrim(translate(to_base64(encode(props)), '+/', '-_'), '=')"
    b64rt = (
        f"decode(from_base64(translate({b64}, '-_', '+/') || "
        f"repeat('=', CAST((4 - length({b64}) % 4) % 4 AS INT))))"
    )
    return f"""
    SELECT event_id,
           ((user_id >> 0) & 1 = 1) AND ((user_id >> 2) & 1 = 1) AS bta,
           ((user_id >> 0) & 1 = 1) OR ((user_id >> 2) & 1 = 1) AS bty,
           CAST({byteswap} AS BIGINT) AS bswap,
           CAST({age_ladder} AS BIGINT) AS rage,
           CAST({dur_ladder} AS BIGINT) AS rdur,
           {ip} AS ip_s,
           CAST({ip_num} AS BIGINT) AS ip_n,
           regexp_matches({ip2}, '{ipv4_re}') AS is_ip,
           {mac} AS mac,
           CAST(CAST('0x' || substring(md5(props || event_type), 1, 16)
                AS UBIGINT) AS VARCHAR) AS hmd5,
           split_part(props || chr(10) || event_type, chr(10), 1)
             AS fline,
           {b64} AS b64u,
           {b64rt} AS b64rt
    FROM events WHERE user_id < 15 ORDER BY event_id
    """


@query("sql_fn_tier18", _tier18_oracle())
def sql_fn_tier18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-18 interop scalars: bitTestAll/bitTestAny, the CH
    demographic rounding ladders (roundAge/roundDuration), IPv4 and
    MAC codecs (NULL-on-malformed where CH throws — the engine's
    lenient convention), big-endian halfMD5 carried as its exact
    decimal-digit string (DECIMAL(20,0) degrades to float64 in the
    oracle's pandas conversion and hash-mismatches the driver's
    canonicalizer; the digit string is exact on both engines),
    firstLine, and URL-safe base64
    round-tripping. All pure integer/string expressions replayed
    verbatim by the oracle."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, user_id, props, event_type,
                 (event_id * 2654435761) % 4294967296 as v4
          from events where user_id < 15),
        u as (
          select *,
                 IPv4NumToString(v4) as ip_s,
                 if(event_id % 3 = 0, '999.9.9.9', IPv4NumToString(v4))
                   as ip2
          from t)
        select event_id,
               bitTestAll(user_id, 0, 2) as bta,
               bitTestAny(user_id, 0, 2) as bty,
               byteSwap(event_id) as bswap,
               roundAge(user_id) as rage,
               roundDuration((event_id * 37) % 40000) as rdur,
               ip_s,
               IPv4StringToNum(ip2) as ip_n,
               isIPv4String(ip2) as is_ip,
               MACNumToString(event_id * 131071) as mac,
               toString(halfMD5(props + event_type)) as hmd5,
               firstLine(props + '\\n' + event_type) as fline,
               base64URLEncode(props) as b64u,
               base64URLDecode(base64URLEncode(props)) as b64rt
        from u order by event_id
        """,
    )


def _crc32_oracle(expr: str) -> str:
    bit = (
        "list_transform([{a}], a -> CASE WHEN a & 1 = 1 "
        "THEN xor(a >> 1, 3988292384) ELSE a >> 1 END)[1]"
    )
    step = "xor(acc, c)"
    for _ in range(8):
        step = bit.format(a=step)
    return (
        f"CASE WHEN length({expr}) = 0 THEN 0 ELSE "
        f"xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT), "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(unicode(substring({expr}, i, 1)) AS BIGINT))), "
        f"(acc, c) -> {step}), 4294967295) END"
    )


def _tier19_oracle() -> str:
    crc = _crc32_oracle("(props || event_type)")
    d = "CAST(ts AS DATE)"
    return f"""
    SELECT event_id,
           CAST((CAST(user_id AS DOUBLE) - CAST(event_id % 97 AS DOUBLE))
                * (CAST(user_id AS DOUBLE) - CAST(event_id % 97 AS DOUBLE))
                + (CAST(user_id + 1 AS DOUBLE) - CAST(event_id % 89 AS DOUBLE))
                * (CAST(user_id + 1 AS DOUBLE) - CAST(event_id % 89 AS DOUBLE))
                AS DOUBLE) AS l2sq,
           props NOT LIKE '%7%' AS nl,
           props NOT ILIKE '%K%' AS nil,
           date_trunc('second', ts) AS sec,
           {d} + CAST(6 - dayofweek({d}) AS INT) AS ldw,
           CAST(millisecond(ts + to_milliseconds(event_id % 1000)) % 1000
                AS BIGINT) AS ms,
           ts + to_milliseconds(event_id % 1000) AS addms,
           ts - to_milliseconds(user_id % 500) AS subms,
           substr(props, 1, 2) || 'XY' || substr(props, 5) AS ov,
           CAST({crc} AS BIGINT) AS crc
    FROM events WHERE user_id < 15 ORDER BY event_id
    """


@query("sql_fn_tier19", _tier19_oracle())
def sql_fn_tier19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-19 scalars: L2SquaredDistance, NOT (I)LIKE function
    spellings, sub-second datetime surface (toStartOfSecond,
    toLastDayOfWeek, toMillisecond, add/subtractMilliseconds over the
    microsecond fixture timestamps), OVERLAY, and CRC32 — the
    zlib/IEEE fold with 8 single-binding bit steps per byte (linear
    expression size via the let trick), bit-equal to the DuckDB
    replay and pinned against Python zlib in tests."""
    return _run(
        spark,
        sf_dir,
        """
        select event_id,
               L2SquaredDistance(
                 array(toFloat64(user_id), toFloat64(user_id + 1)),
                 array(toFloat64(event_id % 97), toFloat64(event_id % 89))
               ) as l2sq,
               notLike(props, '%7%') as nl,
               notILike(props, '%K%') as nil,
               toStartOfSecond(ts) as sec,
               toLastDayOfWeek(ts) as ldw,
               toMillisecond(addMilliseconds(ts, event_id % 1000)) as ms,
               addMilliseconds(ts, event_id % 1000) as addms,
               subtractMilliseconds(ts, user_id % 500) as subms,
               overlay(props, 'XY', 3) as ov,
               CRC32(props + event_type) as crc
        from events where user_id < 15 order by event_id
        """,
    )


def _sql_sentiment_oracle() -> str:
    from nutdb_spark.operators.packing import oracle_epoch_shuffle
    from nutdb_spark.operators.text import oracle_sentiment

    g = oracle_sentiment("text")
    e = oracle_epoch_shuffle("doc_id", epoch=2, shards=4)
    # positions rank over the WHOLE table (the table function's
    # frame), so they live in a CTE ahead of the slice
    return f"""
    WITH ep AS (
      SELECT doc_id, {e['eshard']} AS eshard, {e['pos']} AS pos
      FROM documents)
    SELECT d.doc_id, {g['sentiment']} AS sentiment, {g['label']} AS label,
           ep.eshard, ep.pos
    FROM documents d JOIN ep USING (doc_id)
    WHERE d.doc_id < 200 ORDER BY d.doc_id"""


@query("sql_table_fn_sentiment", _sql_sentiment_oracle())
def sql_table_fn_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] sentiment() and epochShuffle() as dialect TABLE
    FUNCTIONS, composed in one statement: the lexicon scorer feeds a
    join against the epoch-2 training order — both reachable from
    pure SQL text."""
    return _run(
        spark,
        sf_dir,
        "select s.doc_id, s.sentiment, s.label, e.eshard, e.pos "
        "from sentiment('documents', 'doc_id', 'text') as s "
        "join epochShuffle('documents', 'doc_id', 2, 4) as e "
        "on s.doc_id = e.doc_id "
        "where s.doc_id < 200 order by s.doc_id",
    )


def _tier20_oracle() -> str:
    v = "((event_id * 2654435761) % 4294967296)"
    p = "(event_id % 33)"
    mask = f"(4294967296 - (1 << (32 - {p})))"
    lo = f"({v} & {mask})"
    hi = f"({lo} + (4294967296 - {mask}) - 1)"

    def dotted(x: str) -> str:
        return (
            f"(CAST(({x} >> 24) & 255 AS VARCHAR) || '.' || "
            f"CAST(({x} >> 16) & 255 AS VARCHAR) || '.' || "
            f"CAST(({x} >> 8) & 255 AS VARCHAR) || '.' || "
            f"CAST({x} & 255 AS VARCHAR))"
        )

    ip2 = f"(CASE WHEN event_id % 3 = 0 THEN '999.9.9.9' ELSE {dotted(v)} END)"
    ipv4_re = (
        "^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}"
        "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"
    )
    sp = f"string_split({ip2}, '.')"
    ip2_n = (
        f"CASE WHEN regexp_matches({ip2}, '{ipv4_re}') THEN "
        f"CAST({sp}[1] AS BIGINT) * 16777216 + CAST({sp}[2] AS BIGINT) "
        f"* 65536 + CAST({sp}[3] AS BIGINT) * 256 + CAST({sp}[4] AS BIGINT) "
        "ELSE NULL END"
    )
    inr = (
        f"(CASE WHEN {ip2_n} IS NOT NULL THEN "
        f"{ip2_n} >= {lo} AND {ip2_n} <= {hi} ELSE FALSE END)"
    )
    return f"""
    SELECT event_id,
           CAST(event_id * 131071 & 281474976710655 AS BIGINT) AS mac_rt,
           {dotted(lo)} AS cidr_lo,
           {dotted(hi)} AS cidr_hi,
           {inr} AS inr
    FROM events WHERE user_id < 15 ORDER BY event_id
    """


@query("sql_fn_tier20", _tier20_oracle())
def sql_fn_tier20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] tier-20 network-range scalars: MACStringToNum (the
    tier-18 codec round-tripped through the parser — the oracle is
    the raw 48-bit value), IPv4CIDRToRange as the CH tuple (struct
    _1/_2, projected through tupleElement), and isIPAddressInRange
    over a mixed-validity ip column (malformed input reads false —
    the gate convention). Prefix sweeps 0..32 via event_id % 33, so
    both mask edge cases (whole space, single host) are in the graded
    rows."""
    return _run(
        spark,
        sf_dir,
        """
        with t as (
          select event_id, user_id,
                 (event_id * 2654435761) % 4294967296 as v4,
                 event_id % 33 as p
          from events where user_id < 15),
        u as (
          select *,
                 IPv4CIDRToRange(v4, p) as rng,
                 if(event_id % 3 = 0, '999.9.9.9', IPv4NumToString(v4))
                   as ip2
          from t)
        select event_id,
               MACStringToNum(MACNumToString(event_id * 131071)) as mac_rt,
               tupleElement(rng, 1) as cidr_lo,
               tupleElement(rng, 2) as cidr_hi,
               isIPAddressInRange(ip2,
                 IPv4NumToString(v4) + '/' + toString(p)) as inr
        from u order by event_id
        """,
    )


# --- [EXT] round-13 table functions ------------------------------------------


def _sql_langid_oracle() -> str:
    from nutdb_spark.operators.langid_clf import oracle_langid_scores

    inner = oracle_langid_scores()
    return f"""
    WITH scored AS ({inner})
    SELECT doc_id, lang_pred, score FROM scored
    WHERE doc_id < 200 ORDER BY doc_id"""


@query("sql_table_fn_langid", _sql_langid_oracle())
def sql_table_fn_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The hashed-linear language classifier as a dialect TABLE
    FUNCTION — languageIdClf('table', 'id', 'text') through the
    frontend, composed with an outer WHERE/ORDER BY."""
    return _run(
        spark,
        sf_dir,
        "select doc_id, lang_pred, score "
        "from languageIdClf('documents', 'doc_id', 'text') "
        "where doc_id < 200 order by doc_id",
    )


def _sql_dtw_oracle() -> str:
    from nutdb_spark.operators.trajectory import oracle_dtw

    dtw = oracle_dtw("q.v", "c.v")
    return f"""
WITH pts AS (
  SELECT user_id, event_id, CAST(floor(value * 100) AS BIGINT) AS v
  FROM events),
s AS (
  SELECT user_id,
         list_sort(list({{'o': event_id, 'v': v}}))[1:30] AS ps
  FROM pts GROUP BY user_id),
e AS (
  SELECT user_id, list_transform(ps, p -> p.v) AS v FROM s
  WHERE len(ps) > 0),
env AS (
  SELECT user_id, v,
         ((list_aggregate(v, 'min') + list_aggregate(v, 'max')) // 2)
           // 2000 AS b
  FROM e),
qs AS (
  SELECT user_id AS qid, v, unnest([b - 1, b, b + 1]) AS b
  FROM env WHERE user_id < 6),
scored AS (
  SELECT q.qid, c.user_id AS neighbor_id, {dtw} AS dtw
  FROM qs q JOIN env c USING (b) WHERE c.user_id <> q.qid)
SELECT query_id, neighbor_id, dtw, rank FROM (
  SELECT qid AS query_id, neighbor_id, dtw,
         CAST(row_number() OVER (PARTITION BY qid
                ORDER BY dtw ASC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored) t
WHERE rank <= 3 ORDER BY query_id, rank"""


@query("sql_table_fn_dtw", _sql_dtw_oracle())
def sql_table_fn_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Trajectory DTW top-k as a dialect TABLE FUNCTION —
    dtwTopK('events', 'user_id', 'event_id', 'value', 6, 3, 2000, 1)
    — the UNSLICED twin of q_traj_dtw_topk: no corpus cap, every
    user's series enters the envelope index, so the entry's bench
    reading IS the full prune+verify cost and the bucket/probe knobs'
    effect is a recorded number (BASELINE.md slope row), not a commit
    message. At sf0.01 the corpora coincide (150 users), so the two
    entries cross-check each other; at sf0.1 this one is the 10×
    slope point."""
    return _run(
        spark,
        sf_dir,
        "select query_id, neighbor_id, dtw, rank "
        "from dtwTopK('events', 'user_id', 'event_id', 'value', "
        "6, 3, 2000, 1) "
        "order by query_id, rank",
    )


def _sql_hll_oracle() -> str:
    from nutdb_spark.operators.sketch import (
        oracle_hll_estimate,
        oracle_hll_registers,
    )

    regs = oracle_hll_registers("events", ["event_type"], "user_id", p=8)
    est = oracle_hll_estimate(regs, ["event_type"], p=8)
    return f"SELECT * FROM ({est}) ORDER BY event_type"


@query("sql_table_fn_hll", _sql_hll_oracle())
def sql_table_fn_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The mergeable HLL as a dialect TABLE FUNCTION —
    hllDistinct('events', 'event_type', 'user_id') — the
    engine-neutral sketch reachable from pure SQL text. The fixture's
    per-type user count (150) sits in the small-range regime where
    the RAW estimator reads high by design (the ln() linear-counting
    branch is deliberately out of oracle scope — operators/sketch.py);
    the entry pins hash/register/estimator determinism, q_sketch_hll
    pins accuracy in the raw regime."""
    return _run(
        spark,
        sf_dir,
        "select event_type, n_zero, est "
        "from hllDistinct('events', 'event_type', 'user_id') "
        "order by event_type",
    )


def _sql_doremi_oracle() -> str:
    from nutdb_spark.operators.mixing import oracle_dro

    return (
        f"SELECT * FROM ({oracle_dro('lang', 'text')}) ORDER BY domain"
    )


@query("sql_table_fn_doremi", _sql_doremi_oracle())
def sql_table_fn_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Group-DRO/DoReMi domain mixing as a dialect TABLE
    FUNCTION — domainMixture('documents', 'lang', 'text', 8) — the
    quantized multiplicative-weights loop reachable from pure SQL
    text, eager on the k collected domain rows (bpeTrain's
    bounded-collect precedent); the DuckDB oracle replays the loop
    unrolled."""
    return _run(
        spark,
        sf_dir,
        "select domain, n_docs, loss, w_final "
        "from domainMixture('documents', 'lang', 'text', 8) "
        "order by domain",
    )
