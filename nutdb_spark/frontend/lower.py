"""NutDB AST → PySpark DataFrame lowering.

The reference stops at the AST (no planner/executor exists —
SURVEY.md §0); this module supplies the execution semantics on
idiomatic Spark: every query becomes a declarative DataFrame plan that
Catalyst analyzes/optimizes (pushdown, pruning, join selection, AQE),
and the dialect-only constructs route through operators/relational.py.

Design:
- every FROM/JOIN source is `.alias()`-ed so qualified refs (`t.c`)
  lower to `F.col("t.c")`
- subqueries never collect: scalar subqueries become broadcast 1-row
  aggregates cross-joined into the frame; [NOT] IN / [NOT] EXISTS
  become semi/anti joins (with three-valued NOT IN semantics); simple
  correlated EXISTS decorrelates by splitting the subquery WHERE into
  inner-only conjuncts (filter) and cross-scope conjuncts (join
  condition)
- aggregation: aggregate calls in projection/HAVING/ORDER BY are
  rewritten to pre-computed agg columns; group keys are matched
  structurally (dataclass equality) and substituted
- `+` on string operands concatenates (corpus 10.sql:3 idiom)
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nutdb_spark.frontend import ast_nodes as A
from nutdb_spark.functions import textfns as _textfns  # noqa: F401 — registers [EXT] names
from nutdb_spark.functions.registry import (
    AGGREGATE_FNS,
    NONDETERMINISTIC,
    PARAMETRIC_AGGS,
    SCALAR_FNS,
)
from nutdb_spark.operators import relational as R


class LoweringError(ValueError):
    pass


def _sort_col(c, asc: bool, nulls: str | None):
    """[EXT] NULLS FIRST/LAST; engine default otherwise (Spark:
    nulls first when ascending, last when descending)."""
    if nulls == "first":
        return c.asc_nulls_first() if asc else c.desc_nulls_first()
    if nulls == "last":
        return c.asc_nulls_last() if asc else c.desc_nulls_last()
    return c.asc() if asc else c.desc()


_BIN_COLUMN_OPS = {
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "%": lambda a, b: a % b,
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "||": F.concat,  # [EXT] string/array concatenation
    # [EXT] IS [NOT] DISTINCT FROM — null-safe comparison
    "is_distinct": lambda a, b: ~a.eqNullSafe(b),
    "is_not_distinct": lambda a, b: a.eqNullSafe(b),
    "and": lambda a, b: a & b,
    "or": lambda a, b: a | b,
    "&": lambda a, b: a.bitwiseAND(b),
    "|": lambda a, b: a.bitwiseOR(b),
    "^": lambda a, b: a.bitwiseXOR(b),
    # call_function: the python shiftleft/shiftright wrappers only take
    # a literal int for numBits; the SQL builtin accepts a column
    "<<": lambda a, b: F.call_function("shiftleft", a, b),
    ">>": lambda a, b: F.call_function("shiftright", a, b),
}

_INTERVAL_ARGS = {
    "year": "years",
    "month": "months",
    "week": "weeks",
    "day": "days",
    "hour": "hours",
    "minute": "mins",
    "second": "secs",
}


def _split_conjuncts(e):
    if isinstance(e, A.BinOp) and e.op == "and":
        return _split_conjuncts(e.left) + _split_conjuncts(e.right)
    return [e]


class Scope:
    """Alias → DataFrame map for one query level (plus the outer)."""

    def __init__(self, parent: "Scope | None" = None):
        self.parent = parent
        self.frames: dict[str, DataFrame] = {}
        # "alias.col" → output column name, for operators whose output
        # frame cannot carry per-side alias metadata (ASOF join: the
        # union+window plan merges both sides into one frame, so
        # qualified refs are rewritten instead)
        self.redirects: dict[str, str] = {}

    def add(self, alias: str, df: DataFrame) -> None:
        self.frames[alias] = df

    def columns(self) -> dict[str, str]:
        """column name → owning alias (this level only)."""
        out: dict[str, str] = {}
        for alias, df in self.frames.items():
            for c in df.columns:
                out.setdefault(c, alias)
        return out

    def all_aliases(self) -> set[str]:
        s = set(self.frames)
        if self.parent:
            s |= self.parent.all_aliases()
        return s


class Lowerer:
    def __init__(
        self,
        spark: SparkSession,
        resolve_table,
        params: list | None = None,
        max_recursion: int = 100,
        config: dict | None = None,
        list_tables=None,
    ):
        """`resolve_table(name) -> DataFrame`; `params` binds $n;
        `config` binds @name identifiers (SET @x = v); `list_tables`
        (optional, engine-provided) enumerates resolvable table names
        for the merge() table function."""
        self.spark = spark
        self.resolve_table = resolve_table
        self.list_tables = list_tables
        self.params = params or []
        self.config = config or {}
        self._ids = itertools.count()
        # [EXT] lambda-variable bindings (higher-order array fns) —
        # innermost frame last
        self._lambda_stack: list[dict] = []
        # CTE name scopes, innermost last: a CTE body (and any
        # subquery) sees every CTE defined before it in an enclosing
        # WITH — including the iterating delta frame of a WITH
        # RECURSIVE evaluation.
        self._cte_stack: list[dict] = []
        self._max_recursion = max_recursion

    def _cte_lookup(self, name: str):
        for frame in reversed(self._cte_stack):
            if name in frame:
                return frame[name]
        return None

    def _gen(self, prefix: str) -> str:
        return f"__{prefix}{next(self._ids)}"

    # --- queries ----------------------------------------------------------

    def lower_query(self, q, outer: Scope | None = None) -> DataFrame:
        if isinstance(q, A.SetOp):
            left = self.lower_query(q.left, outer)
            right = self.lower_query(q.right, outer)
            if q.op == "union_all":
                return left.unionAll(right)
            if q.op == "union_distinct":
                return left.union(right).distinct()
            if q.op == "intersect":
                return left.intersect(right)
            if q.op == "intersect_all":
                return left.intersectAll(right)
            if q.op == "except_all":
                return left.exceptAll(right)
            return left.subtract(right)  # EXCEPT (distinct semantics)
        return self._lower_select(q, outer)

    def _source_df(self, src, alias, scope: Scope, cte: dict) -> tuple[DataFrame, str]:
        if isinstance(src, A.TableRef):
            name = src.name
            df = self._cte_lookup(name)
            if df is None:
                df = self.resolve_table(name)
            use = alias or name
        elif isinstance(src, A.ValuesTable):
            df = self._values_table(src)
            use = alias or self._gen("vals")
        elif isinstance(src, A.TableFn):
            df = self._table_fn(src)
            use = alias or src.name
        else:  # subquery
            df = self.lower_query(src, scope)
            use = alias or self._gen("sq")
        return df.alias(use), use

    def _values_table(self, vt: A.ValuesTable) -> DataFrame:
        """[EXT] inline (VALUES ...) table — a literal local frame
        (broadcast-sized by construction). Entries must be constants
        (parse-time folding reduces signed literals etc.)."""
        rows = []
        for r in vt.rows:
            vals = []
            for e in r:
                if not isinstance(e, A.Lit):
                    raise LoweringError(
                        "VALUES entries must be constant literals"
                    )
                vals.append(e.value)
            rows.append(tuple(vals))
        names = vt.names or [f"col{i + 1}" for i in range(len(vt.rows[0]))]
        return self.spark.createDataFrame(rows, names)

    def _table_fn(self, fn: A.TableFn) -> DataFrame:
        name = fn.name.lower()
        if name == "merge":
            # [EXT] merge('regex') — CH's multi-table union source:
            # every resolvable table whose name matches the regex
            # (partial match, CH semantics), unioned BY NAME, with the
            # `_table` virtual column carrying the source name (CH's
            # virtual column of the same name). Needs the engine's
            # catalog enumeration; schemas must align or the union
            # fails loudly.
            import re as _re_m

            if self.list_tables is None:
                raise LoweringError(
                    "merge() needs an engine catalog (connect())"
                )
            if len(fn.args) != 1 or not isinstance(fn.args[0], A.Lit):
                raise LoweringError("merge takes one regex string literal")
            pat = _re_m.compile(str(fn.args[0].value))
            names = sorted(n for n in self.list_tables() if pat.search(n))
            if not names:
                raise LoweringError(
                    f"merge({fn.args[0].value!r}) matched no tables"
                )
            parts = [
                self.resolve_table(n).withColumn("_table", F.lit(n))
                for n in names
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        if name == "jaccardpairs":
            # [EXT] pipeline operator as a table function:
            # jaccardPairs('table', 'id_col', 'text_col', n, threshold
            # [, max_shingle_freq]) → (id_a, id_b, jaccard) near-dup
            # candidate pairs via the inverted-index equi-join
            # (operators/dedup.py — hot-shingle guarded, never
            # all-pairs)
            from nutdb_spark.operators.dedup import jaccard_pairs

            if len(fn.args) not in (5, 6) or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "jaccardPairs takes ('table', 'id_col', 'text_col', "
                    "n, threshold[, max_shingle_freq]) literals"
                )
            tbl, idc, txc, n, thr, *rest = [a.value for a in fn.args]
            return jaccard_pairs(
                self.resolve_table(tbl), idc, txc,
                n=int(n), threshold=float(thr),
                max_shingle_freq=int(rest[0]) if rest else 100,
            )
        if name == "decontaminate":
            # [EXT] decontaminate('train_tbl', 'eval_tbl', 'id_col',
            # 'text_col', n) → (id_col, n_shared): the benchmark
            # decontamination check as a TABLE FUNCTION — flag every
            # training document sharing a word-n-gram shingle with the
            # eval corpus and report the shared-shingle count. The eval
            # shingle set is DISTINCT and broadcast (a benchmark is
            # tiny next to a 100 TB training corpus); training shingles
            # stream through the broadcast equi-join — never all-pairs.
            # Same plan as q_text_decontaminate (suite/text.py); the
            # open FnName::Others namespace
            # (reference src/parser/ast/item.rs:178) + the S16 table-fn
            # source (src/parser/mod.rs:546-562) are the dialect hook.
            from nutdb_spark.operators.dedup import shingles

            if len(fn.args) not in (5, 6) or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "decontaminate takes ('train_tbl', 'eval_tbl', "
                    "'id_col', 'text_col', n[, min_shared]) literals"
                )
            tr_t, ev_t, idc, txc, n, *rest = [a.value for a in fn.args]
            sh = shingles(F.col(txc), int(n))
            train = self.resolve_table(tr_t)
            tr = train.select(F.col(idc), F.explode(sh).alias("__s"))
            ev = (
                self.resolve_table(ev_t)
                .select(F.explode(sh).alias("__s"))
                .distinct()
            )
            shared = (
                tr.join(F.broadcast(ev), "__s")
                .groupBy(idc)
                .agg(F.countDistinct("__s").alias("n_shared"))
            )
            if not rest:
                return shared
            # 6-arg DROP form: the usable output — the train table
            # minus every document sharing >= min_shared distinct
            # shingles with the eval set. The flagged-id frame is tiny
            # (bounded by contamination, not corpus size): broadcast
            # LEFT ANTI join, the train scan streams through untouched.
            flagged = shared.filter(
                F.col("n_shared") >= int(rest[0])
            ).select(idc)
            return train.join(F.broadcast(flagged), idc, "left_anti")
        if name == "traintestsplit":
            # [EXT] trainTestSplit('table', 'key_col', train_frac,
            # val_frac[, salt]) → the source rows + a deterministic
            # 'split' column (train/val/NULL-holdout) by salted hash
            # range — per-row pure, append/partition-stable
            from nutdb_spark.operators.sampling import with_split

            if len(fn.args) not in (4, 5) or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "trainTestSplit takes ('table', 'key_col', "
                    "train_frac, val_frac[, 'salt']) literals"
                )
            tbl, keyc, ftr, fva, *rest = [a.value for a in fn.args]
            return with_split(
                self.resolve_table(tbl),
                F.col(keyc),
                fractions={"train": float(ftr), "val": float(fva)},
                salt=str(rest[0]) if rest else "split",
            )
        if name == "pagerank":
            # [EXT] pageRank('edges_tbl', 'src_col', 'dst_col', iters)
            # → (id, rank): exact integer-scaled PageRank over the
            # edge table (operators/graph.py — rank int64 in units of
            # 1e-12, bit-replayable). Nodes are the distinct src ∪ dst
            # endpoints; the node count is a bounded 1-row action at
            # lowering time (the dictGet precedent).
            from nutdb_spark.operators.graph import pagerank

            if len(fn.args) != 4 or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "pageRank takes ('edges_tbl', 'src_col', "
                    "'dst_col', iters) literals"
                )
            tbl, sc, dc, it = [a.value for a in fn.args]
            if int(it) < 0:
                raise LoweringError("pageRank iters must be >= 0")
            e = self.resolve_table(tbl).select(
                F.col(sc).cast("long").alias("src"),
                F.col(dc).cast("long").alias("dst"),
            )
            nodes = (
                e.select(F.col("src").alias("id"))
                .union(e.select(F.col("dst").alias("id")))
                .distinct()
            )
            return pagerank(e, nodes, iters=int(it))
        if name == "triangles":
            # [EXT] triangles('edges_tbl', 'src_col', 'dst_col') →
            # (id, tri): exact per-node triangle counts over the
            # undirected simple graph (degree-oriented wedge join,
            # operators/graph.py). Nodes are the distinct endpoints.
            from nutdb_spark.operators.graph import triangle_count

            if len(fn.args) != 3 or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "triangles takes ('edges_tbl', 'src_col', "
                    "'dst_col') literals"
                )
            tbl, sc, dc = [a.value for a in fn.args]
            e = self.resolve_table(tbl).select(
                F.col(sc).cast("long").alias("src"),
                F.col(dc).cast("long").alias("dst"),
            )
            nodes = (
                e.select(F.col("src").alias("id"))
                .union(e.select(F.col("dst").alias("id")))
                .distinct()
            )
            return triangle_count(e, nodes)
        if name == "anntopk":
            # [EXT] annTopK('table', 'id_col', 'vec_col', k, n_queries)
            # → (query_id, neighbor_id, rank): exact cosine top-k of
            # the first n_queries ids over the corpus (the brute-force
            # baseline; the IVF/LSH variants stay Python-API — their
            # build artifacts don't fit a one-call table fn)
            from nutdb_spark.operators.similarity import topk_bruteforce

            if len(fn.args) != 5 or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "annTopK takes ('table', 'id_col', 'vec_col', k, "
                    "n_queries) literals"
                )
            tbl, idc, vc, k, nq = [a.value for a in fn.args]
            corpus = self.resolve_table(tbl)
            queries = corpus.filter(F.col(idc) < int(nq))
            return topk_bruteforce(corpus, queries, idc, vc, k=int(k))
        if name == "gopherquality":
            # [EXT] gopherQuality('table', 'id_col', 'text_col'
            # [, 'stoplist']) → id + the Gopher/MassiveWeb counters,
            # per-rule booleans and composite gate (operators/text.py
            # gopher_rules). stoplist: 'gopher' (published default) or
            # 'english' (the engine's English list).
            from nutdb_spark.operators.text import (
                ENGLISH_STOPWORDS,
                GOPHER_FIELDS,
                GOPHER_STOPWORDS,
                gopher_struct,
            )

            if len(fn.args) not in (3, 4) or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "gopherQuality takes ('table', 'id_col', "
                    "'text_col'[, 'stoplist']) literals"
                )
            tbl, idc, txc, *rest = [a.value for a in fn.args]
            lists = {"gopher": GOPHER_STOPWORDS, "english": ENGLISH_STOPWORDS}
            which = str(rest[0]) if rest else "gopher"
            if which not in lists:
                raise LoweringError(
                    f"gopherQuality stoplist must be one of {sorted(lists)}"
                )
            # bind the struct once, then project fields (one
            # tokenization per row — see operators/text.gopher_struct)
            return (
                self.resolve_table(tbl)
                .withColumn(
                    "__g",
                    gopher_struct(F.col(txc), stopwords=lists[which]),
                )
                .select(
                    F.col(idc),
                    *[F.col("__g")[n2].alias(n2) for n2 in GOPHER_FIELDS],
                )
            )
        if name == "dtwtopk":
            # [EXT] dtwTopK('table', 'user_col', 'order_col',
            # 'value_col', n_queries, k, bucket_width, probes) →
            # (query_id, neighbor_id, dtw, rank): UNSLICED trajectory
            # top-k over every series in the table — envelope-bucket
            # prune + exact integer DTW verify (operators/
            # trajectory.py). bucket_width/probes are the recall/cost
            # knobs; unlike q_traj_dtw_topk there is no corpus cap, so
            # this is the measurable full-cost form.
            from nutdb_spark.operators.trajectory import (
                dtw_topk,
                user_value_series,
            )

            if len(fn.args) != 8 or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "dtwTopK takes ('table', 'user_col', 'order_col', "
                    "'value_col', n_queries, k, bucket_width, probes) "
                    "literals"
                )
            tbl, uc, oc, vc, nq, k, w, p = [a.value for a in fn.args]
            series = user_value_series(
                self.resolve_table(tbl), uc, oc, vc, scale=100, max_len=30
            )
            return dtw_topk(
                series,
                n_queries=int(nq),
                k=int(k),
                bucket_width=int(w),
                probes=int(p),
            )
        if name == "hlldistinct":
            # [EXT] hllDistinct('table', 'group_col', 'value_col'
            # [, p]) → (group_col, n_zero, est): the mergeable
            # engine-neutral HyperLogLog (operators/sketch.py) — raw
            # estimator + linear-counting inputs, register build is
            # one map-side-partial groupBy.
            from nutdb_spark.operators.sketch import (
                hll_estimate,
                hll_registers,
            )

            if len(fn.args) not in (3, 4) or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "hllDistinct takes ('table', 'group_col', "
                    "'value_col'[, p]) literals"
                )
            tbl, gc, vc = [a.value for a in fn.args[:3]]
            p = int(fn.args[3].value) if len(fn.args) == 4 else 8
            if not 4 <= p <= 12:
                raise LoweringError(
                    "hllDistinct p must be in [4, 12] (16..4096 "
                    "registers)"
                )
            regs = hll_registers(
                self.resolve_table(tbl), [gc], F.col(vc), p=p
            )
            return hll_estimate(regs, [gc], p=p)
        if name == "domainmixture":
            # [EXT] domainMixture('table', 'domain_col', 'text_col'
            # [, rounds]) → (domain, n_docs, loss, w_final): the
            # Group-DRO/DoReMi quantized multiplicative-weights
            # mixture (operators/mixing.py). Eager by design — the MW
            # loop runs on the k collected domain rows (bpe_train's
            # bounded-collect precedent).
            from nutdb_spark.operators.mixing import (
                DRO_ROUNDS,
                domain_losses,
                dro_mixture,
            )

            if len(fn.args) not in (3, 4) or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "domainMixture takes ('table', 'domain_col', "
                    "'text_col'[, rounds]) literals"
                )
            tbl, dc, txc = [a.value for a in fn.args[:3]]
            rounds = (
                int(fn.args[3].value) if len(fn.args) == 4 else DRO_ROUNDS
            )
            if rounds < 1:
                raise LoweringError("domainMixture rounds must be >= 1")
            losses = sorted(
                (r["domain"], r["n_docs"], r["loss"])
                for r in domain_losses(
                    self.resolve_table(tbl), F.col(dc), F.col(txc)
                ).collect()
            )
            w = dict(dro_mixture(losses, rounds=rounds))
            return self.spark.createDataFrame(
                [(d, n, ls, w[d]) for d, n, ls in losses],
                "domain string, n_docs long, loss long, w_final long",
            )
        if name == "languageidclf":
            # [EXT] languageIdClf('table', 'id_col', 'text_col') →
            # (doc_id, lang_pred, score): the committed hashed-linear
            # multi-class language classifier (operators/langid_clf.py
            # langid_scores — broadcast weight-table join + integer
            # argmax, trained offline by tools/train_langid_clf.py)
            from nutdb_spark.operators.langid_clf import langid_scores

            if len(fn.args) != 3 or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "languageIdClf takes ('table', 'id_col', "
                    "'text_col') literals"
                )
            tbl, idc, txc = [a.value for a in fn.args]
            return langid_scores(self.resolve_table(tbl), idc, txc)
        if name == "dsirscores":
            # [EXT] dsirScores('table', 'id_col', 'text_col',
            # 'target_col', 'target_val') → (doc_id, n_feats, score):
            # hashed-n-gram importance weights vs the target subset
            # (operators/sampling.py dsir_scores, exact fixed-point)
            from nutdb_spark.operators.sampling import dsir_scores

            if len(fn.args) != 5 or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "dsirScores takes ('table', 'id_col', 'text_col', "
                    "'target_col', 'target_val') literals"
                )
            tbl, idc, txc, tc, tv = [a.value for a in fn.args]
            return dsir_scores(
                self.resolve_table(tbl), idc, txc, F.col(tc) == tv
            )
        if name == "bpetrain":
            # [EXT] bpeTrain('table', 'text_col', n_merges) →
            # (rk, a, b, cnt): learn a BPE merge table in-engine
            # (operators/bpe.py bpe_train). Eager by design — each
            # round collects its 1-row argmax (k-means precedent).
            from nutdb_spark.operators.bpe import bpe_train

            if len(fn.args) != 3 or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "bpeTrain takes ('table', 'text_col', n_merges) "
                    "literals"
                )
            tbl, txc, n = [a.value for a in fn.args]
            if int(n) <= 0:
                raise LoweringError("bpeTrain n_merges must be >= 1")
            learned = bpe_train(
                self.resolve_table(tbl), F.col(txc), int(n)
            )
            return self.spark.createDataFrame(
                [(i + 1, a, b, c) for i, (a, b, c) in enumerate(learned)],
                "rk long, a string, b string, cnt long",
            )
        if name == "dedupsubstrings":
            # [EXT] dedupSubstrings('table', 'id_col', 'text_col', k)
            # → (doc_id, n_words, n_removed, clean_text): sliding
            # word-k-gram exact-substring span removal (operators/
            # dedup.py dedup_repeated_ngrams — the Lee et al. 2021
            # semantics, shift-invariant).
            from nutdb_spark.operators.dedup import dedup_repeated_ngrams

            if len(fn.args) != 4 or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "dedupSubstrings takes ('table', 'id_col', "
                    "'text_col', k) literals"
                )
            tbl, idc, txc, k = [a.value for a in fn.args]
            if int(k) < 2:
                raise LoweringError("dedupSubstrings k must be >= 2")
            return dedup_repeated_ngrams(
                self.resolve_table(tbl), idc, txc, k=int(k)
            )
        if name == "sentiment":
            # [EXT] sentiment('table', 'id_col', 'text_col') →
            # id + (sentiment, n_hits, label): the committed-lexicon
            # valence scorer (operators/text.py sentiment_scores).
            from nutdb_spark.operators.text import sentiment_scores

            if len(fn.args) != 3 or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "sentiment takes ('table', 'id_col', 'text_col') "
                    "literals"
                )
            tbl, idc, txc = [a.value for a in fn.args]
            g = sentiment_scores(F.col(txc))
            return self.resolve_table(tbl).select(
                F.col(idc), *[c.alias(n2) for n2, c in g.items()]
            )
        if name == "epochshuffle":
            # [EXT] epochShuffle('table', 'key_col', epoch, shards) →
            # the source rows + (eshard, pos): the deterministic
            # per-epoch training order (operators/packing.py).
            from nutdb_spark.operators.packing import epoch_shuffle

            if len(fn.args) != 4 or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "epochShuffle takes ('table', 'key_col', epoch, "
                    "shards) literals"
                )
            tbl, keyc, ep, sh = [a.value for a in fn.args]
            if int(sh) <= 0:
                raise LoweringError("epochShuffle shards must be >= 1")
            return epoch_shuffle(
                self.resolve_table(tbl),
                F.col(keyc),
                epoch=int(ep),
                shards=int(sh),
            )
        if name == "numbers":
            # numbers(n) and the ClickHouse 2-arg numbers(offset, n)
            if len(fn.args) not in (1, 2) or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "numbers(n) / numbers(offset, n) require literals"
                )
            if len(fn.args) == 1:
                lo, hi = 0, fn.args[0].value
            else:
                lo = fn.args[0].value
                hi = lo + fn.args[1].value
            return self.spark.range(lo, hi).withColumnRenamed(
                "id", "number"
            )
        if name in ("generate_series", "generateseries"):
            # [EXT] generate_series(start, stop[, step]) — INCLUSIVE
            # stop (the DuckDB/Postgres contract); negative steps
            # count down. Lowered to spark.range (distributed, no
            # driver materialization).
            if len(fn.args) not in (2, 3) or not all(
                isinstance(a, A.Lit) for a in fn.args
            ):
                raise LoweringError(
                    "generate_series(start, stop[, step]) requires "
                    "literals"
                )
            start = fn.args[0].value
            stop = fn.args[1].value
            step = fn.args[2].value if len(fn.args) == 3 else 1
            if step == 0:
                raise LoweringError("generate_series step must not be 0")
            end = stop + (1 if step > 0 else -1)  # range() excludes end
            return self.spark.range(start, end, step).withColumnRenamed(
                "id", "generate_series"
            )
        for fmt in ("parquet", "json", "csv", "orc"):
            if name == fmt:
                (path,) = fn.args
                if not (isinstance(path, A.Lit) and path.kind == "string"):
                    raise LoweringError(f"{fmt}(path) requires a string literal")
                reader = self.spark.read
                if fmt == "csv":
                    return reader.option("header", "true").csv(path.value)
                return getattr(reader, fmt)(path.value)
        raise LoweringError(f"unknown table function {fn.name!r}")

    def _lower_select(self, q: A.SelectCore, outer: Scope | None) -> DataFrame:
        frame: dict[str, DataFrame] = {}
        self._cte_stack.append(frame)
        try:
            for c in q.ctes:
                frame[c.name] = self._lower_cte(c, outer)
            if getattr(q, "expr_aliases", None):
                self._apply_expr_aliases(q)
            return self._lower_select_body(q, outer)
        finally:
            self._cte_stack.pop()

    def _resolve_positional(self, q: A.SelectCore) -> None:
        """[EXT] positional arguments: an integer literal in GROUP BY
        or ORDER BY names the select item at that 1-based ordinal
        (ClickHouse enable_positional_arguments / DuckDB behavior —
        sorting by a constant is meaningless, so the ordinal reading
        costs nothing). Substituted before aggregate hoisting so an
        ordinal naming an aggregate item behaves exactly like spelling
        it out."""
        import copy as _copy

        if getattr(q, "_positional_done", False):
            # iterative lowerings re-enter with the SAME AST; ordinals
            # were already substituted (a substituted item that is
            # itself an integer literal must not re-resolve)
            return
        q._positional_done = True
        ncols = len(q.columns)

        def sub(e):
            if (
                isinstance(e, A.Lit)
                and e.kind in ("int", "hex")
                and isinstance(e.value, int)
            ):
                i = e.value
                if not 1 <= i <= ncols:
                    raise LoweringError(
                        f"positional reference {i} is out of range "
                        f"(select list has {ncols} items)"
                    )
                item, alias = q.columns[i - 1]
                if isinstance(item, A.Wildcard):
                    raise LoweringError(
                        "positional reference cannot name a wildcard item"
                    )
                return _copy.deepcopy(item)
            return e

        q.group_by = [sub(g) for g in q.group_by]
        for o in q.order_by or []:
            o.expr = sub(o.expr)

    def _apply_expr_aliases(self, q: A.SelectCore) -> None:
        """[EXT] ClickHouse scalar WITH: substitute each `WITH expr AS
        name` binding for every unqualified Ident(name) in THIS query
        body's expressions (select list, WHERE/PREWHERE, GROUP BY,
        HAVING, QUALIFY, ORDER BY, join conditions). Later bindings see
        earlier ones. Subqueries keep their own scope — substitution
        stops at any nested query boundary — and the WITH alias takes
        precedence over a same-named column, matching ClickHouse."""
        bound: dict[str, object] = {}
        for name, expr in q.expr_aliases:
            bound[name] = self._subst_expr(expr, bound)
        # one-shot: iterative lowerings (recursive CTE rounds) re-lower
        # the SAME AST — a second substitution pass over an already
        # substituted tree would double-apply self-referential aliases
        q.expr_aliases = []

        for f in (
            "where", "prewhere", "having", "qualify", "limit", "offset"
        ):
            v = getattr(q, f, None)
            if v is not None and hasattr(v, "__dataclass_fields__"):
                setattr(q, f, self._subst_expr(v, bound))
        new_cols = []
        for e, a in q.columns:
            if isinstance(e, A.Wildcard):
                new_cols.append((e, a))
                continue
            if (
                a is None
                and isinstance(e, A.Ident)
                and e.qualifier is None
                and e.name in bound
            ):
                # a bare `SELECT rk2` keeps the alias name as the
                # output column name, like ClickHouse
                a = e.name
            new_cols.append((self._subst_expr(e, bound), a))
        q.columns = new_cols
        q.group_by = [self._subst_expr(g, bound) for g in q.group_by]
        for o in getattr(q, "order_by", None) or []:
            o.expr = self._subst_expr(o.expr, bound)
        for j in q.joins:
            if getattr(j, "on", None) is not None:
                j.on = self._subst_expr(j.on, bound)

    def _bind_common_subexprs(self, sel_items, base, scope):
        """[OPT r13] Common-subexpression binding for plain
        (non-aggregate, non-window) projections: a deterministic
        FnCall subtree that appears ≥2 times across the select list
        lowers ONCE into a temp column and every occurrence becomes a
        column reference. Catalyst's own subexpression elimination
        covers codegen'd expressions but NOT CodegenFallback trees
        (higher-order folds — exactly the engine's expensive scalars),
        so e.g. ``geohashDecode(1, geohashEncode(...))`` alongside
        ``geohashEncode(...)`` re-ran the 30-step bisection fold per
        reference (guide §4.1/§7.2: duplicated subtrees).

        Rebuilds the items without mutating them (the AST may be
        re-lowered by recursive-CTE rounds), keyed by the dialect
        printer's text; skips the pass entirely when the select list
        carries wildcards/COLUMNS() (a bound temp column would leak
        into ``*``) or window calls (separate lowering machinery), and
        never keys subtrees inside lambda bodies, containing
        subqueries, or containing nondeterministic generators."""
        from nutdb_spark.frontend import printer as _P

        for e, _a in sel_items:
            for n in A.walk(e):
                if isinstance(n, (A.Wildcard, A.WindowCall)) or (
                    isinstance(n, A.FnCall) and n.name.lower() == "columns"
                ):
                    return sel_items, base

        def collect(n, counts, reps, in_lambda):
            """Post-order walk; returns False if the subtree must not
            be keyed (subquery / nondet inside)."""
            if isinstance(n, A.SUBQUERIES):
                return False
            if isinstance(n, A.Lambda):
                for c in A.children(n):
                    collect(c, counts, reps, True)
                return True  # self-contained: doesn't poison parents
            clean = True
            for c in A.children(n):
                if not collect(c, counts, reps, in_lambda):
                    clean = False
            if isinstance(n, A.FnCall):
                if n.name.lower() in NONDETERMINISTIC:
                    return False
                if clean and not in_lambda:
                    try:
                        k = _P.expr(n)
                    except Exception:  # noqa: BLE001 — unprintable: skip
                        return clean
                    counts[k] = counts.get(k, 0) + 1
                    reps.setdefault(k, n)
            return clean

        def bind(n):
            """The round's temp column for an occurrence of its key."""
            if isinstance(n, (A.Lambda, *A.SUBQUERIES)):
                return n
            if isinstance(n, A.FnCall):
                try:
                    if _P.expr(n) == key:
                        return A.Ident(name=tmp)
                except Exception:  # noqa: BLE001
                    pass
            return None

        items = sel_items
        for _ in range(8):  # largest-first, re-counted per round
            counts: dict = {}
            reps: dict = {}
            for e, _a in items:
                collect(e, counts, reps, False)
            cands = [
                k
                for k, c in counts.items()
                if c >= 2 and len(k) >= 20
            ]
            if not cands:
                break
            key = max(cands, key=len)
            tmp = f"__cse{len(base.columns)}_{abs(hash(key)) % 10**6}"
            col, base = self._expr_with_scalars(
                reps[key], base, scope, {}, []
            )
            base = base.withColumn(tmp, col)
            items = [(A.replace(e, bind), a) for e, a in items]
        return items, base

    def _subst_expr(self, node, bound: dict):
        """``node`` with a copy of ``bound[name]`` for each unqualified
        Ident(name), outside subqueries and wildcards."""
        import copy as _copy

        def fn(n):
            if isinstance(n, A.Ident):
                hit = bound.get(n.name) if n.qualifier is None else None
                return n if hit is None else _copy.deepcopy(hit)
            if isinstance(n, (*A.SUBQUERIES, A.Wildcard)):
                return n
            if isinstance(n, A.Lambda):
                # lambda parameters shadow WITH aliases inside the body
                inner = {k: v for k, v in bound.items() if k not in n.params}
                return A.Lambda(n.params, self._subst_expr(n.body, inner))
            return None

        return A.replace(node, fn)

    def _lower_cte(self, c: A.Cte, outer) -> DataFrame:
        """A later CTE sees every earlier one (the frame is already on
        the stack); a RECURSIVE self-referencing CTE lowers to an
        iterative fixpoint."""
        if getattr(c, "recursive", False) and any(
            isinstance(n, A.TableRef) and n.name == c.name
            for n in A.walk(c.query)
        ):
            return self._lower_recursive_cte(c, outer)
        return self.lower_query(c.query, outer)

    def _lower_recursive_cte(self, c: A.Cte, outer) -> DataFrame:
        """[EXT] WITH RECURSIVE on Spark: anchor UNION [ALL|DISTINCT]
        recursive-term, evaluated as the standard iterative fixpoint —
        each round re-lowers the recursive term against the previous
        round's DELTA (bound through the CTE stack), localCheckpoint
        bounds lineage, and the only driver-side values are the
        per-round emptiness checks (same contract as connected
        components). DISTINCT form subtracts the accumulator, so graph
        closures over cyclic data terminate; ALL form terminates when
        the term itself runs dry. Spark has no native recursive CTE —
        this is the documented scale-out shape for it."""
        q = c.query
        if not (
            isinstance(q, A.SetOp) and q.op in ("union_all", "union_distinct")
        ):
            raise LoweringError(
                "recursive CTE must be <anchor> UNION ALL|DISTINCT <term>"
            )
        distinct = q.op == "union_distinct"
        anchor = self.lower_query(q.left, outer)
        if distinct:
            anchor = anchor.distinct()
        acc = anchor.localCheckpoint(eager=True)
        delta = acc
        frame: dict[str, DataFrame] = {}
        self._cte_stack.append(frame)
        try:
            for _ in range(self._max_recursion):
                frame[c.name] = delta
                step = self.lower_query(q.right, outer)
                if len(step.columns) != len(acc.columns):
                    raise LoweringError(
                        "recursive term arity differs from the anchor"
                    )
                step = step.toDF(*acc.columns)
                if distinct:
                    step = step.distinct().subtract(acc)
                # lazy: the isEmpty() below materializes+caches it —
                # one Spark job per round instead of two (the
                # bpe_train checkpoint discipline)
                delta = step.localCheckpoint(eager=False)
                if delta.isEmpty():
                    return acc
                # deltas are checkpointed, so the accumulator's
                # lineage is a flat union over cached blocks — a
                # per-round acc checkpoint would re-materialize ALL
                # accumulated rows every round (O(rounds²) copies)
                acc = acc.unionAll(delta)
            raise LoweringError(
                f"recursive CTE {c.name!r} exceeded "
                f"{self._max_recursion} iterations (raise via "
                "Lowerer(max_recursion=...))"
            )
        finally:
            self._cte_stack.pop()

    def _expand_applies(self, q: A.SelectCore, base: DataFrame) -> None:
        """[EXT] `* [EXCEPT (...)] APPLY(fn) [APPLY(fn2)...]` and
        `COLUMNS('re') APPLY(fn)...`: replace the carrier item with an
        explicit FnCall per expanded column, labeled ClickHouse-style
        (`fn(col)`, chains nest). Runs once per AST — after expansion
        no `applies` markers remain, so recursive-CTE re-lowerings are
        no-ops. Functions are plain names; each wraps exactly one
        column reference, so the result is an ordinary projection or
        aggregate — nothing new in the physical plan."""
        if not any(getattr(e, "applies", None) for e, _ in q.columns):
            return
        import re as _re

        new_cols: list = []
        for e, alias in q.columns:
            applies = getattr(e, "applies", None)
            if not applies:
                new_cols.append((e, alias))
                continue
            if isinstance(e, A.Wildcard):
                if e.replaces:
                    raise LoweringError(
                        "APPLY cannot combine with REPLACE "
                        "(apply to the replaced expression instead)"
                    )
                cols = (
                    base.select(f"{e.qualifier}.*").columns
                    if e.qualifier
                    else [c for c in base.columns if not c.startswith("__")]
                )
                drop = set(e.except_cols or [])
                for c in drop:
                    if c not in cols:
                        raise LoweringError(
                            f"EXCEPT column {c!r} is not in the "
                            "wildcard's column set"
                        )
                cols = [c for c in cols if c not in drop]
                qual = e.qualifier
            else:  # COLUMNS('re') carrier
                pat = _re.compile(e.args[0].value)
                cols = [
                    c
                    for c in base.columns
                    if not c.startswith("__") and pat.search(c)
                ]
                if not cols:
                    raise LoweringError(
                        f"COLUMNS({e.args[0].value!r}) matched no columns"
                    )
                qual = None
            for c in cols:
                expr: object = A.Ident(c, qual)
                label = c
                for fname in applies:
                    expr = A.FnCall(fname, [expr])
                    label = f"{fname}({label})"
                new_cols.append((expr, label))
        q.columns = new_cols

    def _lower_select_body(self, q: A.SelectCore, outer: Scope | None) -> DataFrame:
        scope = Scope(outer)
        cte: dict[str, DataFrame] = {}

        if q.from_ is None:
            base = self.spark.range(1).select(F.lit(1).alias("__one"))
        else:
            base, alias = self._source_df(q.from_.source, q.from_.alias, scope, cte)
            scope.add(alias, base)
            base = self._apply_sample(base, q.from_, scope)
            for j in q.joins:
                if isinstance(j, A.ArrayJoin):
                    base = self._lower_array_join(base, j, scope)
                else:
                    base = self._lower_join(base, j, scope, cte)

        # [EXT] PREWHERE (ClickHouse): a pre-filter ahead of WHERE. In a
        # column store it gates which columns are read; under Spark both
        # conjunct sets reach the same pushed-down parquet filter, so it
        # lowers as an ordinary extra filter (dialect parity, same plan).
        # [EXT] WHERE/PREWHERE <select alias> (ClickHouse's alias-
        # anywhere rule): substitute non-column select aliases before
        # the filter lowers — textual substitution, so the predicate
        # still pushes to the scan. Aliases wrapping AGGREGATES or
        # WINDOWS are excluded (they can't filter pre-grouping rows; a
        # reference to one keeps failing loudly at resolution). Same
        # column-wins precedence as the GROUP BY/HAVING alias rules.
        if getattr(q, "prewhere", None) is not None or q.where is not None:
            _pb: dict = {}
            for _e, _a in q.columns:
                if (
                    _a is None
                    or isinstance(_e, (A.Wildcard, A.WindowCall))
                    or _a in base.columns
                ):
                    continue
                _probe: list = []
                self._collect_aggs(_e, _probe)
                if not _probe:
                    _pb[_a] = _e
            if _pb:
                if getattr(q, "prewhere", None) is not None:
                    q.prewhere = self._subst_expr(q.prewhere, _pb)
                if q.where is not None:
                    q.where = self._subst_expr(q.where, _pb)
        if getattr(q, "prewhere", None) is not None:
            base = self._lower_predicate(base, q.prewhere, scope)
        # WHERE: decompose into subquery conjuncts + plain predicate
        if q.where is not None:
            base = self._lower_predicate(base, q.where, scope)

        # [EXT] `* APPLY(fn)` / `COLUMNS('re') APPLY(fn)` — expand to
        # explicit FnCall items BEFORE aggregate hoisting, so an
        # applied aggregate (the common `* APPLY(sum) ... GROUP BY`
        # idiom) rides the normal GROUP BY machinery
        self._expand_applies(q, base)
        # positional ordinals resolve AFTER the APPLY expansion so
        # `ORDER BY 2` addresses the FINAL output column list, not a
        # pre-expansion carrier item (which would re-lower COLUMNS()
        # in expression position and fail)
        self._resolve_positional(q)

        # [EXT] GROUP BY ALL: every select expression that contains no
        # aggregate becomes a group key (ClickHouse/DuckDB). Runs
        # AFTER the APPLY expansion so applied aggregates are visible
        # to the probe; expanded once (the AST may be re-lowered by
        # recursive-CTE rounds).
        if getattr(q, "group_all", False) and not getattr(
            q, "_group_all_done", False
        ):
            q._group_all_done = True
            for e, _alias in q.columns:
                if isinstance(e, A.Wildcard):
                    raise LoweringError(
                        "GROUP BY ALL cannot expand a * select item"
                    )
                probe: list = []
                self._collect_aggs(e, probe)
                if not probe and not isinstance(e, A.WindowCall):
                    q.group_by.append(e)
            if not q.group_by:
                raise LoweringError(
                    "GROUP BY ALL found no non-aggregate select "
                    "expressions to group by"
                )

        # aggregate or plain projection
        agg_calls: list[tuple[A.FnCall, str]] = []
        for e, _ in q.columns:
            self._collect_aggs(e, agg_calls)
        if q.having is not None:
            # [EXT] HAVING <select alias> (ClickHouse allows it): an
            # unqualified ident that is NOT a source column but IS a
            # select alias substitutes as the aliased expression
            # (deep-copied — a shared FnCall object would double-
            # register in the aggregate hoist). Same column-wins
            # precedence as GROUP BY aliases; idempotent because the
            # substituted tree contains no matching idents.
            hav_bound = {
                a: e
                for e, a in q.columns
                if a is not None
                and not isinstance(e, A.Wildcard)
                and a not in base.columns
            }
            if hav_bound:
                q.having = self._subst_expr(q.having, hav_bound)
            self._collect_aggs(q.having, agg_calls)
        for o in q.order_by:
            self._collect_aggs(o.expr, agg_calls)

        is_agg = bool(q.group_by) or bool(agg_calls)
        if is_agg:
            base, group_map = self._lower_aggregate(base, q, agg_calls, scope)
        else:
            group_map = {}

        # projection
        sel_items = list(q.columns)
        if not is_agg and getattr(q, "qualify", None) is None:
            sel_items, base = self._bind_common_subexprs(
                sel_items, base, scope
            )
        proj: list[Column] = []
        out_names: list[str] = []
        out_cols: list[Column | None] = []  # unaliased, for LIMIT BY refs
        for e, alias in sel_items:
            if isinstance(e, A.Wildcard):
                if e.except_cols or e.replaces:
                    # [EXT] `* EXCEPT (...)` / `* REPLACE (expr AS c)`:
                    # expand to an explicit column list so Catalyst
                    # prunes the dropped columns out of the scan
                    cols = (
                        base.select(f"{e.qualifier}.*").columns
                        if e.qualifier
                        else [
                            c
                            for c in base.columns
                            if not c.startswith("__")
                        ]
                    )
                    for c in e.except_cols or []:
                        if c not in cols:
                            raise LoweringError(
                                f"EXCEPT column {c!r} is not in the "
                                "wildcard's column set"
                            )
                    repl = {}
                    for rexpr, rname in e.replaces or []:
                        if rname not in cols:
                            raise LoweringError(
                                f"REPLACE column {rname!r} is not in "
                                "the wildcard's column set"
                            )
                        rcol, base = self._expr_with_scalars(
                            rexpr, base, scope, group_map, agg_calls
                        )
                        repl[rname] = rcol
                    drop = set(e.except_cols or [])
                    for c in cols:
                        if c in drop:
                            continue
                        col = repl.get(c)
                        if col is None:
                            col = (
                                F.col(f"{e.qualifier}.{c}")
                                if e.qualifier
                                else F.col(c)
                            )
                        proj.append(col.alias(c))
                        out_names.append(c)
                        out_cols.append(col)
                    continue
                if e.qualifier:
                    proj.append(F.col(f"{e.qualifier}.*"))
                else:
                    proj.append(F.col("*"))
                out_names.append("*")
                out_cols.append(None)
                continue
            if (
                isinstance(e, A.FnCall)
                and e.name.lower() == "columns"
                and len(e.args) == 1
                and isinstance(e.args[0], A.Lit)
                and e.args[0].kind == "string"
            ):
                # [EXT] COLUMNS('regex') — expand to every column whose
                # name matches (partial match, like ClickHouse re2 /
                # DuckDB). Resolved at lowering time so the physical
                # plan is an ordinary pruned projection.
                import re as _re

                pat = _re.compile(e.args[0].value)
                matched = [
                    c
                    for c in base.columns
                    if not c.startswith("__") and pat.search(c)
                ]
                if not matched:
                    raise LoweringError(
                        f"COLUMNS({e.args[0].value!r}) matched no columns"
                    )
                for c in matched:
                    proj.append(F.col(c).alias(c))
                    out_names.append(c)
                    out_cols.append(F.col(c))
                continue
            col, base = self._expr_with_scalars(e, base, scope, group_map, agg_calls)
            name = alias or self._expr_name(e)
            proj.append(col.alias(name))
            out_names.append(name)
            out_cols.append(col)

        if q.having is not None:
            hav, base = self._expr_with_scalars(
                q.having, base, scope, group_map, agg_calls
            )
            base = base.filter(hav)

        # [EXT] QUALIFY: a filter over window-function results. The
        # predicate rides in the SAME projection as the select list and
        # the filter applies AFTER it — so every window (in SELECT and
        # in the predicate) evaluates over the full pre-QUALIFY input,
        # matching DuckDB/standard semantics. (Filtering `base` first
        # would recompute SELECT-list windows over only the survivors —
        # silently wrong counts/offsets.)
        qual_tmp = None
        if getattr(q, "qualify", None) is not None:
            qcol, base = self._expr_with_scalars(
                q.qualify, base, scope, group_map, agg_calls
            )
            qual_tmp = self._gen("qual")
            proj.append(qcol.alias(qual_tmp))

        # [EXT] LIMIT n BY keys: a per-key head in the query's ORDER BY
        # order. Lowered as row_number() over (partition by keys order
        # by <order_by>) riding in the SAME projection (one WindowExec,
        # no extra shuffle beyond the window's own hash partitioning),
        # then a post-select filter — the ClickHouse per-group-head
        # without the self-join idiom.
        lb = getattr(q, "limit_by", None)
        lb_tmp = None
        if lb is not None:
            if not q.order_by:
                raise LoweringError(
                    "LIMIT BY requires ORDER BY for a deterministic "
                    "per-key row order"
                )
            if q.distinct or q.distinct_on is not None or q.qualify is not None:
                raise LoweringError(
                    "LIMIT BY cannot combine with DISTINCT or QUALIFY"
                )

            def _sel_ref(e):
                # a key/order item may name a projection alias; resolve
                # to the projected expression so the window can compute
                # inside the same select
                if (
                    isinstance(e, A.Ident)
                    and e.qualifier is None
                    and e.name in out_names
                ):
                    c = out_cols[out_names.index(e.name)]
                    if c is not None:
                        return c
                return self._expr(e, scope, group_map, agg_calls)

            from pyspark.sql import Window

            # share _sort_col so NULLS FIRST/LAST picks the same
            # per-key head rows as the final presented order
            lb_order = [
                _sort_col(_sel_ref(o.expr), o.asc, getattr(o, "nulls", None))
                for o in q.order_by
            ]
            w = Window.partitionBy(*[_sel_ref(k) for k in lb.keys]).orderBy(
                *lb_order
            )
            lb_tmp = self._gen("lb")
            proj.append(F.row_number().over(w).alias(lb_tmp))

        order_cols: list[tuple[Column, bool]] = []
        for o in q.order_by:
            # ORDER BY may name a projection alias
            if (
                isinstance(o.expr, A.Ident)
                and o.expr.qualifier is None
                and o.expr.name in out_names
            ):
                oc = F.col(o.expr.name)
            else:
                oc, base = self._expr_with_scalars(
                    o.expr, base, scope, group_map, agg_calls
                )
            order_cols.append((oc, o.asc, getattr(o, "nulls", None)))

        projected = base.select(*proj)
        if qual_tmp is not None:
            projected = projected.filter(F.col(qual_tmp)).drop(qual_tmp)
        if lb_tmp is not None:
            n = self._const_int(lb.n)
            off = self._const_int(lb.offset) if lb.offset is not None else 0
            projected = projected.filter(
                (F.col(lb_tmp) > off) & (F.col(lb_tmp) <= off + n)
            ).drop(lb_tmp)

        if q.distinct_on is not None:
            keys = [
                self._expr(k, scope, group_map, agg_calls) for k in q.distinct_on
            ]
            spec = [(c, asc) for c, asc, _ in order_cols] or None
            projected = R.distinct_on(projected, keys, order_by=spec)
            if order_cols:
                projected = projected.orderBy(
                    *[_sort_col(c, asc, nl) for c, asc, nl in order_cols]
                )
        elif q.distinct:
            projected = projected.distinct()
            if order_cols:
                projected = projected.orderBy(
                    *[_sort_col(c, asc, nl) for c, asc, nl in order_cols]
                )
        elif order_cols:
            projected = projected.orderBy(
                *[_sort_col(c, asc, nl) for c, asc, nl in order_cols]
            )

        if any(getattr(o, "fill", None) is not None for o in q.order_by):
            projected = self._apply_fill(projected, q, out_names)

        if q.limit is not None:
            projected = self._lower_limit(projected, q.limit, order_cols)
        return projected

    def _apply_fill(self, projected, q, out_names):
        """[EXT] ORDER BY <col> WITH FILL [FROM a] [TO b] [STEP s]:
        materialize the missing key values of an ordered result as rows
        with NULL payload (NULLs mark filled rows — ClickHouse fills
        type defaults and needs INTERPOLATE to tell them apart; NULL is
        the honest Spark-side strengthening). The series is built
        DISTRIBUTED: a one-row min/max aggregate (map-side partial,
        when FROM/TO are omitted) feeds sequence()+explode — no driver
        collect at any scale — and joins back FULL OUTER so original
        rows outside the range survive, exactly like ClickHouse."""
        fills = [o for o in q.order_by if getattr(o, "fill", None) is not None]
        if len(fills) > 1:
            raise LoweringError("WITH FILL supports one ORDER BY column")
        o = fills[0]
        if not (
            isinstance(o.expr, A.Ident)
            and o.expr.qualifier is None
            and o.expr.name in out_names
        ):
            raise LoweringError(
                "WITH FILL requires the ORDER BY item to name an output column"
            )
        if not o.asc:
            raise LoweringError("WITH FILL requires an ascending key")
        for other in q.order_by:
            if not (
                isinstance(other.expr, A.Ident)
                and other.expr.qualifier is None
                and other.expr.name in out_names
            ):
                raise LoweringError(
                    "with WITH FILL, every ORDER BY item must name an "
                    "output column"
                )
        name = o.expr.name
        f_from, f_to, f_step = o.fill
        key_type = dict(projected.dtypes)[name]
        is_temporal = key_type in ("date",) or key_type.startswith("timestamp")
        if f_step is not None:
            step = self._expr(f_step, None, {}, [])
        elif is_temporal:
            raise LoweringError(
                "WITH FILL on a date/timestamp key requires STEP <interval>"
            )
        else:
            step = F.lit(1).cast(key_type)
        key = F.col(name)
        # bounds as a one-row aggregate (constants wrapped in max() so
        # the frame stays a pure aggregate). TO is exclusive: generate
        # through TO itself and filter `key < TO` after the explode —
        # subtracting one STEP instead would drop the last legitimate
        # value whenever (TO - lo) is not a multiple of STEP
        # (e.g. FROM 0 TO 10 STEP 3 must yield 0,3,6,9, not 0,3,6).
        lo = (
            F.min(key)
            if f_from is None
            else F.max(self._expr(f_from, None, {}, []).cast(key_type))
        )
        hi = (
            F.max(key)
            if f_to is None
            else F.max(self._expr(f_to, None, {}, []).cast(key_type))
        )
        series = projected.agg(lo.alias("__lo"), hi.alias("__hi")).select(
            F.explode(F.sequence(F.col("__lo"), F.col("__hi"), step)).alias(name)
        )
        if f_to is not None:
            series = series.where(
                key < self._expr(f_to, None, {}, []).cast(key_type)
            )
        real_flag = self._gen("real")
        filled = series.join(
            projected.withColumn(real_flag, F.lit(True)), on=name, how="full"
        )
        interp = getattr(q, "interpolate", None) or []
        if interp:
            filled = self._apply_interpolate(
                filled, q, name, real_flag, out_names, interp
            )
        filled = filled.select(*out_names)
        sort = [
            F.col(x.expr.name).asc() if x.asc else F.col(x.expr.name).desc()
            for x in q.order_by
        ]
        return filled.orderBy(*sort)

    def _apply_interpolate(
        self, filled, q, key_name, real_flag, out_names, interp
    ):
        """[EXT] INTERPOLATE over WITH FILL-generated rows. Two forms,
        both closed-form (no iterative per-row evaluation):

        - `col` / `col AS col` — carry the last real row's value
          forward into consecutive generated rows;
        - `col AS col ± <const>` — ClickHouse's running expression,
          applied once per generated step: consecutive fills compound,
          so the value is last_real ± const × steps_since_real, which
          one window expression computes exactly.

        The window is ordered by the fill key over the FILLED result —
        a presentation-layer pass over the already-bounded series,
        the same scale class as the final ORDER BY that WITH FILL
        implies. Real rows always keep their own values (including
        real NULLs)."""
        from pyspark.sql import Window

        w = (
            Window.orderBy(F.col(key_name))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        real = F.col(real_flag)
        rn = self._gen("irn")
        filled = filled.withColumn(
            rn, F.row_number().over(Window.orderBy(F.col(key_name)))
        )
        for cname, iexpr in interp:
            if cname not in out_names or cname == key_name:
                raise LoweringError(
                    f"INTERPOLATE column {cname!r} must be a non-key "
                    "output column"
                )
            col = F.col(cname)
            last_real = F.last(
                F.when(real, col), ignorenulls=True
            ).over(w)
            if iexpr is None or (
                isinstance(iexpr, A.Ident)
                and iexpr.qualifier is None
                and iexpr.name == cname
            ):
                val = last_real
            elif (
                isinstance(iexpr, A.BinOp)
                and iexpr.op in ("+", "-")
                and isinstance(iexpr.left, A.Ident)
                and iexpr.left.qualifier is None
                and iexpr.left.name == cname
                and isinstance(iexpr.right, A.Lit)
            ):
                steps = F.col(rn) - F.last(
                    F.when(real, F.col(rn)), ignorenulls=True
                ).over(w)
                delta = F.lit(iexpr.right.value) * steps
                val = (
                    last_real + delta
                    if iexpr.op == "+"
                    else last_real - delta
                )
            else:
                raise LoweringError(
                    "INTERPOLATE supports carry-forward (`col`) or "
                    "`col AS col ± <constant>`"
                )
            filled = filled.withColumn(
                cname, F.when(real, col).otherwise(val)
            )
        return filled.drop(rn)

    def _lower_limit(self, df: DataFrame, lim: A.Limit, order_cols) -> DataFrame:
        n = self._const_int(lim.n)
        off = self._const_int(lim.offset) if lim.offset is not None else 0
        if lim.with_ties:
            if not order_cols:
                raise LoweringError("LIMIT WITH TIES requires ORDER BY")
            # OFFSET skips first, then ties of the (off+n)-th row are
            # kept: threshold at off+n, drop the first off rows of the
            # ordered tie-extended frame.
            out = R.limit_with_ties(
                df, [(c, asc) for c, asc, _ in order_cols], n + off
            )
            return out.offset(off) if off else out
        return R.limit_offset(df, n, off)

    def _const_int(self, e) -> int:
        if isinstance(e, A.Lit) and e.kind in ("int", "hex"):
            return e.value
        if isinstance(e, A.Param):
            return int(self._param(e))
        raise LoweringError("LIMIT/OFFSET must be integer literals")

    def _lower_join(self, base: DataFrame, j: A.Join, scope: Scope, cte) -> DataFrame:
        right, alias = self._source_df(j.source, j.alias, scope, cte)
        if getattr(j, "broadcast", False):
            # [EXT] GLOBAL JOIN → broadcast the right side (the hint
            # survives scope.add; ASOF/ANY lowerings keep their own
            # shuffle shapes, where CH's GLOBAL would be a no-op too)
            right = F.broadcast(right).alias(alias)
        if j.kind in ("asof", "left_asof"):
            return self._lower_asof(base, right, alias, j, scope)
        if j.kind in ("left_any", "inner_any", "right_any"):
            # [EXT] ClickHouse ANY strictness: at most ONE match from
            # the non-preserved side per key. CH picks an arbitrary
            # match; we pick the FIRST by a deterministic total order
            # over the deduped side's non-key columns, so results are
            # engine- and partitioning-stable (and oracle-able). The
            # dedup is one bounded window on the side that would have
            # fanned out — the preserved side streams through the
            # ordinary hash join untouched. USING is required: the
            # dedup keys must be explicit.
            how = {
                "left_any": "left",
                "inner_any": "inner",
                "right_any": "right",
            }[j.kind]
            if j.using is not None:
                if j.kind == "right_any":
                    base = self._dedup_any(base, j.using)
                else:
                    right = self._dedup_any(right, j.using).alias(alias)
                scope.add(alias, right)
                return base.join(right, j.using, how)
            if j.on is None:
                raise LoweringError(
                    "ANY JOIN requires USING (...) or an equi-key ON — "
                    "the pick-one dedup keys must be derivable"
                )
            # [EXT] ON form: every conjunct must be an equi-key `=`
            # between the sides; the non-preserved side dedups on ITS
            # key expressions (materialized as temp columns so the
            # window partitions on exactly the join keys), then the
            # ordinary hash join runs on the lowered condition.
            scope.add(alias, right)
            left_aliases = [a for a in scope.frames if a != alias]
            pairs: list[tuple] = []
            for conj in _split_conjuncts(j.on):
                ok = (
                    isinstance(conj, A.BinOp)
                    and conj.op == "="
                )
                if ok:
                    sl = self._asof_side(
                        conj.left, base, right, alias, left_aliases
                    )
                    sr = self._asof_side(
                        conj.right, base, right, alias, left_aliases
                    )
                    ok = sl != sr and None not in (sl, sr)
                if not ok:
                    raise LoweringError(
                        "ANY JOIN ON supports only equi-key '=' "
                        f"conjuncts between the sides; got {conj!r}"
                    )
                lhs, rhs = (
                    (conj.left, conj.right)
                    if sl == "l"
                    else (conj.right, conj.left)
                )
                pairs.append((lhs, rhs))
            dedup_side = "l" if j.kind == "right_any" else "r"
            key_exprs = [
                self._expr(p[0] if dedup_side == "l" else p[1],
                           scope, {}, [])
                for p in pairs
            ]
            tmps = [self._gen("anyk") for _ in key_exprs]
            target = base if dedup_side == "l" else right
            for t, k in zip(tmps, key_exprs):
                target = target.withColumn(t, k)
            target = self._dedup_any(target, tmps).drop(*tmps)
            if dedup_side == "l":
                base = target
            else:
                right = target.alias(alias)
                scope.add(alias, right)
            cond = self._expr(j.on, scope, {}, [])
            return base.join(right, cond, how)
        scope.add(alias, right)
        if j.kind == "cross":
            # comma join: the WHERE equalities reach Catalyst as a
            # filter over the cross join, which it rewrites to the
            # same hash join an explicit INNER JOIN would give
            return base.crossJoin(right)
        if j.using is not None:
            how = {
                "inner": "inner", "full": "full", "left": "left",
                "right": "right", "left_semi": "left_semi",
                "left_anti": "left_anti",
            }.get(j.kind)
            if how is None:  # right_semi / right_anti: swap sides
                return right.join(
                    base, j.using, "left_semi" if j.kind == "right_semi" else "left_anti"
                )
            return base.join(right, j.using, how)
        cond = (
            self._expr(j.on, scope, {}, []) if j.on is not None else F.lit(True)
        )
        if j.kind == "right_semi":
            return R.right_semi(base, right, cond)
        if j.kind == "right_anti":
            return R.right_anti(base, right, cond)
        how = {"left_semi": "left_semi", "left_anti": "left_anti"}.get(
            j.kind, j.kind
        )
        return base.join(right, cond, how)

    def _dedup_any(self, df: DataFrame, keys: list) -> DataFrame:
        """One row per USING-key for ANY-join strictness: row_number
        over a deterministic order on every orderable non-key column
        (maps are not orderable in Spark and are skipped; a frame with
        no orderable tie-break column degrades to an arbitrary-but-
        single pick, which is all ClickHouse promises)."""
        import pyspark.sql.types as S
        from pyspark.sql import Window

        fields = {f.name: f.dataType for f in df.schema.fields}
        kset = set(keys)
        order = [
            F.col(c).asc_nulls_last()
            for c in df.columns
            if c not in kset and not isinstance(fields[c], S.MapType)
        ]
        rn = self._gen("anyrn")
        w = Window.partitionBy(*keys).orderBy(*(order or [F.lit(1)]))
        return (
            df.withColumn(rn, F.row_number().over(w))
            .where(F.col(rn) == 1)
            .drop(rn)
        )

    # --- ASOF JOIN lowering ----------------------------------------------

    def _lower_asof(
        self, base: DataFrame, right: DataFrame, alias: str, j: A.Join, scope: Scope
    ) -> DataFrame:
        """`[LEFT] ASOF JOIN … ON <equi-keys AND one ts inequality>`
        (reference AST JoinType::AsOf, query.rs:57,110 — declared but
        never produced by the reference parser; we implement the
        intended semantics).

        The ON condition is split into conjuncts: every `=` between a
        left-side and a right-side expression becomes an equi-key pair;
        exactly one `>=`/`>` (or the mirrored `<=`/`<`) supplies the
        timestamp ordering, oriented so the LEFT timestamp is ≥/> the
        RIGHT timestamp (match the latest prior right row). Lowered to
        operators.asof.asof_join_any — one shuffle on the keys, never a
        range join. USING and any other ON shape raise LoweringError.

        The output frame merges both sides (union+window), so per-side
        alias metadata cannot survive; qualified refs are rewritten via
        scope.redirects: left columns keep their names, right columns
        keep theirs unless they collide with a left column, in which
        case they come back as `<alias>_<name>`.
        """
        from nutdb_spark.operators.asof import asof_join_any

        if j.using is not None:
            # [EXT] ClickHouse ASOF JOIN ... USING (k..., ts): the LAST
            # USING column is the timestamp (matched left_ts >= right_ts,
            # latest prior row), the rest are equi-keys. Same lowering
            # as the ON form; right-side copies of shared names come
            # back as `<alias>_<name>` like every ASOF output.
            if len(j.using) < 2:
                raise LoweringError(
                    "ASOF JOIN USING needs (key..., ts) — at least two "
                    "columns, the LAST being the timestamp"
                )
            for c in j.using:
                if c not in base.columns or c not in right.columns:
                    raise LoweringError(
                        f"ASOF USING column {c!r} must exist on both sides"
                    )
            scope.add(alias, right)
            left_aliases = [a for a in scope.frames if a != alias]
            try:
                out = asof_join_any(
                    base,
                    right,
                    left_keys=[F.col(c) for c in j.using[:-1]],
                    right_keys=[F.col(c) for c in j.using[:-1]],
                    left_ts=F.col(j.using[-1]),
                    right_ts=F.col(j.using[-1]),
                    how="inner" if j.kind == "asof" else "left",
                    strict=False,
                    tolerance=(
                        self._expr(j.within, scope, {}, [])
                        if j.within is not None
                        else None
                    ),
                )
            except ValueError as ex:
                raise LoweringError(str(ex)) from ex
            return self._asof_rename(out, base, right, alias, scope,
                                     left_aliases)
        if j.on is None:
            raise LoweringError(
                "ASOF JOIN requires ON <equi-keys AND one timestamp "
                "inequality> or USING (key..., ts)"
            )
        scope.add(alias, right)
        left_aliases = [a for a in scope.frames if a != alias]
        lk: list = []
        rk: list = []
        ts = None  # (left_expr, right_expr, strict)
        for conj in _split_conjuncts(j.on):
            if not (
                isinstance(conj, A.BinOp)
                and conj.op in ("=", ">=", ">", "<=", "<")
            ):
                # a conjunct with no comparison structure can still be a
                # one-sided filter (e.g. r.flag IS NOT NULL)
                side = self._asof_side(conj, base, right, alias, left_aliases)
                if side == "l":
                    if j.kind == "left_asof":
                        raise LoweringError(
                            "LEFT ASOF JOIN cannot take a left-side-only "
                            "ON conjunct (outer semantics would keep the "
                            "filtered rows with NULL right columns) — "
                            "move it to WHERE"
                        )
                    base = base.filter(self._expr(conj, scope, {}, []))
                    continue
                if side == "r":
                    right = right.filter(self._expr(conj, scope, {}, []))
                    continue
                raise LoweringError(
                    "ASOF ON supports equi-key '=' conjuncts, ONE "
                    ">=/>/<=/< timestamp inequality between the sides, "
                    f"and one-sided filters; got {conj!r}"
                )
            sl = self._asof_side(conj.left, base, right, alias, left_aliases)
            sr = self._asof_side(conj.right, base, right, alias, left_aliases)
            if sl == sr or None in (sl, sr):
                # both operands on one side (or one side + literal):
                # a plain filter on that side, not a join condition
                side = sl or sr
                if side is None:
                    raise LoweringError(
                        "ASOF ON conjunct references neither side"
                    )
                if side == "l" and j.kind == "left_asof":
                    raise LoweringError(
                        "LEFT ASOF JOIN cannot take a left-side-only ON "
                        "conjunct (outer semantics would keep the "
                        "filtered rows with NULL right columns) — move "
                        "it to WHERE"
                    )
                col = self._expr(conj, scope, {}, [])
                if side == "l":
                    base = base.filter(col)
                else:
                    right = right.filter(col)
                continue
            lhs, rhs = (
                (conj.left, conj.right) if sl == "l" else (conj.right, conj.left)
            )
            if conj.op == "=":
                lk.append(lhs)
                rk.append(rhs)
                continue
            # orient so the left expression is first
            op = conj.op
            if sl == "r":  # e.g. r.ts <= l.ts  →  l.ts >= r.ts
                op = {">=": "<=", ">": "<", "<=": ">=", "<": ">"}[op]
            if ts is not None:
                raise LoweringError(
                    "ASOF ON must contain exactly one timestamp inequality"
                )
            # >=/> = BACKWARD (latest prior right row, the default);
            # [EXT] <=/< = FORWARD (earliest following right row) —
            # ClickHouse accepts all four orientations
            ts = (lhs, rhs, op in (">", "<"),
                  "backward" if op in (">=", ">") else "forward")
        if ts is None:
            raise LoweringError(
                "ASOF ON must contain exactly one timestamp inequality"
            )
        lts, rts, strict, direction = ts
        try:
            out = asof_join_any(
                base,
                right,
                left_keys=[self._expr(k, scope, {}, []) for k in lk],
                right_keys=[self._expr(k, scope, {}, []) for k in rk],
                left_ts=self._expr(lts, scope, {}, []),
                right_ts=self._expr(rts, scope, {}, []),
                how="inner" if j.kind == "asof" else "left",
                strict=strict,
                direction=direction,
                tolerance=(
                    self._expr(j.within, scope, {}, [])
                    if j.within is not None
                    else None
                ),
            )
        except ValueError as ex:
            raise LoweringError(str(ex)) from ex
        return self._asof_rename(out, base, right, alias, scope, left_aliases)

    def _asof_rename(self, out, base, right, alias, scope, left_aliases):
        """Un-prefix the right columns of an ASOF output; collisions
        keep `<alias>_<name>`. The duplicate check runs over the
        PRECOMPUTED full set of final names (left columns + every right
        target): checking out.columns mid-loop misses a sibling right
        column still carrying its __asof__ prefix whose target is the
        same name."""
        lset = set(base.columns)
        finals = {
            c: (c if c not in lset else f"{alias}_{c}")
            for c in right.columns
        }
        all_names = list(base.columns) + list(finals.values())
        dupes = sorted(
            {n for n in finals.values() if all_names.count(n) > 1}
        )
        if dupes:
            raise LoweringError(
                f"ASOF JOIN output name collision on {dupes}; "
                "alias the right columns apart"
            )
        for c, final in finals.items():
            out = out.withColumnRenamed(f"__asof__{c}", final)
            scope.redirects[f"{alias}.{c}"] = final
        for la in left_aliases:
            for c in scope.frames[la].columns:
                if c in lset:
                    scope.redirects.setdefault(f"{la}.{c}", c)
        return out

    def _asof_side(
        self, e, base: DataFrame, right: DataFrame, alias: str, left_aliases
    ):
        """Which side of an ASOF join an ON operand reads: 'l' | 'r' |
        None (no column references — a literal). Mixed references or
        columns resolvable on neither side raise."""
        sides: set[str] = set()
        for node in A.walk(e):
            if not isinstance(node, A.Ident):
                continue
            if node.qualifier is not None:
                if node.qualifier == alias:
                    sides.add("r")
                elif node.qualifier in left_aliases:
                    sides.add("l")
                else:
                    raise LoweringError(
                        f"unknown alias {node.qualifier!r} in ASOF ON"
                    )
            else:
                in_l = node.name in base.columns
                in_r = node.name in right.columns
                if in_l and in_r:
                    raise LoweringError(
                        f"ambiguous column {node.name!r} in ASOF ON — qualify it"
                    )
                if not (in_l or in_r):
                    raise LoweringError(
                        f"unknown column {node.name!r} in ASOF ON"
                    )
                sides.add("l" if in_l else "r")
        if len(sides) > 1:
            raise LoweringError(
                "an ASOF ON operand may not mix columns from both sides"
            )
        return sides.pop() if sides else None

    # --- WHERE with subquery lowering -------------------------------------

    def _lower_predicate(self, base: DataFrame, where, scope: Scope) -> DataFrame:
        plain: list = []
        for conj in _split_conjuncts(where):
            if isinstance(conj, A.Exists):
                base = self._lower_exists(base, conj, scope)
            elif isinstance(conj, A.InSubquery):
                base = self._lower_in_subquery(base, conj, scope)
            elif isinstance(conj, A.QuantCompare):
                base = self._lower_quant_compare(base, conj, scope)
            elif isinstance(conj, A.UnOp) and conj.op == "not" and isinstance(
                conj.operand, A.Exists
            ):
                inner = conj.operand
                base = self._lower_exists(
                    base, A.Exists(inner.query, not inner.negated), scope
                )
            else:
                plain.append(conj)
        for p in plain:
            col, base = self._expr_with_scalars(p, base, scope, {}, [])
            base = base.filter(col)
        return base

    def _lower_exists(self, base: DataFrame, ex: A.Exists, scope: Scope) -> DataFrame:
        sub = ex.query
        if isinstance(sub, A.SetOp):
            df = self.lower_query(sub, scope)
            cond = F.lit(True)
            return base.join(
                df, cond, "left_anti" if ex.negated else "left_semi"
            )
        # build the subquery's FROM side, then split its WHERE into
        # inner-only conjuncts (pre-filter) and cross-scope conjuncts
        # (the decorrelated join condition)
        sub_scope = Scope(scope)
        cte: dict[str, DataFrame] = {}
        for c in sub.ctes:
            cte[c.name] = self.lower_query(c.query, scope)
        df, alias = self._source_df(sub.from_.source, sub.from_.alias, sub_scope, cte)
        sub_scope.add(alias, df)
        df = self._apply_sample(df, sub.from_, sub_scope)
        for j in sub.joins:
            if isinstance(j, A.ArrayJoin):
                df = self._lower_array_join(df, j, sub_scope)
            else:
                df = self._lower_join(df, j, sub_scope, cte)
        inner_cols = set(df.columns)
        join_conjs: list = []
        if sub.where is not None:
            for conj in _split_conjuncts(sub.where):
                if self._refs_outer(conj, inner_cols, sub_scope):
                    join_conjs.append(conj)
                else:
                    df = df.filter(self._expr(conj, sub_scope, {}, []))
        if not join_conjs:
            raise LoweringError("uncorrelated EXISTS requires a correlation predicate")
        cond = None
        for c in join_conjs:
            col = self._expr(c, sub_scope, {}, [])
            cond = col if cond is None else (cond & col)
        how = "left_anti" if ex.negated else "left_semi"
        return base.join(df, cond, how)

    def _refs_outer(self, e, inner_cols: set[str], sub_scope: Scope) -> bool:
        inner_aliases = set(sub_scope.frames)
        return any(
            isinstance(n, A.Ident)
            and (
                n.qualifier not in inner_aliases
                if n.qualifier is not None
                else n.name not in inner_cols
            )
            for n in A.walk(e, stop=A.Wildcard)
        )

    def _lower_in_subquery(self, base, node: A.InSubquery, scope: Scope):
        sub_q = node.query
        if (
            isinstance(sub_q, A.SelectCore)
            and sub_q.where is not None
            and not sub_q.group_by
            and len(sub_q.columns) == 1
            and not isinstance(sub_q.columns[0][0], A.Wildcard)
            and self._subquery_is_correlated(sub_q, scope)
        ):
            # [EXT] correlated IN — rewrite to the (de)correlated
            # EXISTS semi/anti join: x IN (SELECT s … WHERE corr)
            # ⟺ EXISTS(… WHERE corr AND s = x). NOT IN additionally
            # matches on either side being NULL, preserving the
            # three-valued NOT IN trap in filter context.
            sel = sub_q.columns[0][0]
            aggs: list = []
            self._collect_aggs(sel, aggs)
            if aggs:
                raise LoweringError(
                    "correlated IN subquery may not aggregate in its "
                    "select list"
                )
            match = A.BinOp("=", sel, node.expr)
            if node.negated:
                match = A.BinOp(
                    "or",
                    A.BinOp("or", match, A.UnOp("isnull", sel)),
                    A.UnOp("isnull", node.expr),
                )
            import copy as _copy

            probe = _copy.copy(sub_q)
            probe.where = A.BinOp("and", sub_q.where, match)
            return self._lower_exists(
                base, A.Exists(probe, node.negated), scope
            )
        sub = self.lower_query(sub_q, scope)
        if len(sub.columns) != 1:
            raise LoweringError("IN subquery must produce one column")
        e = self._expr(node.expr, scope, {}, [])
        if node.negated:
            return R.not_in_subquery(base, e, sub)
        return R.in_subquery(base, e, sub)

    def _subquery_is_correlated(self, sub: A.SelectCore, scope: Scope) -> bool:
        """Probe-build the subquery's FROM side and report whether any
        WHERE conjunct references the enclosing scope. The probe frames
        are lazy — nothing executes."""
        try:
            sub_scope = Scope(scope)
            cte: dict[str, DataFrame] = {}
            for c in sub.ctes:
                cte[c.name] = self.lower_query(c.query, scope)
            df, alias = self._source_df(
                sub.from_.source, sub.from_.alias, sub_scope, cte
            )
            sub_scope.add(alias, df)
            for j in sub.joins:
                if isinstance(j, A.ArrayJoin):
                    df = self._lower_array_join(df, j, sub_scope)
                else:
                    df = self._lower_join(df, j, sub_scope, cte)
        except Exception:
            return False
        inner_cols = set(df.columns)
        return any(
            self._refs_outer(conj, inner_cols, sub_scope)
            for conj in _split_conjuncts(sub.where)
        )

    def _try_correlated_scalar(
        self, e: A.ScalarSubquery, scope, group_map, agg_calls, pending
    ):
        """[EXT] correlated scalar subquery — the TPC-H Q17 shape:
        `(SELECT agg(x) FROM t WHERE t.k = outer.k [AND inner-only…])`.

        Decorrelated into ONE grouped frame per subquery — group by
        the correlation keys, aggregate once — LEFT-joined to the
        outer side on those keys. The 100 TB plan is a single hash
        aggregate + hash join instead of one subquery execution per
        outer row. SQL semantics preserved: a missing key yields NULL
        via the left join; for aggregates that are non-NULL over an
        empty input (the count family) the empty-group value is
        computed once on a zero-row frame and coalesced in; a
        non-aggregate correlated subquery guards >1 row per key with
        a runtime error, matching the uncorrelated path.

        Returns the value Column, or None when the subquery is not
        correlated (caller falls back to the broadcast-1-row path).
        Only equality correlations are decorrelatable this way;
        anything else raises."""
        sub = e.query
        if not isinstance(sub, A.SelectCore) or sub.where is None:
            return None
        if len(sub.columns) != 1 or isinstance(sub.columns[0][0], A.Wildcard):
            return None
        sub_scope = Scope(scope)
        cte: dict[str, DataFrame] = {}
        for c in sub.ctes:
            cte[c.name] = self.lower_query(c.query, scope)
        df, alias = self._source_df(
            sub.from_.source, sub.from_.alias, sub_scope, cte
        )
        sub_scope.add(alias, df)
        df = self._apply_sample(df, sub.from_, sub_scope)
        for j in sub.joins:
            if isinstance(j, A.ArrayJoin):
                df = self._lower_array_join(df, j, sub_scope)
            else:
                df = self._lower_join(df, j, sub_scope, cte)
        inner_cols = set(df.columns)
        cross: list = []
        for conj in _split_conjuncts(sub.where):
            if self._refs_outer(conj, inner_cols, sub_scope):
                cross.append(conj)
            else:
                df = df.filter(self._expr(conj, sub_scope, {}, []))
        if not cross:
            return None  # uncorrelated — existing broadcast path
        if sub.group_by:
            raise LoweringError(
                "correlated scalar subquery may not have GROUP BY"
            )
        keys: list[Column] = []
        outer_sides: list = []
        for i, conj in enumerate(cross):
            if not (isinstance(conj, A.BinOp) and conj.op == "="):
                raise LoweringError(
                    "correlated scalar subquery supports only equality "
                    "correlation predicates"
                )
            l_out = self._refs_outer(conj.left, inner_cols, sub_scope)
            r_out = self._refs_outer(conj.right, inner_cols, sub_scope)
            if l_out == r_out:
                raise LoweringError(
                    "correlation predicate must compare an inner "
                    "expression with an outer expression"
                )
            inner_ast, outer_ast = (
                (conj.right, conj.left) if l_out else (conj.left, conj.right)
            )
            keys.append(
                self._expr(inner_ast, sub_scope, {}, []).alias(f"__ck{i}")
            )
            outer_sides.append(outer_ast)

        sel_expr, _ = sub.columns[0]
        sub_aggs: list = []
        self._collect_aggs(sel_expr, sub_aggs)
        name = self._gen("sc")
        if sub_aggs:
            aggs = [
                self._lower_agg_call(call, sub_scope).alias(nm)
                for call, nm in sub_aggs
            ]
            grouped = df.groupBy(*keys).agg(*aggs)
            val = self._expr(sel_expr, sub_scope, {}, sub_aggs)
            frame = grouped.select(
                *[F.col(f"__ck{i}") for i in range(len(keys))],
                val.alias(name),
            )
            # empty-group value (count family is 0, not NULL): one
            # zero-row aggregate evaluated at lowering time, only when
            # some aggregate can be non-null over empty input
            fallback = None
            if any(
                call.name.lower().startswith(("count", "uniq"))
                for call, _ in sub_aggs
            ):
                empty = df.limit(0).agg(*aggs).select(val.alias(name))
                fallback = empty.collect()[0][0]
            out_val = (
                F.coalesce(F.col(name), F.lit(fallback))
                if fallback is not None
                else F.col(name)
            )
        else:
            val = self._expr(sel_expr, sub_scope, {}, [])
            frame = df.groupBy(*keys).agg(
                F.first(val).alias(name),
                F.count(F.lit(1)).alias(name + "_n"),
            )
            out_val = F.when(
                F.col(name + "_n") > 1,
                F.raise_error(
                    F.lit("scalar subquery produced more than one row")
                ),
            ).otherwise(F.col(name))
        cond = None
        for i, outer_ast in enumerate(outer_sides):
            oc = self._expr(outer_ast, scope, group_map, agg_calls, pending)
            piece = F.col(f"__ck{i}") == oc
            cond = piece if cond is None else (cond & piece)
        pending.append((name, frame, cond))
        return out_val

    _DICT_LITERAL_MAX = 10_000

    def _dict_get(self, e: A.FnCall, scope, group_map, agg_calls, pending):
        """[EXT] dictGet('table', 'value_col', key_expr[, default]) —
        ClickHouse external-dictionary lookup in expression position.
        The dictionary is any resolvable table (managed or fixture);
        its FIRST column is the key (assumed unique — the dictionary
        contract). Two regimes:

        - ≤ _DICT_LITERAL_MAX entries: a LITERAL MAP (two array
          literals + element_at) — a tiny constant folded into the
          expression, zero joins;
        - larger: an automatic broadcast LEFT join on the key
          (semantically identical for dictGet/dictGetOrDefault: miss →
          NULL → default). A 1M-pair literal would serialize a
          multi-hundred-MB expression tree to every task; the
          broadcast join ships the same data once per executor through
          the torrent broadcast path instead and has no hard size cap
          beyond executor memory — the same bound a CH dictionary has.
        """
        args = e.args
        if len(args) not in (3, 4):
            raise LoweringError(
                "dictGet takes (table, value_col, key[, default])"
            )
        for i in (0, 1):
            if not (isinstance(args[i], A.Lit) and args[i].kind == "string"):
                raise LoweringError(
                    "dictGet table and column must be string literals"
                )
        tname, vcol = args[0].value, args[1].value
        df = self.resolve_table(tname)
        if vcol not in df.columns:
            raise LoweringError(
                f"dictionary {tname!r} has no column {vcol!r}"
            )
        kcol = df.columns[0]
        key = self._expr(args[2], scope, group_map, agg_calls, pending)
        rows = (
            df.select(kcol, vcol)
            .filter(F.col(kcol).isNotNull())
            .limit(self._DICT_LITERAL_MAX + 1)
            .collect()
        )
        if len(rows) <= self._DICT_LITERAL_MAX:
            keys = [r[0] for r in rows]
            vals = [r[1] for r in rows]
            hit = F.element_at(
                F.map_from_arrays(F.lit(keys), F.lit(vals)), key
            )
        else:
            if pending is None:
                raise LoweringError(
                    f"dictionary {tname!r} exceeds "
                    f"{self._DICT_LITERAL_MAX} entries and dictGet is in "
                    "a position that cannot host its broadcast join — "
                    "use an explicit JOIN here"
                )
            ck = self._gen("ck_d")
            val = self._gen("dictv")
            # duplicate-key guard: the dictionary contract says the
            # first column is a unique key. The literal regime fails
            # loudly (map_from_arrays → DUPLICATED_MAP_KEY); without a
            # guard the join regime would silently FAN OUT probe rows
            # per duplicate — a wrong-answer class, and the two regimes
            # would disagree across the 10k threshold. Collapse to one
            # row per key and raise on duplicates so both regimes fail
            # identically on a dirty dictionary. The groupBy shuffles
            # only the (small) dictionary side, pre-broadcast.
            dcnt = self._gen("dictn")
            dict_df = (
                df.select(F.col(kcol).alias(ck), F.col(vcol).alias(val))
                .filter(F.col(ck).isNotNull())
                .groupBy(ck)
                .agg(
                    F.first(val).alias(val),
                    F.count(F.lit(1)).alias(dcnt),
                )
                .select(
                    F.col(ck),
                    F.when(
                        F.col(dcnt) > 1,
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    f"duplicate key in dictionary "
                                    f"{tname!r}: "
                                ),
                                F.col(ck).cast("string"),
                            )
                        ),
                    )
                    .otherwise(F.col(val))
                    .alias(val),
                )
            )
            pending.append((val, F.broadcast(dict_df), key == F.col(ck)))
            hit = F.col(val)
        if len(args) == 4:
            dflt = self._expr(args[3], scope, group_map, agg_calls, pending)
            return F.coalesce(hit, dflt)
        return hit

    def _dict_has(self, e: A.FnCall, scope, group_map, agg_calls, pending):
        """[EXT] dictHas('table', key) — true iff the dictionary
        contains the key. Rides the dictGet machinery with the KEY
        column probed as its own value: the key is non-null by the
        dictionary contract (nulls are filtered, duplicates guarded
        there), so hit-is-not-null IS key membership. Inherits both
        regimes — literal map ≤10k entries, automatic broadcast LEFT
        join above."""
        if len(e.args) != 2:
            raise LoweringError("dictHas takes (table, key)")
        t = e.args[0]
        if not (isinstance(t, A.Lit) and t.kind == "string"):
            raise LoweringError("dictHas table must be a string literal")
        df = self.resolve_table(t.value)
        kcol = df.columns[0]
        synth = A.FnCall(e.name, [t, A.Lit(kcol, "string"), e.args[1]])
        hit = self._dict_get(synth, scope, group_map, agg_calls, pending)
        return hit.isNotNull()

    def _lower_quant_compare(self, base, node: A.QuantCompare, scope: Scope):
        """[EXT] `x <op> ANY/ALL (SELECT s FROM ...)` in WHERE/HAVING.

        `= ANY` and `!= ALL` delegate to the IN / NOT IN machinery
        (hash semi/anti join, shared-scan ReuseExchange). Every other
        form reduces to ONE scalar aggregate over the subquery —
        (min, max, count, count-nonnull) — broadcast to the outer
        side as a single row: the 100 TB plan is a tiny broadcast +
        pushed filter, never the per-row nested-loop a naive EXISTS
        rewrite would give. The predicates below are outcome-exact
        with standard three-valued semantics in filter context
        (UNKNOWN and FALSE both drop the row): empty set → ANY false,
        ALL true; NULLs in the set block ALL and never satisfy
        ordered ANY."""
        if node.op == "=" and node.quant == "any":
            return self._lower_in_subquery(
                base, A.InSubquery(node.expr, node.query, False), scope
            )
        if node.op == "!=" and node.quant == "all":
            return self._lower_in_subquery(
                base, A.InSubquery(node.expr, node.query, True), scope
            )
        sub = self.lower_query(node.query, scope)
        if len(sub.columns) != 1:
            raise LoweringError("ANY/ALL subquery must produce one column")
        s = F.col(sub.columns[0])
        mn, mx, c, cn = (
            self._gen("qmn"), self._gen("qmx"), self._gen("qc"), self._gen("qcn")
        )
        aggrow = sub.agg(
            F.min(s).alias(mn),
            F.max(s).alias(mx),
            F.count(F.lit(1)).alias(c),
            F.count(s).alias(cn),
        )
        x = self._expr(node.expr, scope, {}, [])
        vmn, vmx = F.col(mn), F.col(mx)
        vc, vcn = F.col(c), F.col(cn)
        if node.quant == "any":
            cond = {
                "!=": (vcn > 0) & ((vmn != x) | (vmx != x)),
                "<": x < vmx,
                "<=": x <= vmx,
                ">": x > vmn,
                ">=": x >= vmn,
            }[node.op]
        else:
            nonulls = vcn == vc
            cond = (vc == 0) | (
                nonulls
                & {
                    "=": (vmn == x) & (vmx == x),
                    "<": x < vmn,
                    "<=": x <= vmn,
                    ">": x > vmx,
                    ">=": x >= vmx,
                }[node.op]
            )
        from pyspark.sql.functions import broadcast

        return (
            base.join(broadcast(aggrow), F.lit(True), "inner")
            .filter(cond)
            .drop(mn, mx, c, cn)
        )

    # --- aggregation ------------------------------------------------------

    def _collect_aggs(self, e, out: list) -> None:
        if isinstance(e, A.FnCall) and e.name.lower() in _AGG_NAMES:
            if not any(e == seen for seen, _ in out):
                out.append((e, f"__a{len(out)}"))
            return  # no nested aggregates in the dialect
        # not below: a window aggregate is evaluated per-row over its
        # frame, a lambda body element-wise inside a higher-order fn,
        # a subquery's aggregates belong to ITS OWN query block, and a
        # wildcard's REPLACE items are never GROUP BY aggregates
        if not isinstance(
            e, (A.WindowCall, A.Lambda, A.Wildcard, *A.SUBQUERIES)
        ):
            for c in A.children(e):
                self._collect_aggs(c, out)

    def _lower_aggregate(self, base, q, agg_calls, scope):
        """Lower a GROUP BY (or a global aggregate) as aggregate
        families. A family is the set of calls that share one
        aggregation over the same child; `_agg_family` classifies
        every call:

          main     — every call not in a side, in ONE aggregate; WITH
                     ROLLUP / CUBE / TOTALS / GROUPING SETS expand
                     inside it (Expand + map-side partials, never a
                     union of re-scans).
          distinct — the DISTINCT calls, split out when a heavy call
                     stays in main (plain GROUP BY, no grouping()).
                     Catalyst's RewriteDistinctAggregates plans the
                     distinct calls through an Expand and drags every
                     sibling's buffer through the extra aggregate level
                     it inserts; a TypedImperative sibling (percentile,
                     max_by, collect_set) then pays serialize/merge per
                     level, which measured 3-5x the cost of the two
                     pieces computed apart (sql_agg_if: 2.9 s as one
                     aggregate vs 0.6 s + 0.4 s split at sf0.1).
          topK     — one side per exact topK / groupArraySorted /
                     quantileExact / entropy call (`_topk_side`): a
                     (keys, value) pre-aggregate with map-side partials
                     plus a bounded per-key top-k, never one
                     collect_list per group (per-group state O(group
                     rows): a single hot group OOMs a task at 100 TB).
                     Under a modifier the one pre-aggregate serves
                     every grouping set, because value counts are
                     summable across dropped keys.

        The keys are pre-projected under their __gN names once:
        grouping(col) and GROUPING SETS match grouping columns by
        expression equality, which aliased key expressions break, and
        every side groups by the same plain columns. Each side joins
        back onto main on null-safe key equality, plus the key-only
        grouping id under a modifier, so a subtotal row never collides
        with a detail row whose key IS NULL. A side reads the child
        again, so sides are emitted only when the child is
        deterministic; otherwise every call stays in main and the
        child is read once.
        """
        from functools import reduce

        from pyspark.sql.types import ArrayType

        group_map: dict[int, str] = {}
        group_cols: list[Column] = []
        # group keys may host pending broadcast joins (dictGet et al.):
        # the lookup frames attach to `base` BEFORE the aggregate, so a
        # dictionary-keyed GROUP BY is a broadcast join + hash agg
        gpend: list[tuple] = []
        # [EXT] GROUP BY <select alias> (ClickHouse allows it): a bare
        # unqualified group ident that is NOT a source column but IS a
        # select-list alias lowers as the aliased expression. Schema-
        # aware (a real column of the same name wins, so existing
        # queries keep their meaning) and non-mutating (the AST is
        # re-lowered unchanged on iterative rounds).
        sel_aliases = {
            a: e
            for e, a in q.columns
            if a is not None and not isinstance(e, A.Wildcard)
        }

        def _group_expr(g):
            if (
                isinstance(g, A.Ident)
                and g.qualifier is None
                and g.name not in base.columns
                and g.name in sel_aliases
            ):
                aliased = sel_aliases[g.name]
                aggs_in: list = []
                self._collect_aggs(aliased, aggs_in)
                if aggs_in:
                    raise LoweringError(
                        f"GROUP BY alias {g.name!r} names an aggregate "
                        "expression"
                    )
                return aliased
            return g

        resolved_groups = [_group_expr(g) for g in q.group_by]
        for i, g in enumerate(resolved_groups):
            name = f"__g{i}"
            group_map[i] = name
            group_cols.append(self._expr(g, scope, {}, [], gpend).alias(name))
        base = self._join_pending(base, gpend)
        names = list(group_map.values())
        pre = base.select(F.col("*"), *group_cols) if group_cols else base
        modified = q.group_modifier is not None or q.group_sets is not None
        sets = (
            self._grouping_sets_idx(q.group_modifier, q.group_sets, len(names))
            if names
            else None
        )

        family = {n: self._agg_family(c) for c, n in agg_calls}
        # a keyless modifier keeps topK in main (the in-group form)
        topk = [
            (c, n)
            for c, n in agg_calls
            if family[n] == "topk" and (names or not modified)
        ]
        distinct = [(c, n) for c, n in agg_calls if family[n] == "distinct"]
        if (
            modified
            or "heavy" not in family.values()
            or any(c.name.lower() == "grouping" for c, _ in agg_calls)
        ):
            distinct = []
        if (topk or distinct) and not (
            pre._jdf.queryExecution().analyzed().deterministic()
        ):
            topk, distinct = [], []
        in_side = {n for _, n in topk + distinct}
        gid = self._gen("gid") if sets is not None and topk else None

        def gid_bits():
            # key-only grouping id (first key = most significant bit);
            # grouping() is valid only inside the aggregate, so this is
            # rebuilt per .agg() on both the main and the side frames
            bits = F.lit(0)
            for n in names:
                bits = F.shiftleft(bits, 1) + F.grouping(F.col(n)).cast("int")
            return bits

        def aggregate(calls, extra=()):
            # a GROUP BY with no aggregates still needs an agg frame
            aggs = [
                self._agg_expr(c, scope, q, group_map).alias(n)
                for c, n in calls
            ] or [F.count(F.lit(1)).alias(self._gen("cnt"))]
            cols = [F.col(n) for n in names]
            if sets is None:
                grouped = pre.groupBy(*cols)
            else:
                grouped = pre.groupingSets(
                    [[cols[i] for i in s] for s in sets], *cols
                )
            return grouped.agg(*aggs, *extra)

        out = aggregate(
            [(c, n) for c, n in agg_calls if n not in in_side],
            [gid_bits().alias(gid)] if gid else [],
        )
        keys = names + ([gid] if gid else [])
        sides = []
        if distinct:
            sides.append((aggregate(distinct), [n for _, n in distinct]))
        for c, n in topk:
            side = self._topk_side(
                pre, names, c, scope, n,
                sets_idx=sets, gid=gid, gid_bits=gid_bits,
            )
            sides.append((side, [n]))
        for side, cols in sides:
            if keys:
                renamed = side.select(
                    *[F.col(k).alias(f"__s_{k}") for k in keys],
                    *[F.col(c) for c in cols],
                )
                cond = reduce(
                    Column.__and__,
                    [out[k].eqNullSafe(renamed[f"__s_{k}"]) for k in keys],
                )
                out = out.join(renamed, cond, "left").drop(
                    *[f"__s_{k}" for k in keys]
                )
            else:
                out = out.crossJoin(F.broadcast(side))  # 1-row frames
            for n in cols:
                # a topK side has no row for a group whose values were
                # all NULL: [] like the in-group form for the array
                # aggregates, NULL for the scalar quantileExact family
                arr_type = side.schema[n].dataType
                if isinstance(arr_type, ArrayType):
                    out = out.withColumn(
                        n,
                        F.when(F.col(n).isNull(), F.array().cast(arr_type))
                        .otherwise(F.col(n)),
                    )
        if gid is not None:
            out = out.drop(gid)
        return out, {"groups": resolved_groups, "names": group_map}

    @staticmethod
    def _agg_family(call) -> str:
        """'topk', 'distinct', 'heavy' or 'plain' for one aggregate
        call: the first `_AGG_FAMILIES` row that matches its lowercased
        name. fn(DISTINCT …) is 'distinct' whatever the name."""
        low = call.name.lower()
        if call.distinct:
            return "distinct"
        for fam, test, parametric, words, unless in _AGG_FAMILIES:
            if (
                (call.params is not None or not parametric)
                and any(test(low, w) for w in words)
                and not any(u in low for u in unless)
            ):
                return fam
        return "plain"

    @staticmethod
    def _grouping_sets_idx(modifier, group_sets, n):
        """Expand a GROUP BY modifier into explicit key-index sets
        (None for a plain GROUP BY). The main aggregate and every topK
        side group by these same sets."""
        if group_sets is not None:
            return [list(s) for s in group_sets]
        if modifier == "totals":
            # WITH TOTALS = grouping sets ((all keys), ()): the detail
            # rows and the grand total, no intermediate rollup prefixes
            return [list(range(n)), []]
        if modifier == "rollup":
            return [list(range(i)) for i in range(n, -1, -1)]
        if modifier == "cube":
            from itertools import combinations

            return [
                list(c)
                for size in range(n, -1, -1)
                for c in combinations(range(n), size)
            ]
        return None

    def _topk_side(
        self, pre, names, call, scope, out_name,
        sets_idx=None, gid=None, gid_bits=None,
    ):
        """One topK-family call as its own frame over `pre`, one row
        per key (plus `gid` under grouping sets):

          level 1: groupBy(keys, value) → count / sum(weight) — the
                   hash aggregate gets map-side partials, so per-task
                   state is O(distinct values in the task), never
                   O(rows); under grouping sets one Expand over this
                   distinct-value frame re-sums every set's counts;
          level 2: per-key top-k over the (value, cnt) rows — a
                   row_number window (sort-based, spillable, the
                   property collect_list lacks) for grouped queries, a
                   TakeOrdered limit for the global form — folded into
                   the result array (count desc, value asc: the same
                   tie-break as the in-group form); quantileExact and
                   entropy read the level-1 histogram instead."""
        from pyspark.sql import Window

        params = self._literal_params(call)
        name_l = call.name.lower()
        is_if = name_l.endswith("if") and name_l != "quantileexact"
        if is_if:
            name_l = name_l[:-2]
        if name_l == "medianexact":  # param-free quantileExact(0.5)
            name_l, params = "quantileexact", [0.5]
        is_quantile = name_l in (
            "quantileexact", "quantileexactlow", "quantileexacthigh"
        )
        is_entropy = name_l == "entropy"
        k = None
        if not is_entropy:
            k = float(params[0]) if is_quantile else int(params[0])
        args = [self._expr(a, scope, {}, []) for a in call.args]
        cond = None
        if is_if:
            if len(args) < 2:
                raise LoweringError(
                    f"{call.name} takes (args..., cond)"
                )
            *args, cond = args
        val = self._gen("tkv")
        cnt = self._gen("tkc")
        x = args[0]
        keep = x.isNotNull() if cond is None else (
            x.isNotNull() & cond.cast("boolean")
        )
        lvl1 = pre.where(keep).groupBy(
            *[F.col(n) for n in names], x.alias(val)
        )
        is_sorted = name_l == "grouparraysorted"
        if name_l == "topkweighted":
            lvl1 = lvl1.agg(F.sum(args[1].cast("long")).alias(cnt))
        else:
            lvl1 = lvl1.agg(F.count(F.lit(1)).alias(cnt))
        key_cols = list(names)
        if sets_idx is not None:
            # one Expand over the DISTINCT-value frame (already shrunk
            # by the level-1 map-side partials), re-summing counts per
            # grouping set — never a second pass over the fact rows
            name_cols = [F.col(n) for n in names]
            lvl1 = lvl1.groupingSets(
                [[name_cols[i] for i in s] + [F.col(val)] for s in sets_idx],
                *name_cols,
                F.col(val),
            ).agg(F.sum(cnt).alias(cnt), gid_bits().alias(gid))
            key_cols = names + [gid]
        if is_entropy:
            # Shannon entropy straight off the histogram: one more
            # hash aggregate over the (keys, value, cnt) frame —
            # H = log2(n) − Σ c·log2(c) / n. Still zero per-group row
            # state; the grouping-sets re-sum above already rebuilt
            # per-set counts.
            cd = F.col(cnt).cast("double")
            if key_cols:
                grouped_side = lvl1.groupBy(
                    *[F.col(n) for n in key_cols]
                )
            else:
                grouped_side = lvl1.groupBy()
            return grouped_side.agg(
                (
                    F.log2(F.sum(cd))
                    - F.try_divide(F.sum(cd * F.log2(cd)), F.sum(cd))
                ).alias(out_name)
            )
        if is_quantile:
            # exact order statistic straight from the (keys, value,
            # cnt) pre-aggregate: a running count plus the per-key
            # total locate the target index in the value-sorted
            # HISTOGRAM — state O(distinct values), never O(group
            # rows), and the histogram counts re-sum per grouping set
            # under ROLLUP/CUBE like topK's. Low picks sorted index
            # floor(level·(n−1)), High ceil(level·(n−1)) (both
            # 0-based; the index arithmetic is double, matching how
            # any engine computes it). The filter keeps exactly the
            # row whose count-run covers the target, so the side is
            # one row per key; a group with only NULLs has no level-1
            # rows → NULL through the left join.
            cum = self._gen("qcum")
            tot = self._gen("qtot")
            wp = (
                Window.partitionBy(*[F.col(n) for n in key_cols])
                if key_cols
                else Window.partitionBy()
            )
            wcum = wp.orderBy(F.col(val).asc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            wtot = wp.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            side = lvl1.withColumn(cum, F.sum(cnt).over(wcum)).withColumn(
                tot, F.sum(cnt).over(wtot)
            )
            pos = (
                F.ceil(F.lit(k) * (F.col(tot) - 1))
                if name_l == "quantileexacthigh"
                else F.floor(F.lit(k) * (F.col(tot) - 1))
            )
            tgt = pos.cast("long")
            return side.where(
                ((F.col(cum) - F.col(cnt)) <= tgt) & (tgt < F.col(cum))
            ).select(
                *[F.col(n) for n in key_cols],
                F.col(val).alias(out_name),
            )
        if is_sorted:
            # groupArraySorted(n): smallest n ELEMENTS ascending with
            # duplicates — running count over the value-sorted distinct
            # frame keeps only rows whose copies reach into the first n
            # (≤ n rows survive per key), array_repeat rebuilds the
            # duplicate elements from the counts
            order = [F.col(val).asc()]
        else:
            order = [F.col(cnt).desc(), F.col(val).asc()]
        cum = self._gen("tkcum")
        if key_cols:
            w = Window.partitionBy(
                *[F.col(n) for n in key_cols]
            ).orderBy(*order)
            if is_sorted:
                wcum = w.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
                top = (
                    lvl1.withColumn(cum, F.sum(cnt).over(wcum))
                    .where(F.col(cum) - F.col(cnt) < k)
                )
            else:
                rn = self._gen("rn")
                top = (
                    lvl1.withColumn(rn, F.row_number().over(w))
                    .where(F.col(rn) <= k)
                    .drop(rn)
                )
        else:
            top = lvl1.orderBy(*order).limit(k)
            if is_sorted:
                w0 = Window.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
                top = top.withColumn(cum, F.sum(cnt).over(w0)).where(
                    F.col(cum) - F.col(cnt) < k
                )
        if is_sorted:
            take = F.least(
                F.col(cnt), F.lit(k) - (F.col(cum) - F.col(cnt))
            ).cast("int")
            top = top.select(
                *[F.col(n) for n in key_cols],
                F.col(val),
                take.alias(cum),
            )
            pair = F.struct(
                F.col(val).alias("val"), F.col(cum).alias("tk")
            )
            arr = F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(pair)),
                    lambda s: F.call_function(
                        "array_repeat", s["val"], s["tk"]
                    ),
                )
            ).alias(out_name)
        else:
            pair = F.struct(
                (-F.col(cnt)).alias("nc"), F.col(val).alias("val")
            )
            arr = F.transform(
                F.array_sort(F.collect_list(pair)), lambda s: s["val"]
            ).alias(out_name)
        if key_cols:
            return top.groupBy(*[F.col(n) for n in key_cols]).agg(arr)
        return top.agg(arr)

    def _agg_expr(self, call: A.FnCall, scope, q, group_map) -> Column:
        """Lower one hoisted aggregate call. grouping(col) is special:
        its argument must be the EXACT grouping expression, which this
        engine aliases to __gN — so the argument is matched against
        the GROUP BY list structurally and rewritten to the aliased
        column (the caller pre-projects the keys)."""
        if call.name.lower() == "grouping" and call.args:
            for i, g in enumerate(q.group_by):
                if g == call.args[0]:
                    return F.grouping(F.col(group_map[i])).cast("int")
            raise LoweringError(
                "grouping() argument must be one of the GROUP BY "
                "expressions"
            )
        return self._lower_agg_call(call, scope)

    @staticmethod
    def _literal_params(call: A.FnCall) -> list:
        """The values of a parametric call's fn(params): each must be a
        constant literal."""
        params = []
        for p in call.params or []:
            if not isinstance(p, A.Lit):
                raise LoweringError(
                    "parametric aggregate parameters must be "
                    "constant literals"
                )
            params.append(p.value)
        return params

    def _lower_agg_call(self, call: A.FnCall, scope: Scope) -> Column:
        from nutdb_spark.functions.registry import resolve

        low = call.name.lower()
        if call.distinct and low not in ("count", "sum"):
            # [EXT] fn(DISTINCT args) — standard distinct aggregates
            raise LoweringError(
                f"DISTINCT is supported for count/sum, not {call.name!r}"
            )
        if call.params is not None:
            # [EXT] parametric aggregate fn(params)(args)
            pfn = next(
                (f for k, f in PARAMETRIC_AGGS.items() if k.lower() == low),
                None,
            )
            if pfn is None:
                raise LoweringError(
                    f"function {call.name!r} is not parametric"
                )
            args = [self._expr(a, scope, {}, []) for a in call.args]
            return pfn(self._literal_params(call), *args)
        try:
            fn, _ = resolve(call.name)
        except KeyError as ex:
            raise LoweringError(
                f"function {call.name!r} requires parameters: "
                f"{call.name}(params)(args)"
            ) from ex
        if not call.args or isinstance(call.args[0], A.Wildcard):
            return F.count(F.lit(1))
        args = [self._expr(a, scope, {}, []) for a in call.args]
        if call.distinct:
            if low == "count":
                return F.count_distinct(*args)
            return F.sum_distinct(args[0])
        return fn(*args)

    # --- expressions ------------------------------------------------------

    def _expr_with_scalars(self, e, base, scope, group_map, agg_calls):
        """Lower an expression; any scalar subqueries get cross-joined
        into `base` as broadcast 1-row frames first."""
        pending: list[tuple] = []
        col = self._expr(e, scope, group_map, agg_calls, pending)
        return col, self._join_pending(base, pending)

    @staticmethod
    def _join_pending(base, pending):
        """Attach the frames an expression left in `pending`: a frame
        without a condition (an uncorrelated scalar's 1-row aggregate)
        by broadcast cross join; a per-key frame (correlated scalar,
        dictGet) by LEFT join on its condition (missing key → NULL, per
        SQL), its __ck key columns dropped. A correlated scalar's join
        strategy is left to Catalyst/AQE — its frame is one row per
        distinct key, not always broadcastable."""
        for _, df, *rest in pending:
            cond = rest[0] if rest else None
            if cond is None:
                base = base.join(F.broadcast(df))
            else:
                base = base.join(df, cond, "left").drop(
                    *[c for c in df.columns if c.startswith("__ck")]
                )
        return base

    def _expr(self, e, scope, group_map, agg_calls, pending=None) -> Column:
        # group-key structural substitution
        if group_map:
            for i, g in enumerate(group_map.get("groups", [])):
                if e == g:
                    return F.col(group_map["names"][i])
        for call, name in agg_calls or []:
            if e == call:
                return F.col(name)

        if isinstance(e, A.Lit):
            # Integer literals lower to Int64 (or Decimal(38,0) beyond
            # int64 — the reference tokenizes integers as u128,
            # ast/item.rs:90-93). Without the widening, Python ints that
            # fit in 32 bits become IntegerType and ANSI-mode arithmetic
            # overflows on products that any 64-bit engine handles.
            if e.kind in ("int", "hex") and isinstance(e.value, int):
                if -(2**63) <= e.value < 2**63:
                    return F.lit(e.value).cast("bigint")
                return F.lit(str(e.value)).cast("decimal(38,0)")
            return F.lit(e.value)
        if isinstance(e, A.Param):
            return F.lit(self._param(e))
        if isinstance(e, A.ConfigIdent):
            if e.name not in self.config:
                raise LoweringError(
                    f"config @{e.name} is not set (SET @{e.name} = ...)"
                )
            return F.lit(self.config[e.name])
        if isinstance(e, A.Interval):
            if e.unit == "quarter":  # no quarter kwarg: 3 months each
                return F.make_interval(months=F.lit(3 * e.count))
            kwargs = {_INTERVAL_ARGS[e.unit]: F.lit(e.count)}
            return F.make_interval(**kwargs)
        if isinstance(e, A.Ident):
            if e.qualifier is None:
                for frame in reversed(self._lambda_stack):
                    if e.name in frame:
                        return frame[e.name]
            if e.qualifier is not None:
                s = scope
                while s is not None:
                    hit = s.redirects.get(f"{e.qualifier}.{e.name}")
                    if hit is not None:
                        return F.col(hit)
                    s = s.parent
            return F.col(f"{e.qualifier}.{e.name}" if e.qualifier else e.name)
        if isinstance(e, A.Wildcard):
            return F.col(f"{e.qualifier}.*" if e.qualifier else "*")
        if isinstance(e, A.WindowCall):
            return self._window_call(e, scope, group_map, agg_calls, pending)
        if isinstance(e, A.BinOp):
            return self._binop(e, scope, group_map, agg_calls, pending)
        if isinstance(e, A.UnOp):
            v = self._expr(e.operand, scope, group_map, agg_calls, pending)
            if e.op == "not":
                return ~v
            if e.op == "neg":
                return -v
            if e.op == "bitnot":
                return F.bitwise_not(v)
            if e.op == "isnull":
                return v.isNull()
            if e.op == "isnotnull":
                return v.isNotNull()
            raise LoweringError(f"unknown unary op {e.op}")
        if isinstance(e, A.Between):
            v = self._expr(e.expr, scope, group_map, agg_calls, pending)
            lo = self._expr(e.low, scope, group_map, agg_calls, pending)
            hi = self._expr(e.high, scope, group_map, agg_calls, pending)
            out = v.between(lo, hi)
            return ~out if e.negated else out
        if isinstance(e, A.InList):
            v = self._expr(e.expr, scope, group_map, agg_calls, pending)
            items = [
                self._expr(x, scope, group_map, agg_calls, pending) for x in e.items
            ]
            # OR-chain keeps three-valued semantics with NULL literals
            cond = None
            for it in items:
                c = v == it
                cond = c if cond is None else (cond | c)
            return ~cond if e.negated else cond
        if isinstance(e, A.Case):
            return self._case(e, scope, group_map, agg_calls, pending)
        if isinstance(e, A.FnCall):
            return self._fn(e, scope, group_map, agg_calls, pending)
        if isinstance(e, A.IndexAccess):
            b = self._expr(e.base, scope, group_map, agg_calls, pending)
            i = self._expr(e.index, scope, group_map, agg_calls, pending)
            # element_at requires an INT index for arrays; undo the
            # bigint literal widening there (map keys pass through).
            if isinstance(e.index, A.Lit) and e.index.kind in ("int", "hex"):
                i = i.cast("int")
            return F.element_at(b, i)  # 1-based, matches the dialect
        if isinstance(e, A.ArrayLit):
            return F.array(
                *[self._expr(x, scope, group_map, agg_calls, pending) for x in e.items]
            )
        if isinstance(e, A.MapLit):
            parts: list[Column] = []
            for k, v in e.entries:
                parts.append(self._expr(k, scope, group_map, agg_calls, pending))
                parts.append(self._expr(v, scope, group_map, agg_calls, pending))
            return F.create_map(*parts)
        if isinstance(e, A.TupleLit):
            # field names follow the tuple TYPE convention (_1.._n,
            # catalog.to_spark_type) so `.N` access and tuple casts
            # agree
            return F.struct(
                *[
                    self._expr(x, scope, group_map, agg_calls, pending)
                    .alias(f"_{i + 1}")
                    for i, x in enumerate(e.items)
                ]
            )
        if isinstance(e, A.TupleAccess):
            v = self._expr(e.expr, scope, group_map, agg_calls, pending)
            if isinstance(e.field, int):
                return v.getField(f"_{e.field}")
            return v.getField(e.field)
        if isinstance(e, A.Cast):
            from nutdb_spark.catalog import to_spark_type

            v = self._expr(e.expr, scope, group_map, agg_calls, pending)
            return v.cast(to_spark_type(e.dtype))
        if isinstance(e, A.ScalarSubquery):
            if pending is None:
                raise LoweringError("scalar subquery not allowed here")
            corr = self._try_correlated_scalar(
                e, scope, group_map, agg_calls, pending
            )
            if corr is not None:
                return corr
            df = self.lower_query(e.query, scope)
            if len(df.columns) != 1:
                raise LoweringError("scalar subquery must produce one column")
            name = self._gen("sc")
            # SQL scalar-subquery semantics via a 1-row reduction: the
            # aggregate always yields exactly one row, so the broadcast
            # join never drops base rows — 0 subquery rows gives NULL,
            # and >1 (detectable under the limit(2)) raises at runtime.
            limited = df.select(F.col(df.columns[0]).alias(name)).limit(2)
            red = limited.agg(
                F.first(F.col(name)).alias(name),
                F.count(F.lit(1)).alias(name + "_n"),
            )
            pending.append((name, red))
            return F.when(
                F.col(name + "_n") > 1,
                F.raise_error(
                    F.lit("scalar subquery produced more than one row")
                ),
            ).otherwise(F.col(name))
        if isinstance(e, A.Exists):
            # [EXT] EXISTS as a VALUE (select list / general
            # expression): uncorrelated form only — one count
            # aggregate broadcast as a single row. Correlated EXISTS
            # stays a WHERE-conjunct (it decorrelates to a join there).
            if pending is None:
                raise LoweringError("EXISTS not allowed here")
            try:
                sub = self.lower_query(e.query, scope)
            except LoweringError:
                raise
            except Exception as ex:
                raise LoweringError(
                    "EXISTS as a value supports uncorrelated "
                    "subqueries only; use it as a WHERE conjunct for "
                    "the correlated form"
                ) from ex
            name = self._gen("ex")
            red = sub.limit(1).agg(F.count(F.lit(1)).alias(name))
            pending.append((name, red))
            col = F.col(name) > 0
            return ~col if e.negated else col
        if isinstance(e, A.InSubquery):
            # [EXT] IN (SELECT …) as a VALUE — exact three-valued
            # semantics from one (set, count, count-nonnull) aggregate
            # broadcast as a single row: FALSE on empty set, NULL when
            # unmatched-but-NULLs-present or the probe is NULL.
            if pending is None:
                raise LoweringError("IN (SELECT …) not allowed here")
            try:
                sub = self.lower_query(e.query, scope)
            except LoweringError:
                raise
            except Exception as ex:
                raise LoweringError(
                    "IN (SELECT …) as a value supports uncorrelated "
                    "subqueries only; use it as a WHERE conjunct for "
                    "the correlated form"
                ) from ex
            if len(sub.columns) != 1:
                raise LoweringError("IN subquery must produce one column")
            s = F.col(sub.columns[0])
            arr, c, cn = (
                self._gen("inarr"), self._gen("inc"), self._gen("incn")
            )
            red = sub.agg(
                F.collect_set(s).alias(arr),
                F.count(F.lit(1)).alias(c),
                F.count(s).alias(cn),
            )
            pending.append((arr, red))
            x = self._expr(e.expr, scope, group_map, agg_calls, pending)
            # pin the probe to the set's element type (makes a bare
            # NULL literal well-typed and applies SQL coercion)
            x = x.cast(sub.schema[0].dataType)
            hit = F.array_contains(F.col(arr), x)
            val = (
                F.when(F.col(c) == 0, F.lit(False))
                .when(hit, F.lit(True))
                .when(
                    x.isNull() | (F.col(cn) < F.col(c)),
                    F.lit(None).cast("boolean"),
                )
                .otherwise(F.lit(False))
            )
            return ~val if e.negated else val
        if isinstance(e, A.QuantCompare):
            raise LoweringError(
                "ANY/ALL comparison is supported as a top-level WHERE conjunct"
            )
        raise LoweringError(f"cannot lower expression {e!r}")

    def _param(self, p: A.Param):
        try:
            return self.params[p.index]
        except IndexError as ex:
            raise LoweringError(f"missing query parameter ${p.index}") from ex

    def _binop(self, e: A.BinOp, scope, group_map, agg_calls, pending) -> Column:
        a = self._expr(e.left, scope, group_map, agg_calls, pending)
        b = self._expr(e.right, scope, group_map, agg_calls, pending)
        op = e.op
        if op == "+":
            if self._is_stringish(e.left, scope) or self._is_stringish(e.right, scope):
                return F.concat(a, b)  # dialect string-+ (corpus 10.sql:3)
            return a + b
        if op == "xor":
            return a != b  # boolean XOR
        if op == "like":
            return a.like(self._pattern(e.right)) if self._is_pat(e.right) else a.like(b)
        if op == "ilike":
            return (
                a.ilike(self._pattern(e.right)) if self._is_pat(e.right) else a.ilike(b)
            )
        fn = _BIN_COLUMN_OPS.get(op)
        if fn is None:
            raise LoweringError(f"unknown binary op {op}")
        return fn(a, b)

    @staticmethod
    def _is_pat(e) -> bool:
        return isinstance(e, A.Lit) and e.kind == "string"

    @staticmethod
    def _pattern(e: A.Lit) -> str:
        return e.value

    def _is_stringish(self, e, scope: Scope | None) -> bool:
        if isinstance(e, A.Lit):
            return e.kind == "string"
        if scope is None:
            return False
        if isinstance(e, A.BinOp) and e.op == "+":
            return self._is_stringish(e.left, scope) or self._is_stringish(
                e.right, scope
            )
        if isinstance(e, A.Ident):
            for s in (scope, scope.parent):
                if s is None:
                    continue
                for alias, df in s.frames.items():
                    if e.qualifier and alias != e.qualifier:
                        continue
                    for fld in df.schema.fields:
                        if fld.name == e.name:
                            return fld.dataType.typeName() == "string"
        if isinstance(e, A.FnCall):
            return e.name.lower() in {
                "concat", "substring", "lower", "upper", "normalizetext",
            }
        return False

    def _case(self, e: A.Case, scope, group_map, agg_calls, pending) -> Column:
        out = None
        for cond, res in e.whens:
            c = self._expr(cond, scope, group_map, agg_calls, pending)
            if e.scrutinee is not None:
                c = self._expr(e.scrutinee, scope, group_map, agg_calls, pending) == c
            r = self._expr(res, scope, group_map, agg_calls, pending)
            out = F.when(c, r) if out is None else out.when(c, r)
        if e.else_ is not None:
            out = out.otherwise(
                self._expr(e.else_, scope, group_map, agg_calls, pending)
            )
        return out

    # [EXT] window-only function names; ntile's bucket count and
    # lag/lead's offset/default must be plain literals because Spark
    # takes them as Python values.
    _WINDOW_ONLY = {
        "row_number", "rank", "dense_rank", "percent_rank", "cume_dist",
        "ntile", "lag", "lead", "first_value", "last_value",
        # [EXT] nth_value + the ClickHouse lagInFrame/leadInFrame
        # spellings (same offset/default signature as lag/lead)
        "nth_value", "laginframe", "leadinframe",
    }

    def _window_call(self, e, scope, group_map, agg_calls, pending) -> Column:
        from pyspark.sql import Window

        if group_map:
            raise LoweringError(
                "window functions over GROUP BY queries are not supported"
            )
        w = self._window_spec(e, scope, agg_calls, pending)
        name = e.fn.name.lower()
        if name in self._WINDOW_ONLY:
            col = self._window_only_fn(e, name, scope, agg_calls, pending)
        else:
            from nutdb_spark.functions.registry import resolve

            try:
                fn, is_agg = resolve(e.fn.name)
            except KeyError as ex:
                raise LoweringError(
                    f"unknown window function {e.fn.name!r}"
                ) from ex
            if not is_agg:
                raise LoweringError(
                    f"{e.fn.name!r} is not a window or aggregate function"
                )
            if len(e.fn.args) == 1 and isinstance(e.fn.args[0], A.Wildcard):
                col = F.count(F.lit(1))
            else:
                args = [
                    self._expr(a, scope, None, agg_calls, pending)
                    for a in e.fn.args
                ]
                col = fn(*args)
        return col.over(w)

    def _window_spec(self, e, scope, agg_calls, pending):
        from pyspark.sql import Window

        parts = [
            self._expr(p, scope, None, agg_calls, pending)
            for p in e.partition_by
        ]
        orders = []
        for o in e.order_by:
            c = self._expr(o.expr, scope, None, agg_calls, pending)
            orders.append(c if o.asc else c.desc())
        name = e.fn.name.lower()
        if name in ("row_number", "rank", "dense_rank", "percent_rank",
                    "cume_dist", "ntile", "lag", "lead", "nth_value",
                    "laginframe", "leadinframe") and not orders:
            raise LoweringError(f"{e.fn.name} requires ORDER BY in OVER")
        w = Window.partitionBy(*parts)
        if orders:
            w = w.orderBy(*orders)
        if e.frame is not None:
            if not orders:
                raise LoweringError("a ROWS frame requires ORDER BY in OVER")
            kind, lo, hi = e.frame
            if kind == "range":
                # [EXT] value-offset RANGE frame — deterministic (peer
                # rows included symmetrically on every engine), unlike
                # the bare-RANGE default frame which stays rejected.
                # Spark requires exactly one ascending numeric sort key.
                if len(e.order_by) != 1 or not e.order_by[0].asc:
                    raise LoweringError(
                        "a RANGE frame requires exactly one ascending "
                        "ORDER BY key"
                    )
                if any(isinstance(b[1], A.Interval) for b in (lo, hi)):
                    # [EXT] INTERVAL bounds over a timestamp sort key:
                    # re-key the window on epoch micros (a monotonic
                    # bijection — identical frames) and convert the
                    # bounds to micros. Variable-length units (month+)
                    # are rejected: they have no fixed micro width.
                    key = self._expr(
                        e.order_by[0].expr, scope, None, agg_calls,
                        pending,
                    )
                    w = Window.partitionBy(*parts).orderBy(
                        F.unix_micros(key.cast("timestamp"))
                    )
                    lo = (lo[0], self._iv_micros(lo[1]))
                    hi = (hi[0], self._iv_micros(hi[1]))
                w = w.rangeBetween(self._frame_val(lo, True),
                                   self._frame_val(hi, False))
            else:
                if any(isinstance(b[1], A.Interval) for b in (lo, hi)):
                    raise LoweringError(
                        "INTERVAL frame bounds require a RANGE frame"
                    )
                w = w.rowsBetween(self._frame_val(lo, True),
                                  self._frame_val(hi, False))
        return w

    _IV_MICROS = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
        "week": 604_800_000_000,
    }

    @classmethod
    def _iv_micros(cls, iv):
        if iv is None or not isinstance(iv, A.Interval):
            return iv
        if iv.unit not in cls._IV_MICROS:
            raise LoweringError(
                "RANGE INTERVAL bounds need a fixed-length unit "
                "(SECOND..WEEK)"
            )
        return iv.count * cls._IV_MICROS[iv.unit]

    @staticmethod
    def _frame_val(bound, is_lo: bool):
        from pyspark.sql import Window

        kind, n = bound
        if kind == "up":
            return Window.unboundedPreceding
        if kind == "uf":
            return Window.unboundedFollowing
        if kind == "cur":
            return Window.currentRow
        return -n if kind == "pre" else n

    def _window_only_fn(self, e, name, scope, agg_calls, pending) -> Column:
        args = e.fn.args

        def lit_int(i: int, what: str) -> int:
            a = args[i]
            if not (isinstance(a, A.Lit) and a.kind in ("int", "hex")):
                raise LoweringError(f"{e.fn.name} {what} must be an "
                                    "integer literal")
            return int(a.value)

        if name in ("row_number", "rank", "dense_rank", "percent_rank",
                    "cume_dist"):
            if args:
                raise LoweringError(f"{e.fn.name} takes no arguments")
            return getattr(F, name)()
        if name == "ntile":
            if len(args) != 1:
                raise LoweringError("ntile takes exactly one argument")
            return F.ntile(lit_int(0, "bucket count"))
        if name == "nth_value":
            if len(args) != 2:
                raise LoweringError("nth_value takes (expr, n)")
            col = self._expr(args[0], scope, None, agg_calls, pending)
            return F.nth_value(col, lit_int(1, "n"))
        if name in ("lag", "lead", "laginframe", "leadinframe"):
            name = {"laginframe": "lag", "leadinframe": "lead"}.get(
                name, name
            )
            if not 1 <= len(args) <= 3:
                raise LoweringError(f"{e.fn.name} takes 1-3 arguments")
            col = self._expr(args[0], scope, None, agg_calls, pending)
            off = lit_int(1, "offset") if len(args) >= 2 else 1
            if len(args) == 3:
                if not isinstance(args[2], A.Lit):
                    raise LoweringError(
                        f"{e.fn.name} default must be a literal"
                    )
                return getattr(F, name)(col, off, args[2].value)
            return getattr(F, name)(col, off)
        # first_value / last_value
        if len(args) != 1:
            raise LoweringError(f"{e.fn.name} takes exactly one argument")
        col = self._expr(args[0], scope, None, agg_calls, pending)
        return F.first(col) if name == "first_value" else F.last(col)

    def _apply_sample(self, base, from_clause, scope):
        """[EXT] SAMPLE <frac> BY (key): deterministic hash sampling —
        kept iff md5('sample' || key) bucket < frac·grain. A pure
        pushed-down filter: append-stable, engine-portable, no shuffle
        (unlike TABLESAMPLE, whose output depends on partition
        layout)."""
        if getattr(from_clause, "sample", None) is None:
            return base
        from nutdb_spark.operators.sampling import sample_fraction

        frac, key_ast = from_clause.sample
        key = self._expr(key_ast, scope, {}, [])
        # the canonical hash-sampling contract (incl. the
        # int(frac*GRAIN) truncation the DuckDB oracles mirror) lives
        # in ONE place — operators/sampling.sample_fraction
        return sample_fraction(base, key, frac, salt="sample")

    def _lower_array_join(self, base, aj, scope):
        """[EXT] ARRAY JOIN lowering. One generator per clause: items
        iterate in LOCKSTEP via an exploded index over the longest
        array (ClickHouse zips; a cross product would be one ARRAY
        JOIN per clause instead). LEFT keeps empty/NULL-array rows with
        NULL elements (explode_outer); inner drops them. Alias equal to
        an existing column REPLACES it. Scale shape: a generator is
        row-local — no shuffle, fan-out streamed by the scan."""
        cols = [self._expr(e, scope, {}, []) for e, _ in aj.items]
        tmps = [f"__aj{i}" for i in range(len(cols))]
        out = base.select("*", *[c.alias(t) for c, t in zip(cols, tmps)])
        sizes = [F.size(F.col(t)) for t in tmps]
        n = sizes[0] if len(sizes) == 1 else F.greatest(*sizes)
        # sequence(1, 0) would generate a DESCENDING [1, 0] — guard
        # empty arrays to NULL so inner drops and LEFT null-fills.
        seq = F.when(n >= 1, F.sequence(F.lit(1), n))
        gen = F.explode_outer(seq) if aj.left else F.explode(seq)
        out = out.withColumn("__aj_idx", gen)
        for t, (_, alias) in zip(tmps, aj.items):
            # try_element_at: with unequal lockstep arrays the index
            # runs to the LONGEST one — shorter arrays NULL-fill (ANSI
            # element_at would throw out-of-bounds)
            out = out.withColumn(
                alias, F.try_element_at(F.col(t), F.col("__aj_idx"))
            )
        return out.drop(*tmps, "__aj_idx")

    def _make_lambda(self, lam, scope, group_map, agg_calls, pending):
        """A.Lambda -> python callable over pyspark lambda variables:
        the higher-order builtin (transform/filter/exists/forall/
        aggregate) invokes it once with placeholder Columns; the body
        lowers with the parameters bound innermost-first."""

        def body(*cols):
            self._lambda_stack.append(dict(zip(lam.params, cols)))
            try:
                return self._expr(
                    lam.body, scope, group_map, agg_calls, pending
                )
            finally:
                self._lambda_stack.pop()

        # pyspark's higher-order builtins introspect the callable's
        # signature (POSITIONAL only, no *args) to size the lambda
        # variables — hand back a fixed-arity wrapper
        n = len(lam.params)
        if n == 1:
            return lambda x: body(x)
        if n == 2:
            return lambda x, y: body(x, y)
        if n == 3:
            return lambda x, y, z: body(x, y, z)
        raise LoweringError("lambdas support at most 3 parameters")

    def _fn(self, e: A.FnCall, scope, group_map, agg_calls, pending) -> Column:
        from nutdb_spark.functions.registry import resolve

        if e.params is not None and e.name.lower() not in _AGG_NAMES:
            raise LoweringError(
                f"function {e.name!r} is not parametric"
            )
        if e.name.lower() in ("dictget", "dictgetordefault",
                              "dictgetornull"):
            # dictGetOrNull ≡ dictGet: a miss is NULL unless a default
            # is given (the 4-arg form)
            return self._dict_get(e, scope, group_map, agg_calls, pending)
        if e.name.lower() in _DICT_GET_CASTS:
            # [EXT] typed spellings (dictGetString/Int64/Float64/...):
            # dictGet + a cast to the named type
            return self._dict_get(
                e, scope, group_map, agg_calls, pending
            ).cast(_DICT_GET_CASTS[e.name.lower()])
        if e.name.lower() == "dicthas":
            return self._dict_has(e, scope, group_map, agg_calls, pending)
        if e.name.lower() == "tupleelement":
            # tupleElement(t, 1) / tupleElement(t, 'name') — the index
            # is a compile-time literal resolving a struct field:
            # positional for tuple()'s _1.._n fields, by name for any
            # named struct (e.g. sumCount's .sum/.count)
            if len(e.args) != 2 or not isinstance(e.args[1], A.Lit):
                raise LoweringError(
                    "tupleElement takes (tuple, literal index or name)"
                )
            t = self._expr(e.args[0], scope, group_map, agg_calls, pending)
            idx = e.args[1].value
            field = f"_{idx}" if isinstance(idx, int) else str(idx)
            return t.getField(field)
        try:
            fn, is_agg = resolve(e.name)
        except KeyError as ex:
            raise LoweringError(f"unknown function {e.name!r}") from ex
        if is_agg:
            # aggregate outside agg context (e.g. plain SELECT count(*))
            return self._lower_agg_call(e, scope)
        raw_idx = _RAW_STRING_ARG_FNS.get(e.name.lower(), ())
        iv_idx = _RAW_INTERVAL_ARG_FNS.get(e.name.lower(), ())
        args = []
        for i, a in enumerate(e.args):
            if isinstance(a, A.Lambda):
                args.append(
                    self._make_lambda(a, scope, group_map, agg_calls, pending)
                )
                continue
            if i in iv_idx:
                # The registry fn consumes the interval at PLAN time
                # (bucket widths are compile-time constants) — only an
                # INTERVAL literal can supply one.
                if not isinstance(a, A.Interval):
                    raise LoweringError(
                        f"{e.name} argument {i + 1} must be an "
                        "INTERVAL literal"
                    )
                args.append((a.count, a.unit))
                continue
            if i in raw_idx:
                # The registry fn needs a compile-time python string
                # (e.g. a JsonPath segment for get_json_object) — only
                # a string literal can supply one.
                if not (isinstance(a, A.Lit) and a.kind == "string"):
                    raise LoweringError(
                        f"{e.name} argument {i + 1} must be a string literal"
                    )
                args.append(a.value)
            else:
                args.append(self._expr(a, scope, group_map, agg_calls, pending))
        return fn(*args)

    @staticmethod
    def _expr_name(e) -> str:
        if isinstance(e, A.Ident):
            return e.name
        if isinstance(e, A.FnCall):
            return e.name
        return "expr"


_AGG_NAMES = {n.lower() for n in AGGREGATE_FNS} | {
    n.lower() for n in PARAMETRIC_AGGS
}

# Aggregate families for Lowerer._lower_aggregate, one rule per row:
# (family, name test, only in the fn(params)(args) form, words,
# unless). The first row whose test holds for the lowercased call name
# and one of its words, and whose name holds none of its `unless`
# words, gives the family; no row means 'plain'.
_AGG_FAMILIES = (
    # exact heavy-hitter / order-statistic aggregates lowered as a
    # bounded (keys, value, cnt) side (_topk_side); the -If forms take
    # their condition as the last argument
    (
        "topk", str.__eq__, True,
        (
            "topk", "topkweighted", "grouparraysorted", "quantileexact",
            "quantileexactlow", "quantileexacthigh", "topkif",
            "topkweightedif", "grouparraysortedif", "quantileexactif",
        ),
        (),
    ),
    # medianExact ≡ quantileExact(0.5), and entropy needs only the
    # per-value counts: the same side, without parameters
    ("topk", str.__eq__, False, ("medianexact", "entropy"), ()),
    # aggregates that lower to a Spark DISTINCT aggregate (planned by
    # RewriteDistinctAggregates). Prefixes, because the combinator
    # generator composes wrappers around the same bases; the -Array
    # forms are collect_set reductions and countUniqueApprox a sketch
    (
        "distinct", str.startswith, False,
        (
            "uniqexact", "countunique", "countdistinct", "sumdistinct",
            "avgdistinct", "uniqupto",
        ),
        ("array", "countuniqueapprox"),
    ),
    # TypedImperative-buffer aggregates whose state is costly to
    # re-serialize through the distinct rewrite's extra aggregate
    # level (percentile maps, max_by/min_by structs, collect_* arrays)
    (
        "heavy", str.__contains__, False,
        (
            "median", "quantile", "argmax", "argmin", "grouparray",
            "groupuniqarray", "histogram",
        ),
        (),
    ),
)

# fn name (lowercased) -> 0-based arg positions that must be string
# LITERALS passed through raw (not lowered to Columns): Spark's
# get_json_object takes its JsonPath as a compile-time string.
_RAW_STRING_ARG_FNS: dict[str, tuple[int, ...]] = {
    "jsonextractint": (1,),
    "jsonextractbool": (1,),
    "jsonextractuint": (1,),
    "simplejsonextractstring": (1,),
    "simplejsonextractint": (1,),
    "simplejsonextractfloat": (1,),
    "simplejsonextractbool": (1,),
    "simplejsonhas": (1,),
    "visitparamextractstring": (1,),
    "jsonextractfloat": (1,),
    "jsonextractstring": (1,),
    "jsonhas": (1,),
    # timestampdiff unit / regexp_extract pattern / concat_ws+array_join
    # separators are compile-time strings in Spark
    "datediff": (0,),
    "formatdatetime": (1,),
    "age": (0,),
    "format": (0,),
    "extract": (1,),
    "extractall": (1,),
    "dateadd": (0,),
    "datesub": (0,),
    "concatwithseparator": (0,),
    "arraystringconcat": (1,),
    # URL parameter name folds into the extraction regex
    "extracturlparameter": (1,),
    "countmatches": (1,),
    # arrayReduce's aggregate-name selector
    "arrayreduce": (0,),
    # date_trunc's unit selector
    "datetrunc": (0,),
    # parseDateTime's CH %-pattern (translated at plan time)
    "parsedatetime": (1,),
}

# fn name (lowercased) -> 0-based arg positions that must be INTERVAL
# literals, handed to the registry as a (count, unit) python tuple —
# bucket widths are plan-time constants (toStartOfInterval)
_RAW_INTERVAL_ARG_FNS: dict[str, tuple[int, ...]] = {
    "tostartofinterval": (1,),
}


# [EXT] dictGet<Type> spellings → cast target (ClickHouse's typed
# accessors; unsigned widths widen like the catalog type map)
_DICT_GET_CASTS: dict[str, str] = {
    "dictgetstring": "string",
    "dictgetint8": "tinyint",
    "dictgetint16": "smallint",
    "dictgetint32": "int",
    "dictgetint64": "bigint",
    "dictgetuint8": "smallint",
    "dictgetuint16": "int",
    "dictgetuint32": "bigint",
    "dictgetuint64": "decimal(20,0)",
    "dictgetfloat32": "float",
    "dictgetfloat64": "double",
    "dictgetdate": "date",
    "dictgetdatetime": "timestamp",
    "dictgetbool": "boolean",
}
