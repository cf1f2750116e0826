"""[EXT] Incremental Summing-view maintenance (foreachBatch merge).

The batch path (the catalog's full view refresh) recomputes a
`UPDATE BY Summing` view; this is the incremental path per SURVEY §7.2
M6: maintain the same merged state from a stream, one micro-batch at a
time. Summing merges are associative and commutative (per-key sums), so

    state ⊕ batch  =  groupBy(keys).sum(state ∪ batch-partials)

is exact regardless of batch boundaries — the same property that makes
ClickHouse SummingMergeTree parts mergeable in any order.

State is parquet partitioned by ``__bucket = pmod(xxhash64(keys), B)``.
A micro-batch only reads and rewrites the buckets its keys hash into:
per-batch work is O(touched state), not O(total state) — the property
that keeps a large materialized view maintainable at 100 TB, where a
batch touching 0.1% of keys must not rewrite the other 99.9%. Untouched
bucket directories are left physically untouched (tests assert their
mtimes). The touched buckets are staged and swapped in as one batch by
``catalog.commit`` (single-writer assumption, which Structured
Streaming's one-query-per-sink guarantees), or staged for a caller that
commits them together with the rows they came from (a catalog INSERT).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nutdb_spark.catalog import commit

# the bucket count of every catalog view's state: changing it re-hashes
# keys into buckets that existing state does not have
DEFAULT_BUCKETS = 16


def _bucket_dirs(state_path: str) -> list[str]:
    return [d for d in os.listdir(state_path) if d.startswith("__bucket=")]


def _merge_touched_buckets(
    partial: DataFrame, merge, state_path: str, staged: str | None = None
) -> list[str]:
    """Shared bucketed-state maintenance: given a batch partial that
    carries an int ``__bucket`` column, read ONLY the touched state
    buckets, apply ``merge(state ∪ partial) -> merged`` and commit the
    touched bucket directories as one batch (single-writer). With
    ``staged``, the merged buckets are written there instead and only
    their names are returned, for the caller to commit with entries of
    its own. A state that does not exist yet is written in place when
    nothing is staged: nothing live to keep. The only driver-side
    values are the touched bucket ids (≤ B). Returns the touched
    bucket directory names (none for a state written in place)."""
    if staged is None and not os.path.isdir(state_path):
        partial.write.partitionBy("__bucket").parquet(state_path)
        return []
    spark = partial.sparkSession
    # computed once, then read twice: for its touched buckets and to
    # merge into them
    partial = partial.localCheckpoint()
    touched = sorted(
        r["__bucket"] for r in partial.select("__bucket").distinct().collect()
    )
    if not touched:
        return []
    touched_set = set(touched)
    hit = [
        os.path.join(state_path, d)
        for d in (_bucket_dirs(state_path) if os.path.isdir(state_path) else [])
        if int(d.split("=", 1)[1]) in touched_set
    ]
    if hit:
        # the state is read with the partial's schema (an inferred one
        # costs a job) and keeps it: the merge's output is cast back, so
        # a widening aggregate (a decimal sum) cannot drift the stored
        # types from one merge to the next
        state = (
            spark.read.schema(partial.schema)
            .option("basePath", state_path)
            .parquet(*hit)
        )
        partial = _cast_like(merge(state.unionByName(partial)), partial)
    # a touched bucket that aggregates to zero rows is not written, so
    # the commit removes it
    names = [f"__bucket={b}" for b in touched]

    def write(out: str) -> None:
        partial.write.mode("overwrite").partitionBy("__bucket").parquet(out)

    if staged is not None:
        write(staged)
    else:
        commit(state_path, names, write)
    return names


def _cast_like(df: DataFrame, like: DataFrame) -> DataFrame:
    """``df``'s columns named, ordered and typed as ``like``'s."""
    return df.select(*[F.col(f.name).cast(f.dataType) for f in like.schema])


def _with_bucket(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(
        "__bucket",
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))
        .cast("int"),
    )


def summing_merge_batch(
    batch_df: DataFrame,
    keys: list[str],
    sums: list[str],
    state_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    staged: str | None = None,
) -> list[str]:
    """Merge one micro-batch of raw rows into the bucketed summing
    state, rewriting only the buckets the batch's keys fall in
    (``staged``: see :func:`_merge_touched_buckets`)."""
    partial = _with_bucket(
        batch_df.groupBy(*keys).agg(
            *[F.sum(c).alias(c) for c in sums],
            F.count(F.lit(1)).alias("__n"),
        ),
        keys,
        n_buckets,
    )

    def merge(both: DataFrame) -> DataFrame:
        return both.groupBy(*keys, "__bucket").agg(
            *[F.sum(c).alias(c) for c in sums],
            F.sum("__n").alias("__n"),
        )

    return _merge_touched_buckets(partial, merge, state_path, staged)


def replacing_merge_batch(
    batch_df: DataFrame,
    keys: list[str],
    version: list[str],
    state_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    staged: str | None = None,
) -> list[str]:
    """Replacing-strategy sibling of :func:`summing_merge_batch`:
    per merge key keep the row with the greatest ``version`` tuple
    (ClickHouse ReplacingMergeTree(ver)). Keep-max is associative and
    commutative like the sum, so batch boundaries don't matter and the
    same O(touched buckets) contract holds."""
    payload = [c for c in batch_df.columns if c not in keys]

    def keep_max(df: DataFrame) -> DataFrame:
        row = F.max_by(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(*[F.col(v) for v in version]),
        ).alias("__row")
        out = df.groupBy(*keys, "__bucket").agg(row)
        return out.select(
            *keys, *[F.col("__row")[c].alias(c) for c in payload], "__bucket"
        )

    partial = keep_max(_with_bucket(batch_df, keys, n_buckets))
    return _merge_touched_buckets(partial, keep_max, state_path, staged)


def incremental_summing(
    stream_df: DataFrame,
    *,
    keys: list[str],
    sums: list[str],
    state_path: str,
    checkpoint: str,
    n_buckets: int = DEFAULT_BUCKETS,
):
    """Attach the Summing merge to a streaming DataFrame; returns the
    started StreamingQuery (availableNow-compatible)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        summing_merge_batch(batch_df, keys, sums, state_path, n_buckets)

    return (
        stream_df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


_MERGE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def aggregating_merge_batch(
    batch_df: DataFrame,
    keys: list[str],
    merge_ops: dict,
    state_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    staged: str | None = None,
) -> list[str]:
    """Aggregating-strategy sibling of :func:`summing_merge_batch`
    (ClickHouse AggregatingMergeTree for the re-aggregatable
    functions): the batch is the VIEW QUERY's output over the insert
    delta — already per-key partial aggregates — and each column
    merges with the state under its own operator (`sum` for sum AND
    count — counts add; `min`/`max` keep-extreme). All three are
    associative + commutative, so batch boundaries don't matter and
    the O(touched buckets) contract holds."""
    partial = _with_bucket(batch_df, keys, n_buckets)

    def merge(both: DataFrame) -> DataFrame:
        return both.groupBy(*keys, "__bucket").agg(
            *[
                _MERGE_FNS[op](c).alias(c)
                for c, op in merge_ops.items()
            ]
        )

    # stored in the view query's own types (the catalog reads the state
    # with them): a sum of sums would widen a decimal again
    first = _cast_like(merge(partial), partial)
    return _merge_touched_buckets(first, merge, state_path, staged)
