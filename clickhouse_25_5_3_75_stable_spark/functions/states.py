"""-State / -Merge combinator analogue: persistable partial-aggregate
states (SURVEY §1.2 `AggregateFunction(f, Ts)` and §7 hard part 3).

Reference: DataTypeAggregateFunction
(/root/reference/src/DataTypes/DataTypeAggregateFunction.h) lets a
table column hold an aggregation's intermediate state; `-State`
produces it, `-Merge` folds states from different parts/shards.
AggregatingMergeTree folds them at merge time.

Spark mapping: a struct column holding the state, producible by
`groupBy().agg(<f>_state(...))`, storable in parquet, and mergeable by
`<f>_merge(...)` in a later job — the exact two-phase contract the
reference uses for distributed and incremental aggregation:

    states = df.groupBy(k).agg(sum_state("x").alias("s"))   # per batch
    states.write.parquet(...)                               # persist
    total = all_states.groupBy(k).agg(sum_merge("s"))       # -Merge

Covered states: count/sum/avg/min/max (struct algebra), uniq via
Spark's HLL sketch pair (hll_sketch_agg / hll_union_agg — binary
sketch state, same mergeability contract as the reference's
uniqCombined state), quantile via a bounded reservoir-free exact
sample (collect into sorted arrays; merge = concat+sort — exact, for
moderate group cardinalities).

At 100 TB these make incremental pipelines possible: daily partial
states + a cheap merge job instead of re-scanning history.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_25_5_3_75_stable_spark.functions.numeric import _DEC


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


# --- sum / count / avg -----------------------------------------------------


def sum_state(col: Column | str) -> Column:
    """sumState: exact decimal partial sum (order-independent)."""
    return F.sum(_c(col).cast(_DEC))


def sum_merge(state: Column | str) -> Column:
    return F.sum(_c(state)).cast("double")


def count_state(col: Column | str | None = None) -> Column:
    return F.count(_c(col)) if col is not None else F.count(F.lit(1))


def count_merge(state: Column | str) -> Column:
    return F.sum(_c(state))


def avg_state(col: Column | str) -> Column:
    """avgState = (decimal sum, count) struct — the same pair the
    reference serializes for avg's state."""
    c = _c(col)
    return F.struct(F.sum(c.cast(_DEC)).alias("s"), F.count(c).alias("n"))


def avg_merge(state: Column | str) -> Column:
    s = _c(state)
    return (F.sum(s["s"]).cast("double") / F.sum(s["n"]).cast("double"))


# --- min / max -------------------------------------------------------------


def min_state(col: Column | str) -> Column:
    return F.min(_c(col))


def min_merge(state: Column | str) -> Column:
    return F.min(_c(state))


def max_state(col: Column | str) -> Column:
    return F.max(_c(col))


def max_merge(state: Column | str) -> Column:
    return F.max(_c(state))


# --- uniq (HLL sketch state) ----------------------------------------------


def uniq_state(col: Column | str, lg_k: int = 12) -> Column:
    """uniqState via Datasketches HLL: binary, mergeable, storable —
    the contract of the reference's uniqCombined state
    (/root/reference/src/AggregateFunctions/UniqCombinedBiasData.h)."""
    return F.hll_sketch_agg(_c(col), F.lit(lg_k))


def uniq_merge(state: Column | str) -> Column:
    """uniqMerge: union sketches, return the estimate."""
    return F.hll_sketch_estimate(F.hll_union_agg(_c(state)))


# --- quantileExact (sorted-sample state) ----------------------------------


def quantile_exact_state(col: Column | str) -> Column:
    """quantileExactState: all values, sorted (exact; bounded use —
    cap upstream for heavy groups, like the reference's quantileExact
    memory contract)."""
    return F.array_sort(F.collect_list(_c(col)))


def quantile_exact_merge(state: Column | str, q: float) -> Column:
    merged = F.array_sort(F.flatten(F.collect_list(_c(state))))
    return _percentile_from_sorted(merged, q)


def _percentile_from_sorted(arr: Column, q: float) -> Column:
    """Linear-interpolated percentile over a sorted array (matches
    percentile_cont / F.percentile semantics)."""
    n = F.size(arr)
    pos = F.lit(q) * (n - 1).cast("double")
    lo = F.floor(pos).cast("int")
    hi = F.ceil(pos).cast("int")
    frac = pos - lo.cast("double")
    lov = F.element_at(arr, lo + 1).cast("double")
    hiv = F.element_at(arr, hi + 1).cast("double")
    return lov + (hiv - lov) * frac
