"""Deterministic SAMPLE clause semantics.

The reference's ``SAMPLE k`` / ``SAMPLE k OFFSET m`` reads a stable
slice of the sampling-key hash space, chosen at plan time
(/root/reference/src/Storages/MergeTree/MergeTreeDataSelectExecutor.cpp:206
``getSampling``; sampling key declared per MergeTree table). Key
properties we preserve:

- **deterministic**: the same rows are sampled on every run and on
  every node — unlike Spark's Bernoulli ``df.sample`` whose outcome
  depends on partition split and seed plumbing;
- **consistent across tables**: two tables sampled on the same key at
  the same rate keep joinable rows (the reference uses this for
  sampled JOINs);
- **cheap at scale**: the predicate is a pure row-local filter, pushed
  below every shuffle; no extra pass, no skew.

Spark realization: a filter on a slice of a hash (or key) space.
``xxhash64`` keeps the whole predicate inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sample_by_key(
    df: DataFrame,
    key: str | Column,
    numerator: int,
    denominator: int,
    offset: int = 0,
    hashed: bool = True,
) -> DataFrame:
    """``SAMPLE numerator/denominator OFFSET offset/denominator``.

    ``hashed=True`` spreads the sampling key uniformly via xxhash64
    (the reference's intHash32-over-sampling-key analogue); with
    ``hashed=False`` the key's own value is bucketed directly, which
    keeps the predicate expressible in vanilla ANSI SQL (oracle-able)
    and is appropriate for keys that are already uniform (surrogate
    ids).
    """
    if not (0 < numerator <= denominator):
        raise ValueError("need 0 < numerator <= denominator")
    if not (0 <= offset < denominator):
        raise ValueError("need 0 <= offset < denominator")
    c = F.col(key) if isinstance(key, str) else key
    bucket = F.pmod(F.xxhash64(c) if hashed else c, F.lit(denominator))
    lo, hi = offset, offset + numerator
    if hi <= denominator:
        pred = (bucket >= lo) & (bucket < hi)
    else:  # wrap around the ring
        pred = (bucket >= lo) | (bucket < hi - denominator)
    return df.filter(pred)


def sample_fraction(df: DataFrame, key: str | Column, fraction: float) -> DataFrame:
    """``SAMPLE 0.1``-style relative sampling on a key (deterministic)."""
    denom = 1_000_000
    return sample_by_key(df, key, max(1, int(round(fraction * denom))), denom)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    key: str | Column,
    rates: dict,
    default_rate: float = 0.0,
    denominator: int = 10_000,
) -> DataFrame:
    """Deterministic per-stratum sampling — the corpus-mixture op of a
    training-data pipeline (hit a target language/source/quality mix).
    Each stratum keeps the fraction of its hash ring given by
    rates[stratum]; the hash derives from md5 (text.portable_hash64)
    so the SAME rows are kept in any engine/run — reproducible corpus
    cuts, no RNG. One scan, no shuffle."""
    from clickhouse_25_5_3_75_stable_spark.operators.text import portable_hash64

    c = F.col(key) if isinstance(key, str) else key
    bucket = F.pmod(portable_hash64(c.cast("string")), F.lit(denominator))
    rate = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(float(r))).otherwise(rate)
    return df.filter(bucket < (rate * denominator).cast("bigint"))


def stratified_sample_sql(
    stratum_col: str, key_expr: str, rates: dict, default_rate: float = 0.0,
    denominator: int = 10_000,
) -> str:
    """DuckDB predicate mirroring :func:`stratified_sample`."""
    from clickhouse_25_5_3_75_stable_spark.operators.text import portable_hash64_sql

    h = portable_hash64_sql(f"CAST({key_expr} AS VARCHAR)")
    cases = " ".join(
        f"WHEN {stratum_col} = '{s}' THEN {float(r)!r}" for s, r in sorted(rates.items())
    )
    rate = f"(CASE {cases} ELSE {float(default_rate)!r} END)"
    return f"(({h} % {denominator} + {denominator}) % {denominator}) < CAST({rate} * {denominator} AS BIGINT)"


# ---------------------------------------------------------------------------
# Round-9 training-pipeline batch: stable splits, target-proportion
# mixtures, epoch upsampling, seeded global shuffle. All derive from
# the portable md5 hash ring (operators/text.portable_hash64) so the
# SAME rows land in the SAME splits on any engine, any cluster size,
# any run — the reproducibility contract a 100 TB corpus build needs.
# ---------------------------------------------------------------------------


def split_stable(
    df: DataFrame,
    key: str | Column,
    weights: dict[str, int],
    seed: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Stable train/val/test assignment: each row lands in one named
    split with probability weight/sum(weights), decided by its key's
    position on the hash ring — adding rows later never moves existing
    ones between splits, and re-running with a different `seed` draws
    an independent assignment. One scan, zero shuffles; integer
    cumulative bounds, no float boundaries."""
    from clickhouse_25_5_3_75_stable_spark.operators.text import portable_hash64

    c = F.col(key) if isinstance(key, str) else key
    total = sum(weights.values())
    bucket = F.pmod(
        portable_hash64(F.concat(c.cast("string"), F.lit(f":{seed}"))),
        F.lit(total))
    expr = None
    acc = 0
    for name, w in weights.items():  # caller order defines the ring
        acc += int(w)
        expr = (F.when(bucket < acc, F.lit(name)) if expr is None
                else expr.when(bucket < acc, F.lit(name)))
    return df.withColumn(out_col, expr)


def mixture_to_target(
    df: DataFrame,
    stratum_col: str,
    key: str | Column,
    target_parts: dict[str, int],
) -> DataFrame:
    """Down-sample per stratum so the OUTPUT hits exact target
    proportions (the corpus-mixing step of a training build: "make
    the kept corpus 70% en / 20% fr / 10% de"): the largest feasible
    total is T = min_d floor(n_d * P / p_d), each stratum keeps
    quota_d = floor(T * p_d / P) rows — all integer arithmetic, so
    every engine agrees. Rows kept are the stratum's smallest portable
    hashes (stable under reruns). Strata outside `target_parts` drop.
    Plan: one bounded groupBy count (D rows to the driver) + one
    window shuffle partitioned by stratum."""
    from pyspark.sql import Window

    from clickhouse_25_5_3_75_stable_spark.operators.text import portable_hash64

    c = F.col(key) if isinstance(key, str) else key
    P = sum(target_parts.values())
    counts = {
        r[0]: r[1]
        for r in df.filter(F.col(stratum_col).isin(*target_parts))
        .groupBy(stratum_col).count().collect()
    }
    if not counts or any(s not in counts for s in target_parts):
        missing = sorted(set(target_parts) - set(counts))
        raise ValueError(f"strata absent from the data: {missing}")
    T = min(counts[s] * P // p for s, p in target_parts.items())
    quotas = {s: T * p // P for s, p in target_parts.items()}
    w = Window.partitionBy(stratum_col).orderBy(
        portable_hash64(c.cast("string")), c.cast("string"))
    quota = None
    for s, q in sorted(quotas.items()):
        quota = (F.when(F.col(stratum_col) == s, q) if quota is None
                 else quota.when(F.col(stratum_col) == s, q))
    return (
        df.filter(F.col(stratum_col).isin(*target_parts))
        .withColumn("__mx_rank", F.row_number().over(w))
        .filter(F.col("__mx_rank") <= quota)
        .drop("__mx_rank")
    )


def upsample_epochs(
    df: DataFrame,
    stratum_col: str,
    key: str | Column,
    epochs: dict[str, float],
    default_epochs: float = 1.0,
    denominator: int = 10_000,
    out_col: str = "epoch_idx",
) -> DataFrame:
    """Per-stratum FRACTIONAL epoch replication (the LLaMA-style
    "high-quality sources see >1 epoch" step): a stratum with
    epochs=2.3 emits every row twice and a stable 30% hash-cut of rows
    a third time. Output carries `epoch_idx` (0-based copy index).
    Pure per-row explode — zero shuffles; the fractional cut rides the
    same integer hash ring as stratified_sample."""
    from clickhouse_25_5_3_75_stable_spark.operators.text import portable_hash64

    c = F.col(key) if isinstance(key, str) else key
    bucket = F.pmod(
        portable_hash64(F.concat(c.cast("string"), F.lit(":epoch"))),
        F.lit(denominator))
    whole = F.lit(int(default_epochs))
    frac_b = F.lit(int(round((default_epochs % 1) * denominator)))
    for s, e in sorted(epochs.items()):
        whole = F.when(F.col(stratum_col) == s, int(e)).otherwise(whole)
        frac_b = F.when(
            F.col(stratum_col) == s,
            int(round((e % 1) * denominator))).otherwise(frac_b)
    n_copies = whole + (bucket < frac_b).cast("int")
    return (
        df.withColumn("__n_copies", n_copies)
        .filter(F.col("__n_copies") > 0)
        .withColumn(
            out_col,
            F.explode(F.sequence(F.lit(0), F.col("__n_copies") - 1)))
        .drop("__n_copies")
    )


def shuffle_stable(
    df: DataFrame, key: str | Column, seed: str = ""
) -> DataFrame:
    """Seeded deterministic GLOBAL shuffle — the final ordering pass
    of a corpus build (decorrelate adjacent documents before
    sharding). A total sort on the portable hash: Spark executes it
    as sample-based range partitioning, the scalable way to totally
    order 100 TB; different `seed` → independent order, same seed →
    byte-identical order on any cluster."""
    from clickhouse_25_5_3_75_stable_spark.operators.text import portable_hash64

    c = F.col(key) if isinstance(key, str) else key
    return df.orderBy(
        portable_hash64(F.concat(c.cast("string"), F.lit(f":{seed}"))),
        c.cast("string"))
