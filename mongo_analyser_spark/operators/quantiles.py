"""Bottom-k quantile sketch: the KMV exactness trick applied to
quantile estimation — a DETERMINISTIC, engine-reproducible,
hash-oracle-able approximate-quantile operator.

Reference parity: none directly (the reference's per-field stats stop at
min/max); this completes the mergeable-sketch family (KMV/HLL distinct,
count-min frequency, Bloom membership) with the quantile member every
profiling engine ships. Public lineage: bottom-k / KMV sketches
(Bar-Yossef et al. 2002; Cohen & Kaplan 2007 "Summarizing data using
bottom-k sketches"); estimating quantiles from a bottom-k uniform sample
is the classic application.

Method: rank every row by an md5-derived 52-bit integer of its unique
key (an engine-exact uniform permutation — the dsir.md5_bucket trick
without the modulus), keep the k smallest ranks. That is a uniform
random sample WITHOUT replacement whose membership is a pure function
of the data — no RNG state, no partition order, no engine dependence.
Quantile estimate = the type-1 (lower) sample quantile: element
ceil(q*n) (1-based, clamped to >= 1) of the sorted sample values.

Exactness contract: ranks are exact 52-bit integers; the bottom-k cut
and its (rank, key) tie-break are total-order deterministic; estimates
are RAW data values (no arithmetic) indexed by ceil(q*n) where q*n is
one IEEE double multiply both engines perform identically — so every
output cell HASH-MATCHES the DuckDB twin bit-for-bit, which neither
t-digest (approx_percentile, declared rows-only in this registry) nor
any RNG-backed sample can offer.

Mergeability (the sketch-family contract, pytest-pinned): the bottom-k
of a union is the bottom-k of the concatenated per-part bottom-k
samples — each part ships at most k (rank, value) rows and the merge is
associative/commutative/idempotent, so a 100-TB ingest can sketch per
partition/day/shard and fold upward.

100-TB shape: the bottom-k cut plans as TakeOrderedAndProject (per-task
top-k heaps + one k-row driver merge — never a global sort; pinned in
tests/test_plans.py); everything after operates on <= k rows. The
accuracy-report twin runs a full exact percentile aggregate as its
validation side — the declared-expensive ground-truth pattern of the
ANN/TF-IDF recall gates, not the production path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_QS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def md5_rank(col: Column) -> Column:
    """Engine-exact uniform rank: first 13 md5 hex chars of the key's
    string form = 52 exact bits. DuckDB twin:
    ``CAST('0x'||substr(md5(CAST(key AS VARCHAR)),1,13) AS UBIGINT)``."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 13), 16, 10
    ).cast("long")


def bottomk_sample(
    df: DataFrame, key_col: str, k: int, value_col: str
) -> DataFrame:
    """(rank, key, v): the k rows with smallest md5 rank (ties broken on
    the key — total order, so the sample is a pure function of the
    data). NULL values are excluded — a quantile is over present
    values, the house A5/A6 convention. Plans as TakeOrderedAndProject."""
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            md5_rank(F.col(key_col)).alias("rank"),
            F.col(key_col).alias("key"),
            F.col(value_col).cast("double").alias("v"),
        )
        .orderBy("rank", "key")
        .limit(k)
    )


def merge_bottomk(parts: list[DataFrame], k: int) -> DataFrame:
    """Fold per-part bottom-k samples into the global one: union, re-cut.
    bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) — the
    mergeable-sketch law, pinned in tests/test_quantiles.py."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("rank", "key").limit(k)


def _quantiles_from_sample(sample: DataFrame, qs) -> DataFrame:
    """(q, est, n) from a (rank, key, v) sample: the sorted sample
    collapses to ONE row (sort_array over <= k values), each q indexes
    element ceil(q*n) — the type-1 lower quantile, every output cell a
    raw data value."""
    agg = sample.agg(
        F.sort_array(F.collect_list("v")).alias("vs"),
        F.count(F.lit(1)).alias("n"),
    )
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    return (
        agg.select(F.explode(qarr).alias("q"), "vs", "n")
        .select(
            "q",
            F.element_at(
                "vs",
                F.greatest(
                    F.lit(1).cast("int"),
                    F.ceil(F.col("q") * F.col("n")).cast("int"),
                ),
            ).alias("est"),
            F.col("n").cast("long").alias("n"),
        )
    )


def bottomk_quantiles(
    df: DataFrame,
    value_col: str,
    key_col: str,
    k: int = 256,
    qs=DEFAULT_QS,
) -> DataFrame:
    """(q, est, n): bottom-k-sample quantile estimates. est cells are
    raw data values, hash-exact cross-engine (see module doc)."""
    return _quantiles_from_sample(bottomk_sample(df, key_col, k, value_col), qs)


def bottomk_quantile_report(
    df: DataFrame,
    value_col: str,
    key_col: str,
    k: int = 256,
    qs=DEFAULT_QS,
    round_to: int = 4,
) -> DataFrame:
    """(q, est, exact_p, abs_err): the accuracy gate — sketch estimate
    vs the EXACT interpolated percentile of the full column (the
    value_percentiles_events ROUND(4) contract), with the error
    computed from the ROUNDED exact value so every cell stays
    engine-deterministic. The exact side is the declared validation
    cost (one full percentile aggregate), the recall-gate pattern."""
    est = bottomk_quantiles(df, value_col, key_col, k, qs)
    q_list = ", ".join(repr(float(q)) for q in qs)
    exact = (
        df.where(F.col(value_col).isNotNull())
        .agg(
            F.expr(f"percentile({value_col}, array({q_list}))").alias("ps")
        )
        .select(
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(float(q)) for q in qs]).alias("q"),
                    F.col("ps").alias("p"),
                )
            ).alias("z")
        )
        .select(
            F.col("z.q").alias("q"),
            F.round(F.col("z.p"), round_to).alias("exact_p"),
        )
    )
    return (
        est.join(exact, "q")
        .select(
            "q",
            "est",
            "exact_p",
            F.round(F.abs(F.col("est") - F.col("exact_p")), round_to).alias(
                "abs_err"
            ),
        )
    )


def grouped_bottomk_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    k: int = 256,
    qs=DEFAULT_QS,
) -> DataFrame:
    """(group, q, est, n): the sketch SHARDED by a group key — per-group
    bottom-k samples and type-1 quantiles, the profiling shape ("value
    percentiles per event type / per source") the global cut can't
    answer.

    The global TakeOrderedAndProject cut becomes one row_number window
    partitioned by the group (a single hash shuffle on the group key;
    per-group state <= k rows), and every determinism property of the
    global sketch carries over unchanged: membership is a pure function
    of the data (md5 ranks, (rank, key) total order), estimates are raw
    data values, the per-group samples merge by the same bottom-k law.
    Groups with fewer than k present values degrade to EXACT type-1
    quantiles (their sample is the whole group)."""
    from pyspark.sql import Window

    w = Window.partitionBy("__g").orderBy("rank", "key")
    sample = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("__g"),
            md5_rank(F.col(key_col)).alias("rank"),
            F.col(key_col).alias("key"),
            F.col(value_col).cast("double").alias("v"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )
    agg = sample.groupBy("__g").agg(
        F.sort_array(F.collect_list("v")).alias("vs"),
        F.count(F.lit(1)).alias("n"),
    )
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    return (
        agg.select("__g", F.explode(qarr).alias("q"), "vs", "n")
        .select(
            F.col("__g").alias(group_col),
            "q",
            F.element_at(
                "vs",
                F.greatest(
                    F.lit(1).cast("int"),
                    F.ceil(F.col("q") * F.col("n")).cast("int"),
                ),
            ).alias("est"),
            F.col("n").cast("long").alias("n"),
        )
    )
