"""Misra-Gries heavy-hitter summary, in the MERGEABLE form (Misra &
Gries 1982; merge law from Agarwal et al., "Mergeable Summaries", PODS
2012) — completes the sketch family next to count-min (point-frequency
OVERestimates, operators/countmin.py), KMV/HLL (distinct counts) and the
bottom-k quantile sketch (operators/quantiles.py). MG is the dual of
count-min: a bounded summary of at most k (item, weight) entries whose
weights are guaranteed UNDERestimates, with a certified deficit bound —
together the two sketches bracket every frequency from both sides.

Determinism (the hash-oracle trick, same family as KMV/bottom-k): the
classical one-pass MG summary depends on stream order, but its
mergeable formulation is order-free — "subtract the (k+1)-th largest
count, keep the positive remainders" applied to EXACT counts is a pure
function of the multiset. We shard items by an md5 hash-group
(``dsir.md5_bucket`` — exact integers in both engines), compress each
shard's exact counts that way (what each reducer of a shuffle-by-item
holds), then merge the ≤ G·k survivors and compress once more to the
final k. Every number is integer algebra over exact counts, so the
whole summary — estimates, deficits, bounds and the guarantee booleans
— hash-matches the DuckDB twin.

Guarantees emitted as columns (the countmin certification contract):

- ``underestimate_ok``: est ≤ exact count, always (weights only ever
  lose mass to the two subtractions);
- ``deficit_ok``: exact − est ≤ t_g + t_final, where t_g is the shard's
  (k+1)-th largest count and t_final the merge's (k+1)-th largest
  weight. Since t_g ≤ N_g/(k+1) and t_final ≤ N/(k+1), any item with
  true frequency above N_g/(k+1) + N/(k+1) is guaranteed present.

100-TB shape: stage 1 is ONE groupBy with map-side combine (the same
shuffle a plain top-k needs); the value of the MG compression is what
leaves the reducers — at most k entries per shard instead of the
shard's full cardinality, so the coordinator merges G·k bounded rows.
The exact side of the certification join exists at fixture scale only;
a production deployment ships the summary alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongo_analyser_spark.operators.dsir import md5_bucket


def mg_summary(
    df: DataFrame,
    key: Column,
    key_name: str,
    k: int = 16,
    n_groups: int = 8,
) -> DataFrame:
    """(key, g, exact_cnt, t_g, weight): per-shard MG compression of the
    exact counts — at most ``k`` surviving entries per shard, each
    weight = count − t_g > 0 with t_g the shard's (k+1)-th largest
    count (0 when the shard holds ≤ k items)."""
    counts = (
        df.select(key.cast("string").alias(key_name))
        .groupBy(key_name)
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .withColumn(
            "g",
            md5_bucket(
                F.concat(F.lit("mg:"), F.col(key_name)), n_groups
            ),
        )
    )
    w = Window.partitionBy("g").orderBy(
        F.desc("exact_cnt"), F.asc(key_name)
    )
    # materialize the bounded ≤ G·(k+1)-row slice ONCE: both consumers
    # below (the rn<=k survivors and the rn==k+1 threshold aggregate)
    # read it, so the corpus groupBy + window never re-runs on exchange-
    # reuse luck (the triangle_counts/minhash discipline)
    ranked = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k + 1)
        .localCheckpoint(eager=False)
    )
    thr = ranked.groupBy("g").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("exact_cnt"))),
            F.lit(0),
        ).alias("t_g")
    )
    return (
        ranked.filter(F.col("rn") <= k)
        .join(thr, "g")
        .withColumn("weight", F.col("exact_cnt") - F.col("t_g"))
        .filter(F.col("weight") > 0)
        .select(key_name, "g", "exact_cnt", "t_g", "weight")
    )


def mg_heavy_hitters(
    df: DataFrame,
    key: Column,
    key_name: str,
    k: int = 16,
    n_groups: int = 8,
) -> DataFrame:
    """Merged final-k summary with certified guarantees:
    (key, mg_est, exact_cnt, deficit, deficit_bound, underestimate_ok,
    deficit_ok), unordered. Items live in exactly
    one md5 shard, so the merge is a union of the shard summaries
    followed by one more compression to ``k`` entries; the final
    row_number window runs over ≤ G·k aggregated rows (shrunk input —
    plans/lint.py's bounded-global-window rule sees the aggregates
    below it)."""
    return mg_merge(mg_summary(df, key, key_name, k, n_groups), key_name, k)


def mg_merge(summ: DataFrame, key_name: str, k: int = 16) -> DataFrame:
    """The final-k compression over per-shard summary rows
    (key, g, exact_cnt, t_g, weight) — split out (round 13) so the
    streaming monitor's emitted shard summaries (streaming/mg_monitor)
    feed the IDENTICAL merge the batch path uses: any source of valid
    shard summaries gets the same certified (mg_est, deficit-bound)
    report."""
    wf = Window.orderBy(F.desc("weight"), F.asc(key_name))
    ranked = summ.withColumn("frn", F.row_number().over(wf))
    t_final = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("frn") == k + 1, F.col("weight"))),
            F.lit(0),
        ).alias("t_final")
    )
    est = F.col("weight") - F.col("t_final")
    deficit = F.col("exact_cnt") - est
    bound = F.col("t_g") + F.col("t_final")
    return (
        ranked.filter(F.col("frn") <= k)
        .crossJoin(F.broadcast(t_final))
        .filter(est > 0)
        .select(
            key_name,
            est.alias("mg_est"),
            "exact_cnt",
            deficit.alias("deficit"),
            bound.alias("deficit_bound"),
            (est <= F.col("exact_cnt")).alias("underestimate_ok"),
            (deficit <= bound).alias("deficit_ok"),
        )
    )
