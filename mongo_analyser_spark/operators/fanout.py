"""Adaptive explicit-N fanout for per-row-expensive Python stages
(round-13, verdict-r12 #4 — the many-FILE axis).

The explicit-N repartition before every codec/text mapInPandas stage
exists because the TOY fixtures are single-file parquet: the scan gives
ONE partition and the Python stage serializes (round-9 char_entropy ran
17.1 s single-task vs 1.7 s fanned out; plans/lint.py pins the pattern).
But the repartition was UNCONDITIONAL — and at a real 100-TB layout the
scan parallelism is the file/split count (thousands), where the same
repartition is an EXTRA full shuffle of the payload bytes for zero
parallelism gain.

``fanout_for_python`` keeps the local-fixture behavior and removes the
scale waste: it reads the OBSERVED scan partition count off the physical
plan (no job — ``df.rdd`` materializes the plan, not the data) and skips
the shuffle when the scan already saturates the executor parallelism.

Env override ``SPARK_GRAFT_FANOUT`` = ``auto`` (default) | ``always`` |
``never`` — the A/B lever tools/scale_probe.py --many-files uses to
measure both branches on a many-file layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def fanout_for_python(df: DataFrame, *key_cols: str) -> DataFrame:
    """Explicit-N repartition (AQE-coalesce-exempt) before a per-row-
    HEAVY stage — a Python codec batch or a hash/expression-dense JVM
    projection (md5-per-gram signature passes, shingle builds) —
    SKIPPED when the scan already provides at least the cluster's
    default parallelism in input splits. Key columns default to
    ``doc_id`` — the keys only spread rows (the downstream stages are
    per-row transforms or map-side partial aggregations), so skipping
    never changes results.

    r16: the single-row-group fixture files plan ONE scan task, so any
    map-side-heavy expression chain serialized on one core regardless
    of ``local[N]`` (measured: the minhash signature pass 2.80 →
    1.27 s and the full LSH+verify chain 3.40 → 1.06 s at sf0.1 with
    the fanout, outputs identical). On a production table the scan
    splits naturally and the auto probe skips the shuffle."""
    keys = key_cols or ("doc_id",)
    mode = os.environ.get("SPARK_GRAFT_FANOUT", "auto")
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if mode == "never":
        return df
    if mode == "auto":
        try:
            observed = df.rdd.getNumPartitions()
        except Exception:
            observed = 0  # exotic plan: keep the safe fanout
        if observed >= spark.sparkContext.defaultParallelism:
            return df
    return df.repartition(n, *keys)

