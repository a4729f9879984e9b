"""The 100-TB plan-safety linter: each hazard class must be detected on
a query that exhibits it and absent on the clean equivalent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_analyser_spark.plans import assert_scale_safe, lint_plan
from mongo_analyser_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def codes(findings, level=None):
    return {f.code for f in findings if level is None or f.level == level}


def test_cartesian_product_is_error(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey")
    ords = load_table(spark, SF, "orders").select("o_orderkey")
    # two sf-proportional sides with no key and no broadcast: Catalyst
    # plans a shuffle CartesianProduct once both exceed the threshold —
    # force it by disabling auto-broadcast within the lint scope
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bad = li.crossJoin(ords)
        found = lint_plan(bad)
        assert "cartesian-product" in codes(found, "error")
        with pytest.raises(ValueError, match="cartesian-product"):
            assert_scale_safe(bad)
        # the escape hatch for reviewed-and-accepted plans
        assert_scale_safe(bad, allow={"cartesian-product"})
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_row_python_udf_is_error_arrow_is_info(spark):
    docs = load_table(spark, SF, "documents")
    slow = F.udf(lambda s: len(s), "int")
    bad = docs.select(slow("text").alias("n"))
    assert "row-python-udf" in codes(lint_plan(bad), "error")

    fast = F.pandas_udf(lambda s: s.str.len(), "int")
    ok = docs.select(fast("text").alias("n"))
    found = lint_plan(ok)
    assert "row-python-udf" not in codes(found)
    assert "arrow-python" in codes(found, "info")


def test_bare_keyed_repartition_into_python_stage_warns(spark):
    """REPARTITION_BY_COL feeding an Arrow Python stage is an AQE
    coalesce target (the round-9 jpeg_pixel_stats 17s finding); an
    explicit-N repartition is exempt and must stay silent."""

    def passthru(batches):
        for p in batches:
            yield p[["doc_id"]]

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    bare = docs.repartition("doc_id").mapInPandas(passthru, "doc_id long")
    assert "coalescible-python-fanout" in codes(lint_plan(bare), "warning")

    explicit = docs.repartition(8, "doc_id").mapInPandas(
        passthru, "doc_id long"
    )
    assert "coalescible-python-fanout" not in codes(lint_plan(explicit))

    # a bare keyed repartition with NO python stage above it stays silent
    jvm_only = docs.repartition("doc_id").select("doc_id")
    assert "coalescible-python-fanout" not in codes(lint_plan(jvm_only))


def test_global_sort_warns_but_take_ordered_does_not(spark):
    ev = load_table(spark, SF, "events")
    assert "global-sort" in codes(lint_plan(ev.orderBy("value")), "warning")
    topk = ev.orderBy(F.desc("value")).limit(10)
    assert "global-sort" not in codes(lint_plan(topk))


def test_clean_registry_query_has_no_errors(spark):
    """The flagship field-stats plan passes the gate it inspired."""
    from mongo_analyser_spark.queries import QUERIES

    q = QUERIES["field_stats_events"](spark, SF)
    findings = assert_scale_safe(q)  # must not raise
    assert "exchanges" in codes(findings, "info")


def test_pushdown_detection(spark):
    """A filter Catalyst can push produces no warning; one hidden behind
    an opaque expression does."""
    docs = load_table(spark, SF, "documents")
    ok = docs.filter(F.col("n_chars") > 100)
    assert "no-pushdown" not in codes(lint_plan(ok))
    opaque = docs.filter(F.md5("text") == F.lit("00"))
    assert "no-pushdown" in codes(lint_plan(opaque), "warning")


def test_unbounded_global_window_is_error(spark):
    """A partition-less window straight over a fact table moves every
    row to one task — error-level (verdict-r6 #2)."""
    from pyspark.sql import Window

    ev = load_table(spark, SF, "events")
    bad = ev.withColumn("rn", F.sum("value").over(Window.orderBy("ts")))
    assert "unbounded-global-window" in codes(lint_plan(bad), "error")
    with pytest.raises(ValueError, match="unbounded-global-window"):
        assert_scale_safe(bad)
    assert_scale_safe(bad, allow={"unbounded-global-window"})


def test_partitioned_window_is_not_flagged(spark):
    from pyspark.sql import Window

    ev = load_table(spark, SF, "events")
    ok = ev.withColumn(
        "rn", F.sum("value").over(Window.partitionBy("user_id").orderBy("ts"))
    )
    assert "unbounded-global-window" not in codes(lint_plan(ok))


def test_bounded_global_window_is_silent(spark):
    """A global window whose input is provably shrunk (aggregate or
    limit below it) is the acceptable shape — the machine check for what
    the five package sites' docstrings promise."""
    from pyspark.sql import Window

    ev = load_table(spark, SF, "events")
    # shrunk by aggregation: cumulative count over a per-type histogram
    hist = ev.groupBy("event_type").count()
    cum = hist.withColumn(
        "cum", F.sum("count").over(Window.orderBy("event_type"))
    )
    assert "unbounded-global-window" not in codes(lint_plan(cum))
    # shrunk by limit
    top = ev.orderBy(F.desc("value")).limit(10)
    ranked = top.withColumn("rn", F.row_number().over(Window.orderBy("value")))
    assert "unbounded-global-window" not in codes(lint_plan(ranked))


def test_package_bounded_window_sites_pass_the_lint(spark):
    """The registry queries that run bounded global windows
    (verdict-r6 #2's five sites: deciles histogram cumulative, sampling
    per-level prefix, packing group-level prefix, clustering seed
    row_number) must pass assert_scale_safe as-is — their bound is now
    machine-checked, not a docstring promise. The one DECLARED
    full-corpus global window (quality_deciles exact ntile twin) needs
    the explicit allow."""
    from mongo_analyser_spark.queries import QUERIES

    for name in (
        "quality_deciles_documents_approx",
        "token_budget_select_documents",
        "pack_sequences_documents",
        "kmeans_step_embeddings",
    ):
        assert_scale_safe(QUERIES[name](spark, SF))

    exact = QUERIES["quality_deciles_documents"](spark, SF)
    with pytest.raises(ValueError, match="unbounded-global-window"):
        assert_scale_safe(exact)
    assert_scale_safe(exact, allow={"unbounded-global-window"})


def test_having_filter_does_not_trip_no_pushdown(spark):
    """ADVICE r6: a post-aggregation HAVING filter can never push down —
    it must not produce the no-pushdown warning (q11-style shape)."""
    ev = load_table(spark, SF, "events")
    having = (
        ev.groupBy("event_type")
        .agg(F.sum("value").alias("total"))
        .filter(F.col("total") > 100)
    )
    assert "no-pushdown" not in codes(lint_plan(having))


def test_subquery_limit_does_not_mask_global_sort(spark):
    """Review finding: a limit INSIDE the plan (subquery top-k) must not
    suppress the warning for an unrelated unbounded global sort above
    it."""
    ev = load_table(spark, SF, "events")
    top_users = (
        ev.groupBy("user_id")
        .count()
        .orderBy(F.desc("count"))
        .limit(5)
        .select("user_id")
    )
    joined = ev.join(top_users, "user_id").orderBy("value")  # unbounded sort
    assert "global-sort" in codes(lint_plan(joined), "warning")


def test_entire_registry_is_scale_safe(spark):
    """EVERY registered query's physical plan passes the 100-TB linter
    with zero error-level findings — no shuffle cartesians, no
    row-at-a-time Python UDFs, no partition-less windows over un-shrunk
    input — except the single DECLARED full-corpus global window (the
    exact-deciles oracle twin, whose _approx sibling is the scale
    default). A new query that ships a cluster-killer plan fails here,
    not on the cluster.

    It also pins the ordering contract: a registry row returns an
    unordered multiset, so no row may plan a global sort without a
    limit (``global-sort``). Order is kept only where it is the
    semantics — orderBy+limit (TakeOrderedAndProject) and window
    orderBy, neither of which trips the check."""
    from mongo_analyser_spark.queries import QUERIES

    DECLARED = {"quality_deciles_documents": {"unbounded-global-window"}}
    offenders = {}
    for name, fn in QUERIES.items():
        bad = {
            f.code
            for f in lint_plan(fn(spark, SF))
            if f.level == "error" or f.code == "global-sort"
        }
        if bad - DECLARED.get(name, set()):
            offenders[name] = sorted(bad)
    assert not offenders, offenders


def test_unfanned_hof_and_python_stages_get_info_findings(spark):
    """The round-9 char_entropy signature: a lambda-dense HOF projection
    (or a Python stage) with no shuffle below inherits the scan's
    file-split parallelism — one task over a single small file. Both
    findings are INFO (a static linter cannot price per-row cost; the
    bench gate does), and an explicit-N repartition silences the HOF
    one."""
    import pandas as pd
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(10)], "doc_id long, text string"
    )
    sc = F.array_sort(F.split("text", " "))
    heavy = docs.withColumn("__sc", sc).select(
        "doc_id",
        F.aggregate(
            F.filter(
                F.transform(F.col("__sc"), lambda x: F.length(x)),
                lambda n: n > 0,
            ),
            F.lit(0),
            lambda a, b: a + b,
        ).alias("s"),
    )
    codes = {f.code for f in lint_plan(heavy)}
    assert "hof-over-unfanned-scan" in codes

    fanned = docs.repartition(8, "doc_id").withColumn("__sc", sc).select(
        "doc_id",
        F.aggregate(
            F.filter(
                F.transform(F.col("__sc"), lambda x: F.length(x)),
                lambda n: n > 0,
            ),
            F.lit(0),
            lambda a, b: a + b,
        ).alias("s"),
    )
    codes = {f.code for f in lint_plan(fanned)}
    assert "hof-over-unfanned-scan" not in codes

    def ident(batches):
        for pdf in batches:
            yield pdf

    py = docs.mapInPandas(ident, "doc_id long, text string")
    codes = {f.code for f in lint_plan(py)}
    assert "python-over-unfanned-scan" in codes
    py_fanned = docs.repartition(8, "doc_id").mapInPandas(
        ident, "doc_id long, text string"
    )
    codes = {f.code for f in lint_plan(py_fanned)}
    assert "python-over-unfanned-scan" not in codes


def test_hof_inline_producer_rule(spark):
    """Round-11 rule: a producer expression inside a lambda body (no
    CSE across element probes — superlinear in value LENGTH) is
    flagged; the staged form (producer as the HOF's input or a
    materialized column) is not."""
    from pyspark.sql import functions as F

    from mongo_analyser_spark.plans.lint import lint_plan

    df = spark.createDataFrame([("a b c",)], "text string")
    # BAD: split(text) re-evaluated per element probe inside the lambda
    bad = df.select(
        F.transform(
            F.sequence(F.lit(1), F.lit(3)),
            lambda i: F.element_at(F.split("text", " "), i),
        ).alias("xs")
    )
    assert any(f.code == "hof-inline-producer" for f in lint_plan(bad))
    # GOOD: producer is the HOF's input argument (evaluated once)
    good = df.select(
        F.transform(F.split("text", " "), lambda x: F.upper(x)).alias("xs")
    )
    assert not any(f.code == "hof-inline-producer" for f in lint_plan(good))


def test_loop_invariant_producer_is_error(spark):
    """Round-15 rule (verdict-r14 #3): the O(d²)-per-row class that
    shipped three times (kmeans norm r13, char_entropy r10, quantize
    r14) — a producer inside a lambda body referencing NONE of the
    lambda's own variables is loop-invariant, re-runs per element probe
    (no CSE in interpreted HOFs), and is flagged at ERROR level. The
    fixture is the exact round-14 quantize_int8 bug shape."""
    import pytest

    from mongo_analyser_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -3.0, 2.0]), (2, [0.5, 0.25, 4.0])],
        "id long, v array<double>",
    )
    # BAD: the per-vector scale (an O(d) array_max reduction) inlined in
    # the quantizing lambda — re-evaluated per element, O(d²)/row
    bad = df.select(
        "id",
        F.transform(
            F.col("v"),
            lambda x: F.floor(
                x / (F.array_max(F.transform("v", F.abs)) / F.lit(127.0))
                + F.lit(0.5)
            ).cast("int"),
        ).alias("q"),
    )
    errs = codes(lint_plan(bad), "error")
    assert "hof-loop-invariant-producer" in errs
    with pytest.raises(ValueError, match="hof-loop-invariant-producer"):
        assert_scale_safe(bad)

    # GOOD: the shipped fix — scale materialized in its own projection
    # (referenced twice, so CollapseProject keeps it staged); the lambda
    # reads a column slot, no producer call in its body
    fixed = quantize_int8(df, "id", "v")
    assert "hof-loop-invariant-producer" not in codes(lint_plan(fixed))

    # CONSUMER exemption: a producer that READS the lambda variable is
    # legitimate per-element work (the IVF LUT-score shape) — not
    # loop-invariant, must stay silent
    consumer = df.select(
        F.transform(
            F.col("v"),
            lambda x: F.aggregate(
                F.array(x, x * x), F.lit(0.0), lambda a, b: a + b
            ),
        ).alias("s")
    )
    assert "hof-loop-invariant-producer" not in codes(lint_plan(consumer))

    # NESTED-HOF case: an inner HOF whose extent never references the
    # OUTER lambda's variable re-runs whole per outer element — flagged
    # even though it references its own inner variable
    nested = df.select(
        F.transform(
            F.sequence(F.lit(1), F.lit(3)),
            lambda i: F.size(F.filter(F.col("v"), lambda y: y > 0)) + i,
        ).alias("c")
    )
    assert "hof-loop-invariant-producer" in codes(lint_plan(nested), "error")

    # CLOSURE exemption: an inner HOF whose inner body reads the outer
    # variable legitimately re-runs per outer element — silent
    closure = df.select(
        F.transform(
            F.col("v"),
            lambda x: F.size(F.filter(F.col("v"), lambda y: y > x)),
        ).alias("c")
    )
    assert "hof-loop-invariant-producer" not in codes(lint_plan(closure))
