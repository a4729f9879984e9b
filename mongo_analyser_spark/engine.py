"""Engine facade: the reference's `SchemaAnalyser` surface
(mongo_analyser/core/analyser.py) as driver-side artifacts computed by
Spark jobs. Returns the reference-shaped dict artifacts (flat schema,
hierarchical schema, per-field stats) so behavior is directly comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from mongo_analyser_spark.types import ref_type_label, schema_to_hierarchical


class Engine:
    """`Engine(spark)` — analysis entry points over any DataFrame.

    An optional ``config`` (ConfigManager or anything with .get_setting)
    supplies the reference's configured defaults: with one attached,
    ``analyze`` samples ``schema_analysis_default_sample_size`` docs like
    the reference's default-1000 inference (config_manager.py:30,
    analyser.py:254-257); without one, analysis is a full scan (the
    reference's sample_size=-1), which is the honest default for an
    engine whose aggregates are distributed anyway."""

    def __init__(self, spark: SparkSession, config=None):
        self.spark = spark
        self.config = config

    # -- schema inference (reference infer_schema_and_field_stats) --------

    def infer_schema(
        self, df: DataFrame, json_cols: dict[str, T.StructType] | None = None
    ) -> dict[str, dict]:
        """Flat {dotted_path: {"type": label}} schema, sorted by path
        (analyser.py:320-321). On the typed substrate this is static; JSON
        document columns contribute their parsed leaves."""
        out: dict[str, dict] = {}

        def walk(prefix: str, dtype: T.DataType) -> None:
            out[prefix] = {"type": ref_type_label(dtype)}
            if isinstance(dtype, T.StructType):
                for f in dtype.fields:
                    walk(f"{prefix}.{f.name}", f.dataType)

        json_cols = json_cols or {}
        for f in df.schema.fields:
            if f.name in json_cols:
                out[f.name] = {"type": "dict"}
                for sub in json_cols[f.name].fields:
                    walk(f"{f.name}.{sub.name}", sub.dataType)
            else:
                walk(f.name, f.dataType)
        return dict(sorted(out.items()))

    def infer_hierarchical_schema(
        self, df: DataFrame, json_cols: dict[str, T.StructType] | None = None
    ) -> dict:
        return schema_to_hierarchical(self.infer_schema(df, json_cols))

    def infer_schema_dynamic(
        self, df: DataFrame, doc_col: str, max_depth: int = 4
    ) -> dict[str, dict]:
        """Schema inference over a JSON document column with NO
        predeclared schema (the reference's true dynamic mode,
        analyser.py:242-322): dotted paths discovered engine-side via
        variant_explode, elected type = most common per path, full
        observed-type histogram included. Returns the same flat
        {path: {"type", "count", "type_distribution"}} artifact shape,
        keyed in path order."""
        from mongo_analyser_spark.operators.melt_variant import infer_schema_variant

        rows = infer_schema_variant(df, doc_col, max_depth=max_depth).collect()
        return {
            r["path"]: {
                "type": r["type"],
                "count": r["n_docs"],
                "type_distribution": dict(r["type_distribution"]),
            }
            for r in sorted(rows, key=lambda r: r["path"])
        }

    # -- extension UDF registration (SURVEY §2.10 [EXT]) ------------------

    def register_pandas_udf(self, name: str, fn, return_type="double"):
        """Register an Arrow-batched pandas UDF under ``name`` in the
        session's SQL function registry, so user extensions (custom
        quality scorers, tokenizers, decoders) slot into both
        ``spark.sql`` text and DataFrame code (via the returned callable
        or ``F.call_udf(name, ...)``) without touching engine internals.

        This is the PREFERRED extension point: batches cross the
        JVM↔Python boundary as Arrow columns and ``fn`` runs vectorized
        over pandas Series — the engine itself stays UDF-free, and
        anything expressible with built-in column functions should stay
        that way (they run JVM-side inside whole-stage codegen).

        ``fn`` may already be a ``@pandas_udf``-decorated function (its
        declared return type wins) or a plain ``pd.Series -> pd.Series``
        callable, wrapped here with ``return_type``."""
        from pyspark.sql import functions as F

        udf = fn if hasattr(fn, "returnType") else F.pandas_udf(fn, return_type)
        return self.spark.udf.register(name, udf)

    def register_udf(self, name: str, fn, return_type="string"):
        """Row-at-a-time Python UDF registration — the last-resort escape
        hatch for logic that is genuinely per-row and non-vectorizable
        (10-100× slower than ``register_pandas_udf``; never used by the
        engine's own operators). Same registry semantics as
        ``register_pandas_udf``."""
        from pyspark.sql import functions as F

        udf = fn if hasattr(fn, "returnType") else F.udf(fn, return_type)
        return self.spark.udf.register(name, udf)

    # -- random sampling (reference $sample, analyser.py:254-257) ---------

    @staticmethod
    def sample(df: DataFrame, n: int, seed: int | None = None) -> DataFrame:
        """Uniform random exact-N sample — the reference's `$sample` stage.

        ``orderBy(rand(seed)).limit(n)`` plans as TakeOrderedAndProject:
        each partition keeps its local top-n by the random key and only
        those n-row heads merge on the driver — no global sort, no
        shuffle of the full table, safe at 100 TB for driver-sized n.
        Seeded = reproducible; the engine's oracle-checkable sample stays
        the deterministic modulo query (queries.py sample_events_*) since
        rand() streams differ across engines by construction."""
        from pyspark.sql import functions as F

        r = F.rand(seed) if seed is not None else F.rand()
        return df.orderBy(r).limit(n)

    @staticmethod
    def sample_fraction(
        df: DataFrame, fraction: float, seed: int | None = None
    ) -> DataFrame:
        """Per-row Bernoulli sample (approximate count n*fraction): zero
        shuffle, zero ordering — the cheapest possible scan-time sample,
        preferred at scale when exact N is not required."""
        return df.sample(fraction=fraction, seed=seed) if seed is not None else df.sample(
            fraction=fraction
        )

    # -- field stats (reference finalize, analyser.py:269-322) ------------

    def analyze(
        self,
        df: DataFrame,
        json_cols: dict[str, T.StructType] | None = None,
        sample_size: int | None = None,
        approx: bool = False,
        top_k: int = 5,
        persist: bool = True,
    ) -> dict[str, dict]:
        """Reference-shaped per-field stats dict. ``sample_size`` mirrors
        the reference's sampled inference (analyser.py:254-257) via
        df.limit; None = full scan (sample_size=-1 in the reference).

        The three aggregations (stats / type histogram / top-k values)
        share ONE melted DataFrame persisted MEMORY_AND_DISK for the
        duration of the call — one source scan instead of three; the
        melted form is skinny (6 columns) and spills rather than OOMs at
        scale. Set ``persist=False`` to trade two extra scans for zero
        executor storage."""
        from pyspark import StorageLevel

        from mongo_analyser_spark.operators.field_stats import (
            _histogram_agg,
            _stats_agg,
            _top_values_agg,
        )
        from mongo_analyser_spark.operators.melt import melt

        if sample_size is None and self.config is not None:
            sample_size = self.config.get_setting("schema_analysis_default_sample_size")
        if sample_size is not None and sample_size > 0:
            df = df.limit(sample_size)
        melted = melt(df, json_cols)
        if persist:
            melted = melted.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            stats_rows = _stats_agg(melted, approx=approx).collect()
            hist_rows = _histogram_agg(melted).collect()
            top_rows = _top_values_agg(melted, k=top_k).collect()
        finally:
            if persist:
                melted.unpersist()

        hist: dict[str, dict[str, int]] = {}
        for r in hist_rows:
            hist.setdefault(r["field"], {})[r["type_tag"]] = r["cnt"]
        tops: dict[str, dict[str, int]] = {}
        for r in sorted(top_rows, key=lambda r: (r["field"], r["rnk"])):
            tops.setdefault(r["field"], {})[r["value"]] = r["cnt"]

        out: dict[str, dict] = {}
        for r in stats_rows:
            d: dict = {
                "count": r["cnt"],
                "missing_percentage": r["missing_pct"],
                "cardinality": r["distinct_cnt"],
                "type_distribution": dict(
                    sorted(
                        hist.get(r["field"], {}).items(), key=lambda kv: (-kv[1], kv[0])
                    )[:5]
                ),
            }
            if r["min_num"] is not None:
                d["min"], d["max"] = r["min_num"], r["max_num"]
            if r["min_ts"] is not None:
                d["min_date"], d["max_date"] = r["min_ts"], r["max_ts"]
            if r["field"] in tops:
                d["top_values"] = tops[r["field"]]
            out[r["field"]] = d
        return dict(sorted(out.items()))
