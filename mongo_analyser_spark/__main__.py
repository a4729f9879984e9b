"""Headless CLI entry point (reference mongo_analyser/__main__.py:1-162):
argument parsing, env-var overrides, and app-data-dir / config wiring —
but driving the Spark engine over parquet collection directories instead
of launching a Textual TUI (explicitly out of scope per SURVEY).

    python -m mongo_analyser_spark analyze --data DIR --collection NAME
    python -m mongo_analyser_spark export  --data DIR --collection NAME \
        --format csv|json|jsonl|parquet --out PATH
    python -m mongo_analyser_spark stats   --data DIR

Env parity with the reference CLI: MONGO_ANALYSER_HOME_DIR seeds
--app-data-dir (:27-36), SPARK_GRAFT_CPUS sizes the local session, and
failures exit 1 with the error on stderr (:136-160).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path


def _json_default(v):
    # stats artifacts carry datetimes/Decimals out of Spark rows
    return str(v)


def _build_parser() -> argparse.ArgumentParser:
    from mongo_analyser_spark import __version__

    parser = argparse.ArgumentParser(
        prog="mongo_analyser_spark",
        description=(
            "Spark-native collection analyzer — schema inference, per-field "
            "statistics, and typed export over parquet collection dirs."
        ),
    )
    parser.add_argument(
        "--version", action="version",
        version=f"mongo_analyser_spark {__version__}",
    )
    parser.add_argument(
        "--app-data-dir",
        dest="app_data_dir",
        default=os.getenv("MONGO_ANALYSER_HOME_DIR"),
        help="Config/exports home (also env MONGO_ANALYSER_HOME_DIR).",
    )
    parser.add_argument(
        "--cpus", type=int, default=None,
        help="local[N] parallelism (default: env SPARK_GRAFT_CPUS or all cores)",
    )

    sub = parser.add_subparsers(dest="command", required=True)

    def add_common(p, collection_required=True):
        p.add_argument("--data", required=True, help="directory of <name>.parquet collections")
        p.add_argument(
            "--collection", required=collection_required,
            help="collection name (file stem) inside --data",
        )
        p.add_argument("--out", default=None, help="output path (default: stdout)")

    p_an = sub.add_parser("analyze", help="schema + per-field stats artifact (JSON)")
    add_common(p_an)
    p_an.add_argument("--sample-size", type=int, default=None,
                      help="analyze only the first N rows (reference sampled inference); "
                           "default: configured sample size, -1 = full scan")
    p_an.add_argument("--approx", action="store_true",
                      help="HLL distinct counts instead of exact (the 100 TB default)")
    p_an.add_argument("--top-k", type=int, default=5)

    p_ex = sub.add_parser("export", help="write the collection through a typed sink")
    add_common(p_ex)
    p_ex.add_argument("--format", choices=["csv", "json", "jsonl", "parquet"],
                      default="jsonl")
    p_ex.add_argument("--limit", type=int, default=None)
    p_ex.add_argument("--partition-by", default=None,
                      help="comma-separated partition columns (parquet only)")

    p_st = sub.add_parser("stats", help="collection catalog: names, rows, schema width")
    add_common(p_st, collection_required=False)

    p_li = sub.add_parser(
        "lint", help="100-TB plan-safety report for a registered query"
    )
    p_li.add_argument("--data", required=True, help="directory of <name>.parquet collections")
    p_li.add_argument("--query", required=True,
                      help="registry query name (see __spark_entry__.queries())")
    p_li.add_argument("--out", default=None, help="output path (default: stdout)")
    p_li.add_argument("--strict", action="store_true",
                      help="exit 1 on any error-level finding")

    p_tk = sub.add_parser(
        "tokens",
        help="token accounting for a text column: whitespace vs "
        "tokenizer-exact BPE counts (the training-budget numbers)",
    )
    add_common(p_tk)
    p_tk.add_argument("--text-col", default="text")
    p_tk.add_argument(
        "--train-merges", type=int, default=None,
        help="train a fresh merge table of this size on the collection "
        "instead of using the committed fixture",
    )

    p_dr = sub.add_parser(
        "drift",
        help="schema drift report: per-(path, observed-type) histogram "
        "diff between two collections (added/removed/stable)",
    )
    p_dr.add_argument("--data", required=True,
                      help="directory of <name>.parquet collections")
    p_dr.add_argument("--collection", required=True, help="the OLD era")
    p_dr.add_argument("--against", required=True, help="the NEW era")
    p_dr.add_argument("--out", default=None, help="output path (default: stdout)")

    p_qt = sub.add_parser(
        "quantiles",
        help="deterministic bottom-k quantile sketch for a numeric "
        "column, optionally per group",
    )
    add_common(p_qt)
    p_qt.add_argument("--value-col", default="value")
    p_qt.add_argument("--key-col", required=True,
                      help="unique row key the md5 sample ranks on")
    p_qt.add_argument("--by", default=None, help="optional group column")
    p_qt.add_argument("--k", type=int, default=256, help="sample size")
    p_qt.add_argument(
        "--q", default="0.25,0.5,0.75,0.9",
        help="comma-separated quantiles (default 0.25,0.5,0.75,0.9)",
    )

    p_md = sub.add_parser(
        "media",
        help="multimodal feature extraction over a binary payload "
        "column: container headers, real pixel stats (PNG/BMP/baseline-"
        "JPEG), sampled multi-frame luma (APNG/GIF), or audio features "
        "(PCM16/float32 WAV)",
    )
    add_common(p_md)
    p_md.add_argument("--id-col", default="doc_id")
    p_md.add_argument("--payload-col", required=True,
                      help="binary column holding the media bytes")
    p_md.add_argument(
        "--kind", choices=["headers", "pixels", "frames", "audio"],
        default="headers",
    )
    p_md.add_argument("--frames-k", type=int, default=4,
                      help="sampled frames per clip (kind=frames)")
    p_md.add_argument("--limit", type=int, default=100,
                      help="max result rows collected into the report")

    p_ds = sub.add_parser(
        "distinct",
        help="theta/KMV distinct sketches per group, with optional "
        "pairwise overlap estimates (union/intersection/Jaccard) — "
        "cross-source duplication without ever joining the corpora",
    )
    add_common(p_ds)
    p_ds.add_argument("--by", required=True, help="group column")
    p_ds.add_argument("--item-col", required=True,
                      help="the column whose distinct values are counted")
    p_ds.add_argument("--k", type=int, default=128, help="sketch size")
    p_ds.add_argument("--overlaps", action="store_true",
                      help="also report pairwise set-overlap estimates")
    return parser


def _emit(payload: dict, out: str | None) -> None:
    text = json.dumps(payload, indent=2, sort_keys=True, default=_json_default)
    if out:
        Path(out).parent.mkdir(parents=True, exist_ok=True)
        Path(out).write_text(text + "\n")
    else:
        print(text)


def cmd_analyze(args, spark) -> dict:
    from mongo_analyser_spark import ConfigManager, Engine
    from mongo_analyser_spark.sources.parquet import load_table

    config = None
    if args.app_data_dir:
        config = ConfigManager(base_app_data_dir_override=Path(args.app_data_dir))
    engine = Engine(spark, config=config)
    df = load_table(spark, args.data, args.collection)
    sample = args.sample_size
    if sample is not None and sample <= 0:
        sample = None  # reference's -1 = full scan
        engine.config = None  # don't let config re-impose a sample
    artifact = {
        "collection": args.collection,
        "schema": engine.infer_schema(df),
        "hierarchical_schema": engine.infer_hierarchical_schema(df),
        "field_stats": engine.analyze(
            df, sample_size=sample, approx=args.approx, top_k=args.top_k
        ),
    }
    _emit(artifact, args.out)
    return artifact


def cmd_export(args, spark) -> dict:
    from mongo_analyser_spark.sinks.export import (
        export_csv,
        export_json,
        export_json_array_gz,
        export_parquet,
    )
    from mongo_analyser_spark.sources.parquet import load_table

    if not args.out:
        raise SystemExit("export requires --out PATH")
    df = load_table(spark, args.data, args.collection)
    if args.limit:
        df = df.limit(args.limit)
    if args.format == "csv":
        export_csv(df, args.out)
    elif args.format == "jsonl":
        export_json(df, args.out)
    elif args.format == "json":
        export_json_array_gz(df, args.out)
    else:
        parts = args.partition_by.split(",") if args.partition_by else None
        export_parquet(df, args.out, partition_by=parts)
    summary = {"collection": args.collection, "format": args.format, "out": args.out}
    print(json.dumps(summary), file=sys.stderr)
    return summary


def cmd_stats(args, spark) -> dict:
    from mongo_analyser_spark.sources.parquet import list_collections, load_table

    names = [r["name"] for r in list_collections(spark, args.data).collect()]
    if args.collection:
        names = [n for n in names if n == args.collection]
        if not names:
            raise SystemExit(f"no collection {args.collection!r} in {args.data}")
    collections = {}
    for n in names:
        df = load_table(spark, args.data, n)
        collections[n] = {"rows": df.count(), "n_fields": len(df.schema.fields)}
    payload = {"data_dir": args.data, "collections": collections}
    _emit(payload, args.out)
    return payload


def cmd_lint(args, spark) -> dict:
    from mongo_analyser_spark.plans import lint_plan
    from mongo_analyser_spark.queries import QUERIES

    if args.query not in QUERIES:
        raise SystemExit(f"no query {args.query!r} in the registry")
    findings = lint_plan(QUERIES[args.query](spark, args.data))
    payload = {
        "query": args.query,
        "findings": [
            {"level": f.level, "code": f.code, "message": f.message}
            for f in findings
        ],
    }
    _emit(payload, args.out)
    if args.strict and any(f.level == "error" for f in findings):
        raise SystemExit(1)
    return payload


def cmd_tokens(args, spark) -> dict:
    """Corpus token accounting: one aggregate over the Arrow BPE stage —
    the pre-flight a token-budgeted curation run starts from."""
    from pyspark.sql import functions as F

    from mongo_analyser_spark.functions.bpe import (
        load_fixture_merges,
        train_bpe,
        with_bpe_token_count,
    )
    from mongo_analyser_spark.functions.text import token_count
    from mongo_analyser_spark.sources.parquet import load_table

    df = load_table(spark, args.data, args.collection)
    if args.train_merges:
        merges = train_bpe(df, args.text_col, num_merges=args.train_merges)
    else:
        merges = load_fixture_merges()
    counted = with_bpe_token_count(
        df.select(
            token_count(args.text_col).cast("long").alias("n_ws"),
            F.col(args.text_col),
        ),
        args.text_col,
        merges,
        "n_bpe",
    )
    row = counted.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_ws").alias("ws_tokens"),
        F.sum("n_bpe").alias("bpe_tokens"),
        F.max("n_bpe").alias("max_doc_bpe_tokens"),
    ).collect()[0]
    payload = {
        "collection": args.collection,
        "text_col": args.text_col,
        "merge_table": (
            f"trained({args.train_merges})" if args.train_merges else "fixture"
        ),
        "num_merges": len(merges),
        "docs": row["docs"],
        "ws_tokens": row["ws_tokens"],
        "bpe_tokens": row["bpe_tokens"],
        "bpe_to_ws_ratio": (
            round(row["bpe_tokens"] / row["ws_tokens"], 4)
            if row["ws_tokens"]
            else None
        ),
        "max_doc_bpe_tokens": row["max_doc_bpe_tokens"],
    }
    _emit(payload, args.out)
    return payload


def cmd_drift(args, spark) -> dict:
    """Per-(path, observed-type) histogram diff between two collections
    — the monitoring form of schema inference (the
    schema_drift_events registry row generalized to any two eras)."""
    from pyspark.sql import functions as F

    from mongo_analyser_spark.operators.field_stats import type_histogram
    from mongo_analyser_spark.sources.parquet import load_table

    old = type_histogram(load_table(spark, args.data, args.collection))
    new = type_histogram(load_table(spark, args.data, args.against))
    j = (
        old.withColumnRenamed("cnt", "n_old")
        .join(
            new.withColumnRenamed("cnt", "n_new"),
            ["field", "type_tag"],
            "full_outer",
        )
        .select(
            "field",
            "type_tag",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            F.when(F.col("n_old").isNull(), "added")
            .when(F.col("n_new").isNull(), "removed")
            .otherwise("stable")
            .alias("status"),
        )
        .orderBy("field", "type_tag")
    )
    rows = [r.asDict() for r in j.collect()]
    payload = {
        "old": args.collection,
        "new": args.against,
        "drift": rows,
        "n_added": sum(1 for r in rows if r["status"] == "added"),
        "n_removed": sum(1 for r in rows if r["status"] == "removed"),
    }
    _emit(payload, args.out)
    return payload


def cmd_quantiles(args, spark) -> dict:
    """Bottom-k quantile sketch (operators/quantiles.py): deterministic,
    mergeable, exact below k — global or per group."""
    from mongo_analyser_spark.operators.quantiles import (
        bottomk_quantiles,
        grouped_bottomk_quantiles,
    )
    from mongo_analyser_spark.sources.parquet import load_table

    qs = tuple(float(x) for x in args.q.split(","))
    df = load_table(spark, args.data, args.collection)
    if args.by:
        out = grouped_bottomk_quantiles(
            df, args.by, args.value_col, args.key_col, args.k, qs
        )
    else:
        out = bottomk_quantiles(df, args.value_col, args.key_col, args.k, qs)
    # the operators return unordered rows: order by (group, q) here,
    # null groups first as Spark's ascending sort would
    rows = [r.asDict() for r in out.collect()]
    if args.by:
        rows.sort(key=lambda r: (r[args.by] is not None, r[args.by], r["q"]))
    else:
        rows.sort(key=lambda r: r["q"])
    payload = {
        "collection": args.collection,
        "value_col": args.value_col,
        "k": args.k,
        "by": args.by,
        "quantiles": rows,
    }
    _emit(payload, args.out)
    return payload


def cmd_media(args, spark) -> dict:
    """Multimodal feature extraction over an opaque binary column — the
    CLI face of the decode / pixel / frame-sample / audio operators
    (operators/multimodal.py, pixels.py, frames.py, audio.py)."""
    from pyspark.sql import functions as F

    from mongo_analyser_spark.operators.multimodal import pack_media
    from mongo_analyser_spark.sources.parquet import load_table

    df = load_table(spark, args.data, args.collection).select(
        F.col(args.id_col),
        pack_media(F.col(args.payload_col), "application/octet-stream").alias(
            "media"
        ),
    )
    if args.kind == "headers":
        from mongo_analyser_spark.operators.multimodal import (
            extract_media_features,
        )

        out = extract_media_features(df, args.id_col, "media", decoder="real")
    elif args.kind == "pixels":
        from mongo_analyser_spark.operators.multimodal import (
            extract_pixel_stats,
        )

        out = extract_pixel_stats(df, args.id_col, "media")
    elif args.kind == "frames":
        from mongo_analyser_spark.operators.multimodal import (
            frame_pixel_sample,
        )

        out = frame_pixel_sample(df, args.id_col, "media", k=args.frames_k)
    else:  # audio
        import pandas as pd  # noqa: F401

        from mongo_analyser_spark.operators.audio import (
            audio_multichannel_features,
        )

        narrowed = df.select(
            args.id_col, F.col("media").getField("data").alias("__data")
        ).repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
            args.id_col,
        )

        def run(batches):
            import pandas as pd

            for pdf in batches:
                rows = []
                for rid, payload in zip(pdf[args.id_col], pdf["__data"]):
                    for ft in audio_multichannel_features(bytes(payload)):
                        rows.append(
                            (rid, ft["channel"], ft["n_samples"],
                             ft["mean"], ft["rms"], ft["peak"],
                             ft["zero_crossings"])
                        )
                yield pd.DataFrame(
                    rows,
                    columns=[args.id_col, "channel", "n_samples", "mean",
                             "rms", "peak", "zero_crossings"],
                )

        out = narrowed.mapInPandas(
            run,
            f"{args.id_col} long, channel int, n_samples int, mean double,"
            " rms double, peak double, zero_crossings int",
        )
    rows = out.orderBy(args.id_col).limit(args.limit).collect()
    payload = {
        "collection": args.collection,
        "kind": args.kind,
        "rows": [r.asDict() for r in rows],
    }
    _emit(payload, args.out)
    return payload


def cmd_distinct(args, spark) -> dict:
    """Theta/KMV sketch surface (operators/theta.py): per-group distinct
    estimates, optionally with pairwise overlap estimates — all bounded
    sketch-array algebra, the corpora never join."""
    from pyspark.sql import functions as F

    from mongo_analyser_spark.operators.theta import (
        theta_pair_overlap,
        theta_sketches,
    )
    from mongo_analyser_spark.sources.parquet import load_table

    df = load_table(spark, args.data, args.collection)
    sk = theta_sketches(df, args.by, F.col(args.item_col), args.k)
    sk_rows = sk.select(
        "group", "n_sketch", "theta", "est_distinct"
    ).orderBy("group").collect()
    payload = {
        "collection": args.collection,
        "by": args.by,
        "item_col": args.item_col,
        "k": args.k,
        "groups": [r.asDict() for r in sk_rows],
    }
    if args.overlaps:
        ov = theta_pair_overlap(sk, args.k).orderBy("group_a", "group_b")
        payload["overlaps"] = [r.asDict() for r in ov.collect()]
    _emit(payload, args.out)
    return payload


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from mongo_analyser_spark import get_spark

    try:
        spark = get_spark("mongo_analyser_spark_cli", cpus=args.cpus)
        {"analyze": cmd_analyze, "export": cmd_export, "stats": cmd_stats,
         "lint": cmd_lint, "tokens": cmd_tokens, "drift": cmd_drift,
         "quantiles": cmd_quantiles, "media": cmd_media,
         "distinct": cmd_distinct}[
            args.command
        ](args, spark)
    except SystemExit:
        raise
    except Exception as e:  # reference __main__.py:136-160: report, exit 1
        print(f"ERROR: {type(e).__name__}: {e}", file=sys.stderr)
        if os.getenv("MONGO_ANALYSER_CLI_DEBUG"):
            import traceback

            traceback.print_exc(file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
