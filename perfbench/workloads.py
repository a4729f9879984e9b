"""The benchmark's three workloads.

All three are closed loops with one client: the next call starts when
the previous one has returned and been checked. Each workload turns the
seed into its input files (``gen.py``) before the Spark session starts;
the program sees only those files.

* ``analyst`` repeats the reference's per-collection analysis against
  one collection set, so the engine's per-process caches stay warm.
* ``corpus_pipeline`` runs the pipeline rows over a fresh corpus every
  pass, so nothing built for one pass can serve the next.
* ``write_refresh`` rolls a window of event slices and writes beside
  its reads, so caches keyed on file identity miss every round.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import gen
import oracle


@dataclass
class Call:
    """One closed-loop call. ``build`` makes the plan or input (timed as
    the build phase), ``run`` executes it (the exec phase), ``check``
    returns None when ``run``'s result is right."""

    name: str
    kind: str  # query | engine | sink | stream | source
    family: str | None
    read_paths: list[str]
    build: Callable[[Any], Any]
    run: Callable[[Any, Any], Any]
    check: Callable[[Any], str | None]
    out_path: str | None = None
    #: counts taken from the result for the record (rows_out, batches)
    stats: Callable[[Any], dict] = field(default=lambda r: {})


def file_bytes(path: str) -> int:
    """Size of a parquet file, or of the parquet files under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


def data_files(path: str, since_ns: int = 0) -> list[str]:
    """Data files under ``path`` written at or after ``since_ns``
    (Spark's ``_SUCCESS`` and ``.crc`` side files excluded)."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(root, f)
            if os.stat(p).st_mtime_ns >= since_ns:
                out.append(p)
    return out


def _query(name: str, sf_dir: str, family: str | None, tables: list[str],
           expected: dict) -> Call:
    from mongo_analyser_spark.queries import QUERIES

    # the timed exec is collect() alone; the result is (df, rows) and the
    # check reads the column names outside the timed region
    if name in oracle.INVARIANT_ONLY:
        emb = os.path.join(sf_dir, "embeddings.parquet")

        def check(res):
            return oracle.near_dup_invariant(res[1], emb)
    else:
        def check(res):
            cols, rows = expected[(sf_dir, name)]
            return oracle.compare(res[0].columns, res[1], cols, rows)

    return Call(
        name=name, kind="query", family=family,
        read_paths=[os.path.join(sf_dir, f"{t}.parquet") for t in tables],
        build=lambda spark: QUERIES[name](spark, sf_dir),
        run=lambda spark, df: (df, df.collect()),
        check=check,
        stats=lambda res: {"rows_out": len(res[1])},
    )


def _duck_events_facts(events_path: str) -> dict:
    import duckdb

    con = duckdb.connect()
    src = f"read_parquet('{events_path}/**/*.parquet')" if os.path.isdir(events_path) \
        else f"read_parquet('{events_path}')"
    n, u_min, u_max = con.execute(
        f"SELECT count(*), min(user_id), max(user_id) FROM {src}").fetchone()
    tops = dict(con.execute(
        f"SELECT event_type, count(*) FROM {src} GROUP BY 1").fetchall())
    return {"n": n, "user_min": u_min, "user_max": u_max, "event_types": tops}


def _check_analyze(facts: dict) -> Callable[[dict], str | None]:
    def check(res: dict) -> str | None:
        want = {"event_id", "ts", "user_id", "event_type", "value", "props", "props.k"}
        if set(res) != want:
            return f"fields {sorted(res)} != {sorted(want)}"
        for f in ("event_id", "ts", "user_id", "event_type", "value"):
            if res[f]["count"] != facts["n"]:
                return f"{f} count {res[f]['count']} != {facts['n']}"
        uid = res["user_id"]
        if (uid.get("min"), uid.get("max")) != (facts["user_min"], facts["user_max"]):
            return f"user_id range {uid.get('min')}..{uid.get('max')} wrong"
        if res["event_type"].get("top_values") != facts["event_types"]:
            return f"event_type top values {res['event_type'].get('top_values')} wrong"
        return None
    return check


def _check_dynamic_schema(n: int) -> Callable[[dict], str | None]:
    def check(res: dict) -> str | None:
        if set(res) != {"k"}:
            return f"paths {sorted(res)} != ['k']"
        k = res["k"]
        if k["count"] != n or sum(k["type_distribution"].values()) != n:
            return f"k count {k['count']} / {k['type_distribution']} != {n}"
        return None
    return check


def _engine_calls(sf_dir: str, events_path: str, facts: dict, which: list[str]) -> list[Call]:
    def load(spark):
        from mongo_analyser_spark.sources.parquet import load_table
        return load_table(spark, sf_dir, "events")

    def analyze(spark, df):
        from mongo_analyser_spark import Engine
        from mongo_analyser_spark.sources.parquet import EVENTS_PROPS_SCHEMA
        return Engine(spark).analyze(df, json_cols={"props": EVENTS_PROPS_SCHEMA})

    def infer(spark, df):
        from mongo_analyser_spark import Engine
        return Engine(spark).infer_schema_dynamic(df, "props")

    calls = {
        "engine.analyze": Call("engine.analyze", "engine", "operators.field_stats", [events_path],
                               load, analyze, _check_analyze(facts),
                               stats=lambda r: {"rows_out": len(r)}),
        "engine.infer_schema_dynamic": Call(
            "engine.infer_schema_dynamic", "engine", "operators.melt_variant", [events_path],
            load, infer, _check_dynamic_schema(facts["n"]), stats=lambda r: {"rows_out": len(r)}),
    }
    return [calls[w] for w in which]


class Workload:
    name = ""
    #: steady passes take about this long on a 4-core host; the number of
    #: steady passes is derived from --seconds with it, so every run of a
    #: workload makes the same number of steady calls
    nominal_pass_s = 1.0
    min_passes = 2
    #: checked but unmeasured passes between the cold and the steady ones
    warmup_passes = 0

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def prepare(self, n_passes: int) -> list[tuple[str, str]]:
        """Generate the inputs of ``n_passes`` passes (pass 0 is the
        cold one); return the (sf_dir, row) oracle jobs they need."""
        raise NotImplementedError

    def calls(self, p: int, expected: dict) -> list[Call]:
        raise NotImplementedError

    def between_passes(self, p: int) -> None:
        """Untimed step before pass ``p``."""

    def describe(self) -> dict:
        return {}


#: analyst registry rows: (row, operator layer, tables read)
ANALYST_ROWS = [
    ("field_stats_events", "operators.field_stats", ["events"]),
    ("type_histogram_events", "operators.field_stats", ["events"]),
    ("top_values_events", "operators.field_stats", ["events"]),
    ("array_stats_embeddings", "operators.field_stats", ["embeddings"]),
    ("schema_documents", None, ["documents"]),
    ("describe_collection_events", None, ["events"]),
    ("list_collections", None, []),
    ("sample_events_deterministic", None, ["events"]),
    ("newest_n_events", None, ["events"]),
    ("convert_export_events", None, ["events"]),
    ("dynamic_schema_histogram_events", "operators.melt_variant", ["events"]),
    ("deep_melt_documents", "operators.melt_variant", ["documents"]),
    ("q1_pricing_summary", "operators.relational", ["lineitem"]),
    ("q3_shipping_priority", "operators.relational", ["customer", "orders", "lineitem"]),
    ("window_top3_orders_per_customer", "operators.relational", ["orders"]),
]


class Analyst(Workload):
    name = "analyst"
    nominal_pass_s = 5.4
    sf = 0.1

    def prepare(self, n_passes):
        self.dir = os.path.join(self.work, "analyst")
        self.rows = gen.collection_set(self.dir, self.seed, self.sf, None)
        self.events = os.path.join(self.dir, "events.parquet")
        self.facts = _duck_events_facts(self.events)
        return [(self.dir, r) for r, _f, _t in ANALYST_ROWS]

    def calls(self, p, expected):
        out = [_query(r, self.dir, fam, t, expected) for r, fam, t in ANALYST_ROWS]
        out += _engine_calls(self.dir, self.events, self.facts,
                             ["engine.analyze", "engine.infer_schema_dynamic"])
        order = np.random.default_rng([self.seed, p]).permutation(len(out))
        return [out[i] for i in order]

    def describe(self):
        return {"sf": self.sf, "rows": self.rows, "row_groups": "one per table"}


#: corpus_pipeline rows: (row, operator layer, tables read)
CORPUS_ROWS = [
    ("dedup_exact_documents", "operators.dedup", ["documents"]),
    ("dedup_minhash_pairs_documents", "operators.dedup", ["documents"]),
    ("dedup_jaccard_pairs_documents", "operators.dedup", ["documents"]),
    ("simhash_pairs_documents", "operators.dedup", ["documents"]),
    ("bloom_decontaminate_documents", "operators.bloom", ["documents"]),
    ("decontaminate_documents", "operators.dedup", ["documents"]),
    ("gopher_rules_documents", "operators.quality", ["documents"]),
    ("kneser_ney_nll_documents", "operators.quality", ["documents"]),
    ("bpe_token_counts_documents", "functions.bpe", ["documents"]),
    ("pii_scrub_documents", "functions.pii", ["documents"]),
    ("ivfpq_topk_embeddings", "operators.pq", ["embeddings"]),
    ("similarity_topk_embeddings_arrow", "operators.similarity", ["embeddings"]),
    ("embedding_near_dup_pairs", "operators.dedup", ["embeddings"]),
    ("wav_audio_features_documents", "operators.audio", ["documents"]),
    ("jpeg12_pixel_stats_documents", "operators.jpeg", ["documents"]),
]


class CorpusPipeline(Workload):
    name = "corpus_pipeline"
    nominal_pass_s = 5.4
    sf = 0.03
    row_group_rows = 256

    def _dir(self, p):
        return os.path.join(self.work, f"corpus{p}")

    def prepare(self, n_passes):
        jobs = []
        letters = "abcdefghijklmnopqrstuvwxyz"
        for p in range(n_passes):
            # words stay in the normalize_text alphabet [a-z0-9] the text
            # rows take as input ("~" is the BPE twins' word separator);
            # a fixed-length suffix keeps salted words distinct across passes
            salt = "q" + letters[p // 26 % 26] + letters[p % 26]
            self.rows = gen.collection_set(self._dir(p), self.seed * 1000 + p, self.sf,
                                           self.row_group_rows,
                                           ["documents", "embeddings"], salt=salt)
            jobs += [(self._dir(p), r) for r, _f, _t in CORPUS_ROWS
                     if r not in oracle.INVARIANT_ONLY]
        return jobs

    def calls(self, p, expected):
        d = self._dir(p)
        return [_query(r, d, fam, t, expected) for r, fam, t in CORPUS_ROWS]

    def describe(self):
        return {"sf": self.sf, "rows": self.rows,
                "row_groups": f"{self.row_group_rows} rows", "fresh_corpus_per_pass": True}


class WriteRefresh(Workload):
    """A rolling window of ``window`` event slices. Before each round the
    next slice is added and the oldest retired; the round drains the new
    slice through the exactly-once stream sink, refreshes the rollup for
    its day, exports it three ways, writes it z-ordered, analyzes the
    changed collection and lists the new slice's zone maps."""

    name = "write_refresh"
    nominal_pass_s = 3.2
    min_passes = 3
    warmup_passes = 1
    window = 10
    slice_rows = 10_000
    n_users = 1_500

    def _slice_dir(self, i):
        return os.path.join(self.work, "slices", f"s{i:05d}")

    def prepare(self, n_passes):
        self.root = os.path.join(self.work, "collection")
        self.coll = os.path.join(self.root, "events.parquet")
        self.out = os.path.join(self.work, "out")
        os.makedirs(self.coll, exist_ok=True)
        for i in range(self.window + n_passes - 1):
            d = self._slice_dir(i)
            os.makedirs(d)
            tbl = gen.events_table(np.random.default_rng([self.seed, 7, i]),
                                   self.slice_rows, self.n_users,
                                   first_id=i * self.slice_rows, start_day=i, days=1)
            gen.write_table(tbl, os.path.join(d, "events.parquet"), None)
        for i in range(self.window):
            self._link(i)
        return []

    def _link(self, i):
        os.link(os.path.join(self._slice_dir(i), "events.parquet"),
                os.path.join(self.coll, f"slice_{i:05d}.parquet"))

    def between_passes(self, p):
        # pass p >= 1 adds slice window+p-1 and retires slice p-1
        if p >= 1:
            self._link(self.window + p - 1)
            os.remove(os.path.join(self.coll, f"slice_{p - 1:05d}.parquet"))

    def calls(self, p, expected):
        import duckdb

        newest = self.window - 1 + p
        sdir = self._slice_dir(newest)
        spath = os.path.join(sdir, "events.parquet")
        day = str(np.datetime64("2024-01-01") + np.timedelta64(newest, "D"))
        new_slices = list(range(self.window)) if p == 0 else [newest]
        drained = [os.path.join(self._slice_dir(i), "events.parquet") for i in new_slices]
        coll_files = [os.path.join(self.coll, f) for f in sorted(os.listdir(self.coll))]
        con = duckdb.connect()
        slice_n, slice_ids = con.execute(
            f"SELECT count(*), sum(event_id) FROM read_parquet('{spath}')").fetchone()
        facts = _duck_events_facts(self.coll)
        o = lambda name: os.path.join(self.out, name)  # noqa: E731

        def load_slice(spark):
            from mongo_analyser_spark.sources.parquet import load_table
            return load_table(spark, sdir, "events")

        def load_coll(spark):
            from mongo_analyser_spark.sources.parquet import load_table
            return load_table(spark, self.root, "events")

        def same_rows(path, fmt="parquet"):
            def check(_res):
                src = (f"read_json_auto('{path}/*.json.gz')" if fmt == "json"
                       else f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)")
                got = con.execute(f"SELECT count(*), sum(event_id) FROM {src}").fetchone()
                if tuple(got) != (slice_n, slice_ids):
                    return f"{path}: rows/id-sum {got} != {(slice_n, slice_ids)}"
                return None
            return check

        # -- drain ---------------------------------------------------------
        def drain(spark, _):
            from mongo_analyser_spark.streaming.sink import exactly_once_parquet_writer
            from mongo_analyser_spark.streaming.windows import stream_events
            q = (exactly_once_parquet_writer(stream_events(spark, self.root), o("stream"),
                                             o("stream_ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            progress = [b for b in q.recentProgress if b.get("numInputRows", 0) > 0]
            return {"batches": [b["batchId"] for b in progress],
                    "rows": sum(b["numInputRows"] for b in progress)}

        want_n, want_ids = con.execute(
            "SELECT count(*), sum(event_id) FROM read_parquet([{}])".format(
                ", ".join(f"'{f}'" for f in drained))).fetchone()

        def check_drain(res):
            if res["rows"] != want_n or not res["batches"]:
                return f"drained {res['rows']} rows, expected {want_n}"
            ids = ", ".join(str(b) for b in res["batches"])
            got = con.execute(
                f"SELECT count(*), sum(event_id) FROM read_parquet('{o('stream')}/**/*.parquet',"
                f" hive_partitioning=true) WHERE __batch_id IN ({ids})").fetchone()
            return None if tuple(got) == (want_n, want_ids) else \
                f"stream output {got} != {(want_n, want_ids)}"

        # -- rollup ----------------------------------------------------------
        def refresh(spark, df):
            from mongo_analyser_spark.sinks.rollup import refresh_rollup
            refresh_rollup(df, o("rollup"), [day])

        files = ", ".join(f"'{f}'" for f in coll_files)
        want_rollup = sorted(con.execute(f"""
            SELECT 'hourly', strftime(ts, '%H'), count(*),
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
            FROM read_parquet([{files}]) WHERE strftime(ts, '%Y-%m-%d') = '{day}'
            GROUP BY 2
            UNION ALL
            SELECT 'daily', NULL, count(*), CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
            FROM read_parquet([{files}]) WHERE strftime(ts, '%Y-%m-%d') = '{day}'
            """).fetchall(), key=str)

        def check_rollup(_res):
            got = sorted(con.execute(f"""
                SELECT grain, hour, n_events, sum_value FROM read_parquet(
                  '{o('rollup')}/**/*.parquet', hive_partitioning=true)
                WHERE CAST(day AS VARCHAR) = '{day}'""").fetchall(), key=str)
            return None if got == want_rollup else f"rollup for {day} differs: {got[:2]}"

        # -- exports ---------------------------------------------------------
        def export_json(spark, df):
            from mongo_analyser_spark.sinks.export import export_json
            export_json(df, o("json"))

        def export_parquet(spark, df):
            from mongo_analyser_spark.sinks.export import export_parquet
            export_parquet(df, o("parquet"), partition_by=["event_type"])

        def export_sorted(spark, df):
            from mongo_analyser_spark.sinks.export import export_parquet_sorted
            export_parquet_sorted(df, o("sorted"), "ts")

        def zorder(spark, df):
            from pyspark.sql import functions as F

            from mongo_analyser_spark.sinks.zorder import bucket16, write_zordered
            write_zordered(df, o("zorder"), bucket16(F.col("value"), 0.0, 400.0),
                           bucket16(F.col("user_id"), 0.0, float(self.n_users)))

        # -- engine and catalog ---------------------------------------------
        def analyze(spark, df):
            from mongo_analyser_spark import Engine
            from mongo_analyser_spark.sources.parquet import EVENTS_PROPS_SCHEMA
            return Engine(spark).analyze(df, json_cols={"props": EVENTS_PROPS_SCHEMA})

        def indexes(spark, _):
            from mongo_analyser_spark.sources.parquet import describe_indexes
            return describe_indexes(spark, sdir, "events").collect()

        import pyarrow.parquet as pq
        meta = pq.ParquetFile(spath).metadata
        want_idx = meta.num_row_groups * meta.num_columns

        def check_indexes(res):
            if len(res) != want_idx:
                return f"{len(res)} zone-map rows != {want_idx}"
            ev = [r for r in res if r[0] == "event_id"]
            lo, hi = newest * self.slice_rows, (newest + 1) * self.slice_rows - 1
            if not ev or (int(ev[0][3]), int(ev[-1][4])) != (lo, hi):
                return f"event_id zone map {ev[:1]} != {lo}..{hi}"
            return None

        return [
            Call("streaming.drain", "stream", None, drained, lambda s: None, drain,
                 check_drain, out_path=o("stream"),
                 stats=lambda r: {"rows_out": r["rows"], "batches": len(r["batches"])}),
            Call("sinks.refresh_rollup", "sink", None, coll_files, load_coll, refresh,
                 check_rollup, out_path=o("rollup")),
            Call("sinks.export_json", "sink", None, [spath], load_slice, export_json,
                 same_rows(o("json"), "json"), out_path=o("json")),
            Call("sinks.export_parquet", "sink", None, [spath], load_slice, export_parquet,
                 same_rows(o("parquet")), out_path=o("parquet")),
            Call("sinks.export_parquet_sorted", "sink", None, [spath], load_slice,
                 export_sorted, same_rows(o("sorted")), out_path=o("sorted")),
            Call("sinks.write_zordered", "sink", None, [spath], load_slice, zorder,
                 same_rows(o("zorder")), out_path=o("zorder")),
            Call("engine.analyze", "engine", "operators.field_stats", coll_files, load_coll, analyze,
                 _check_analyze(facts), stats=lambda r: {"rows_out": len(r)}),
            Call("sources.describe_indexes", "source", None, [], lambda s: None, indexes,
                 check_indexes, stats=lambda r: {"rows_out": len(r)}),
        ]

    def describe(self):
        return {"window_slices": self.window, "slice_rows": self.slice_rows,
                "row_groups": "one per slice", "collection_rows": self.window * self.slice_rows}


WORKLOADS = {w.name: w for w in (Analyst, CorpusPipeline, WriteRefresh)}
