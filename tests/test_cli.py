"""CLI entry point (reference __main__.py:1-162): subprocess runs over the
sf0.001 parquet collections asserting the JSON artifacts, plus in-process
arg/error truth tables."""

from __future__ import annotations

import json
import subprocess
import sys

REPO = "/root/repo"
SF = "/root/testdata/sf0.001"


def run_cli(*argv, timeout=240):
    return subprocess.run(
        [sys.executable, "-m", "mongo_analyser_spark", *argv],
        capture_output=True, text=True, cwd=REPO, timeout=timeout,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "4"},
    )


def test_cli_analyze_writes_schema_and_stats_artifact(tmp_path):
    out = tmp_path / "analysis.json"
    r = run_cli(
        "analyze", "--data", SF, "--collection", "documents",
        "--sample-size", "200", "--out", str(out),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    artifact = json.loads(out.read_text())
    assert artifact["collection"] == "documents"
    assert artifact["schema"]["doc_id"] == {"type": "int64"}
    assert artifact["hierarchical_schema"]["doc_id"] == {"type": "int64"}
    stats = artifact["field_stats"]
    assert stats["doc_id"]["count"] == 200  # sampled inference honored
    assert stats["doc_id"]["cardinality"] == 200
    assert stats["lang"]["missing_percentage"] == 0.0
    assert stats["doc_id"]["type_distribution"] == {"int64": 200}


def test_cli_stats_and_export_roundtrip(tmp_path):
    r = run_cli("stats", "--data", SF, "--collection", "nation")
    assert r.returncode == 0, r.stderr[-2000:]
    payload = json.loads(r.stdout)
    assert payload["collections"]["nation"]["rows"] == 25

    out = tmp_path / "nation_csv"
    r2 = run_cli(
        "export", "--data", SF, "--collection", "nation",
        "--format", "csv", "--out", str(out), "--limit", "5",
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    files = list(out.glob("*.csv"))
    assert files, "no csv part written"
    body = files[0].read_text()
    assert body.count("\n") == 6  # header + 5 rows


def test_cli_stats_and_analyze_keep_key_and_row_order(spark, tmp_path):
    """Registry rows and operators return unordered rows; the CLI and
    Engine edge owns display order. stats lists collections by name,
    analyze keys fields by name, and each field's top_values and
    type_distribution run by (count desc, value asc)."""
    from mongo_analyser_spark.__main__ import _build_parser, cmd_analyze, cmd_stats

    parse = _build_parser().parse_args
    stats = cmd_stats(parse(
        ["stats", "--data", SF, "--out", str(tmp_path / "stats.json")]
    ), spark)
    names = list(stats["collections"])
    assert names == sorted(names) and {"events", "nation"} <= set(names)

    art = cmd_analyze(parse(
        ["analyze", "--data", SF, "--collection", "events",
         "--out", str(tmp_path / "analysis.json")]
    ), spark)
    fs = art["field_stats"]
    assert list(fs) == sorted(fs)
    by_count = lambda kv: (-kv[1], kv[0])  # noqa: E731
    assert any(d.get("top_values") for d in fs.values())
    for d in fs.values():
        tops = list(d.get("top_values", {}).items())
        assert tops == sorted(tops, key=by_count)
        hist = list(d["type_distribution"].items())
        assert hist == sorted(hist, key=by_count)


def test_cli_errors_exit_nonzero():
    r = run_cli("stats", "--data", SF, "--collection", "not-a-collection")
    assert r.returncode != 0
    assert "not-a-collection" in r.stderr
    r2 = run_cli("export", "--data", SF, "--collection", "nation")
    assert r2.returncode != 0  # --out required


def test_cli_lint_reports_findings(tmp_path):
    out = tmp_path / "lint.json"
    r = run_cli(
        "lint", "--data", SF, "--query", "bm25_topk_documents",
        "--out", str(out),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    payload = json.loads(out.read_text())
    assert payload["query"] == "bm25_topk_documents"
    codes = {f["code"] for f in payload["findings"]}
    assert "exchanges" in codes
    # clean registry plans carry no error-level findings, so strict passes
    r2 = run_cli("lint", "--data", SF, "--query", "bm25_topk_documents", "--strict")
    assert r2.returncode == 0
    # unknown query exits non-zero with the error on stderr
    r3 = run_cli("lint", "--data", SF, "--query", "nope")
    assert r3.returncode != 0


def test_cli_tokens_reports_ws_and_bpe_budgets(tmp_path):
    out = tmp_path / "tokens.json"
    r = run_cli(
        "tokens", "--data", SF, "--collection", "documents", "--out", str(out)
    )
    assert r.returncode == 0, r.stderr[-2000:]
    payload = json.loads(out.read_text())
    assert payload["docs"] == 500
    assert payload["merge_table"] == "fixture"
    # the committed 64-merge table tokenizes this corpus ~1.77x denser
    # than whitespace — the budget gap the subcommand exists to expose
    assert payload["bpe_tokens"] > payload["ws_tokens"] > 0
    assert 1.0 < payload["bpe_to_ws_ratio"] < 3.0


def test_cli_drift_between_collections(tmp_path):
    out = tmp_path / "drift.json"
    r = run_cli(
        "drift", "--data", SF, "--collection", "events",
        "--against", "documents", "--out", str(out),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    payload = json.loads(out.read_text())
    by_path = {(d["field"], d["status"]) for d in payload["drift"]}
    # events-only paths read as removed, documents-only as added
    assert ("event_type", "removed") in by_path
    assert ("text", "added") in by_path
    assert payload["n_added"] > 0 and payload["n_removed"] > 0


def test_cli_quantiles_global_and_grouped(tmp_path):
    out = tmp_path / "q.json"
    r = run_cli(
        "quantiles", "--data", SF, "--collection", "events",
        "--value-col", "value", "--key-col", "event_id",
        "--q", "0.5,0.9", "--out", str(out),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    payload = json.loads(out.read_text())
    assert [q["q"] for q in payload["quantiles"]] == [0.5, 0.9]
    assert all(q["est"] > 0 for q in payload["quantiles"])
    r2 = run_cli(
        "quantiles", "--data", SF, "--collection", "events",
        "--value-col", "value", "--key-col", "event_id",
        "--by", "event_type", "--q", "0.5", "--out", str(out),
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    grouped = json.loads(out.read_text())["quantiles"]
    assert len(grouped) == 5  # one median per event type


def test_cli_media_frames_and_audio(tmp_path):
    """`media` subcommand: build a tiny payload collection (real APNG +
    WAV bytes), then extract sampled-frame luma and per-channel audio
    features through the CLI."""
    import duckdb

    from mongo_analyser_spark.operators.audio import encode_wav_ex
    from mongo_analyser_spark.operators.frames import encode_apng

    data = tmp_path / "data"
    data.mkdir()
    apng = encode_apng(
        8, 8, 1,
        [(0, 0, 8, 8, bytes(range(64))), (0, 1, 8, 1, bytes([200] * 8))],
    )
    wav = encode_wav_ex(8000, [[1 / 128.0, -2 / 128.0], [0.0, 5 / 128.0]])
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE m (doc_id BIGINT, payload BLOB)"
    )
    con.execute("INSERT INTO m VALUES (1, ?), (2, ?)", [apng, apng])
    con.execute(
        f"COPY m TO '{data / 'media.parquet'}' (FORMAT PARQUET)"
    )
    con.execute("CREATE TABLE a (doc_id BIGINT, payload BLOB)")
    con.execute("INSERT INTO a VALUES (1, ?)", [wav])
    con.execute(f"COPY a TO '{data / 'clips.parquet'}' (FORMAT PARQUET)")

    out = tmp_path / "media.json"
    r = run_cli(
        "media", "--data", str(data), "--collection", "media",
        "--payload-col", "payload", "--kind", "frames",
        "--out", str(out),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = json.loads(out.read_text())["rows"]
    assert {row["doc_id"] for row in rows} == {1, 2}
    assert all(row["n_frames"] == 2 for row in rows)

    r2 = run_cli(
        "media", "--data", str(data), "--collection", "clips",
        "--payload-col", "payload", "--kind", "audio",
        "--out", str(out),
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    rows = json.loads(out.read_text())["rows"]
    assert [row["channel"] for row in rows] == [0, 1]
    assert all(row["n_samples"] == 2 for row in rows)

    # mixed-codec collection (round 13): a FLAC clip dispatches through
    # operators/flac.py inside the same CLI stage
    from mongo_analyser_spark.operators.flac import encode_flac

    flac = encode_flac(8000, [[100, -100] * 50])
    con.execute("CREATE TABLE fa (doc_id BIGINT, payload BLOB)")
    con.execute("INSERT INTO fa VALUES (1, ?), (2, ?)", [flac, wav])
    con.execute(f"COPY fa TO '{data / 'mixed.parquet'}' (FORMAT PARQUET)")
    r3 = run_cli(
        "media", "--data", str(data), "--collection", "mixed",
        "--payload-col", "payload", "--kind", "audio",
        "--out", str(out),
    )
    assert r3.returncode == 0, r3.stderr[-2000:]
    rows = json.loads(out.read_text())["rows"]
    by_doc = {}
    for row in rows:
        by_doc.setdefault(row["doc_id"], []).append(row)
    assert by_doc[1][0]["n_samples"] == 100  # the FLAC clip
    assert by_doc[1][0]["rms"] == 100.0
    assert len(by_doc[2]) == 2  # the stereo WAV clip


def test_cli_distinct_sketches_and_overlaps(tmp_path):
    """`distinct` subcommand: per-source KMV sketches over events, with
    pairwise overlap estimates."""
    out = tmp_path / "d.json"
    r = run_cli(
        "distinct", "--data", SF, "--collection", "events",
        "--by", "event_type", "--item-col", "user_id",
        "--k", "32", "--overlaps", "--out", str(out),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    payload = json.loads(out.read_text())
    groups = payload["groups"]
    assert len(groups) == 5
    # 15 distinct users per type at sf0.001, below k=32: exact mode
    assert all(g["n_sketch"] == 15 and g["est_distinct"] == 15.0
               for g in groups)
    assert len(payload["overlaps"]) == 10  # C(5,2) unordered pairs
