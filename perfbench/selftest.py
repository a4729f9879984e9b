"""Self-test of the benchmark's input generator and correctness checks.

    python3 perfbench/selftest.py        (from the repository root)

1. Every workload's inputs: the same seed gives the same content digest,
   another seed gives another digest with the same row counts.
2. A deliberately perturbed result is caught and counted in
   ``failed_ratio``: one registry call (``q1_pricing_summary`` on the
   analyst set) goes through the benchmark's own runner as is, with one
   value changed, with one row dropped, and with a build that raises.
3. The invariant that stands in for ``embedding_near_dup_pairs``'s
   oracle accepts the true pairs and rejects a wrong cosine and a
   low recall.

Exits 0 when all of these hold, 1 otherwise.
"""

from __future__ import annotations

import dataclasses
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def _inputs(work: str, name: str, seed: int) -> tuple[str, dict]:
    wl = workloads.WORKLOADS[name](os.path.join(work, f"{name}-{seed}-{len(os.listdir(work))}"),
                                   seed)
    wl.prepare(2)
    files = sorted(os.path.join(r, f) for r, _d, fs in os.walk(wl.work) for f in fs
                   if f.endswith(".parquet") and "collection" not in r)
    rows = {os.path.relpath(f, wl.work): pq.read_metadata(f).num_rows for f in files}
    return gen.digest(files), rows


def check_generator(work: str) -> list[str]:
    errors = []
    for name in workloads.WORKLOADS:
        d1, r1 = _inputs(work, name, 1)
        d1b, r1b = _inputs(work, name, 1)
        d2, r2 = _inputs(work, name, 2)
        if d1 != d1b or r1 != r1b:
            errors.append(f"{name}: seed 1 twice gave different inputs")
        if d1 == d2:
            errors.append(f"{name}: seeds 1 and 2 gave the same inputs")
        if r1 != r2:
            errors.append(f"{name}: row counts differ between seeds: {r1} vs {r2}")
        print(f"generator {name}: digest {d1[:12]} (seed 1, twice) vs {d2[:12]} (seed 2), "
              f"{sum(r1.values())} rows")
    return errors


def check_perturbation(work: str, cores: int) -> list[str]:
    errors = []
    sf_dir = os.path.join(work, "q1")
    gen.collection_set(sf_dir, 3, 0.01, None, ["lineitem"])
    spark, _dt, _gs = run.start_spark(cores)
    try:
        expected = run._oracles(work, [(sf_dir, "q1_pricing_summary")], cores)
        call = workloads._query("q1_pricing_summary", sf_dir, "relational", ["lineitem"],
                                expected)

        def changed(spark, df):
            df, rows = call.run(spark, df)
            first = list(rows[0])
            first[df.columns.index("count_order")] += 1
            return df, [tuple(first)] + rows[1:]

        def dropped(spark, df):
            df, rows = call.run(spark, df)
            return df, rows[1:]

        def raises(spark):
            raise RuntimeError("deliberate")

        variants = {
            "as is": call,
            "value changed": dataclasses.replace(call, run=changed),
            "row dropped": dataclasses.replace(call, run=dropped),
            "build raises": dataclasses.replace(call, build=raises),
        }
        recs = {k: run.run_call(spark, c, f"selftest:{k}", False, None)
                for k, c in variants.items()}
    finally:
        run.stop_spark(spark, clean=True)
    for k, rec in recs.items():
        print(f"perturbation {k!r}: {rec['error'] or 'ok'}")
        if (rec["error"] is None) != (k == "as is"):
            errors.append(f"perturbation {k!r} was {'not ' if rec['error'] is None else ''}caught")
    m, _extra = run.e2e_metrics([1.0], [recs["as is"]], [list(recs.values())], 0.0)
    print(f"failed_ratio over these calls: {m['failed_ratio']:.3f}")
    if abs(m["failed_ratio"] - 3 / 5) > 1e-9:
        errors.append(f"failed_ratio {m['failed_ratio']} != 3/5")
    return errors


def check_invariant(work: str) -> list[str]:
    errors = []
    d = os.path.join(work, "emb")
    gen.collection_set(d, 4, 0.01, None, ["embeddings"])
    emb = os.path.join(d, "embeddings.parquet")
    t = pq.read_table(emb)
    ids, labels = t.column("vec_id").to_numpy(), t.column("label").to_numpy()
    x = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pairs = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            c = float(x[i] @ x[j])
            if labels[i] == labels[j] and c >= 0.3:
                pairs.append((int(ids[i]), int(ids[j]), round(c, 6)))
    bad_cos = [(a, b, c + 0.01) if k == 0 else (a, b, c) for k, (a, b, c) in enumerate(pairs)]
    cases = {"true pairs": (pairs, True), "one cosine off": (bad_cos, False),
             "half the pairs": (pairs[::2], False)}
    for k, (rows, ok) in cases.items():
        err = oracle.near_dup_invariant(rows, emb)
        print(f"near-dup invariant, {k} ({len(rows)} pairs): {err or 'ok'}")
        if (err is None) != ok:
            errors.append(f"near-dup invariant misjudged {k!r}")
    return errors


def main() -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mongo_analyser_spark", "__init__.py")):
        print("selftest: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    run._launch_env(work, root, False)
    errors = check_generator(work) + check_invariant(work)
    errors += check_perturbation(work, measure.nproc())
    for e in errors:
        print(f"SELFTEST FAILED: {e}")
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
