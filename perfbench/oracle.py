"""Expected results for the benchmark's calls, and the comparison.

Registry rows are checked against their DuckDB oracle twins
(``mongo_analyser_spark.queries.ORACLES`` / ``ORACLE_GENERATORS``) run
over the same generated files: same column names, same row count and
the same order-insensitive multiset of values, the rule of the
project's own oracle gate.

The oracles run in a child process before the first pass
(``python3 perfbench/oracle.py <jobs.json> <out.pickle> <threads>``,
each job a ``[sf_dir, row, sql]`` triple), so DuckDB's CPU and memory stay out of
the timed calls and out of the driver's peak RSS.
"""

from __future__ import annotations

import math
import os
import pickle
import sys
from collections import Counter

import numpy as np

#: rows whose DuckDB oracle is not run; each is checked by the named
#: invariant instead
INVARIANT_ONLY = {
    "embedding_near_dup_pairs": (
        "oracle too slow at the generated size (14 s at 2k vectors; its "
        "recursive binder also hits DuckDB's recursion limit at 10x "
        "sf0.1): every pair has vec_a < vec_b, one label, cos_sim equal to "
        "the float64 cosine within 1e-4 and >= 0.3, no duplicates, and "
        "recall >= 0.8 against a numpy brute force (the row's SRP banding is "
        "probabilistic; its docstring measures 0.97 at 500 vectors)"
    ),
}


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
    return v


def multiset(rows, cols) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def compare(cols, rows, exp_cols, exp_rows) -> str | None:
    """None when (cols, rows) matches the expected result."""
    if sorted(cols) != sorted(exp_cols):
        return f"columns {cols} != expected {exp_cols}"
    if len(rows) != len(exp_rows):
        return f"{len(rows)} rows != expected {len(exp_rows)}"
    got, want = multiset(rows, cols), multiset(exp_rows, exp_cols)
    if got != want:
        extra = [k for k in got if got[k] != want.get(k, 0)][:2]
        return f"values differ, e.g. {extra}"
    return None


def near_dup_invariant(rows, emb_path: str, threshold: float = 0.3) -> str | None:
    """The invariant ``embedding_near_dup_pairs`` is checked by."""
    import pyarrow.parquet as pq

    t = pq.read_table(emb_path)
    ids = t.column("vec_id").to_numpy()
    labels = t.column("label").to_numpy()
    x = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    seen = set()
    for a, b, c in rows:
        if a >= b or (a, b) in seen:
            return f"pair ({a}, {b}) out of order or repeated"
        seen.add((a, b))
        ia, ib = pos[a], pos[b]
        if labels[ia] != labels[ib]:
            return f"pair ({a}, {b}) crosses labels"
        exact = float(x[ia] @ x[ib])
        if abs(exact - c) > 1e-4 or c < threshold:
            return f"pair ({a}, {b}) cos_sim {c} vs exact {exact:.6f}"
    truth = 0
    for lab in np.unique(labels):
        m = np.flatnonzero(labels == lab)
        s = x[m] @ x[m].T
        truth += int(np.count_nonzero(np.triu(s >= threshold, k=1)))
    if truth and len(seen) < 0.8 * truth:
        return f"recall {len(seen)}/{truth} below 0.8"
    return None


def run_oracles(jobs: list[tuple[str, str, str]], threads: int) -> dict:
    """{(sf_dir, name): (cols, rows)} for each (sf_dir, name, sql) job,
    with every table of ``sf_dir`` registered as a view."""
    import duckdb

    out, cons = {}, {}
    for sf_dir, name, sql in jobs:
        con = cons.get(sf_dir)
        if con is None:
            con = cons[sf_dir] = duckdb.connect(config={"threads": threads})
            for f in sorted(os.listdir(sf_dir)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(sf_dir, f)}')")
        res = con.execute(sql)
        out[(sf_dir, name)] = ([d[0] for d in res.description],
                               [tuple(r) for r in res.fetchall()])
    return out


def main(argv: list[str]) -> int:
    import json

    with open(argv[0]) as fh:
        jobs = [tuple(j) for j in json.load(fh)]
    result = run_oracles(jobs, int(argv[2]))
    with open(argv[1], "wb") as fh:
        pickle.dump(result, fh, protocol=pickle.HIGHEST_PROTOCOL)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
