"""Seeded input generator for the benchmark.

Writes the ten collection tables the engine reads (a TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``) as parquet,
with the column types, value ranges and near-duplicate structure of the
sf-scaled fixtures the engine is developed against. Every table is drawn
from a ``numpy`` generator seeded by the caller's seed, so the same seed
gives byte-identical files and a different seed gives different content
with the same row counts.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "blue hot large small red green tiny shiny steel brass dark pale cold".split()
PART_NOUN = "anvil bolt ring widget gear nut screw".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array((base + offsets_us.astype("timedelta64[us]")), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng: np.random.Generator, n: int, n_users: int,
                 first_id: int = 0, start_day: int = 0, days: int = 30) -> pa.Table:
    """``n`` events with ids ``first_id..``, timestamps sorted over
    ``days`` days from 2024-01-01 + ``start_day``, and a JSON ``props``
    document column (the dynamic-schema path)."""
    offs = np.sort(rng.integers(0, days * _US_PER_DAY, n)) + start_day * _US_PER_DAY
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(_EPOCH_2024, offs),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(40.0, n), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
    })


def documents_table(rng: np.random.Generator, n: int, salt: str = "") -> pa.Table:
    """Space-separated texts over a 30-word vocabulary, 10-100 words
    each; one document in twenty is a near-duplicate of an earlier one
    (the same text with `` dup`` appended), which is what the dedup and
    decontamination rows find. ``salt`` suffixes every word so corpora
    generated for different passes share no shingles; it is drawn from
    [a-z0-9] like the words, the alphabet the text rows take as input."""
    vocab = np.array([w + salt for w in VOCAB])
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts, pos = [], 0
    for L in lens.tolist():
        texts.append(" ".join(words[pos:pos + L].tolist()))
        pos += L
    dup = np.flatnonzero(rng.random(n) < 0.05)
    dup = dup[dup > 0]
    src = rng.integers(0, dup, len(dup)) if len(dup) else dup
    for d, s in zip(dup.tolist(), src.tolist()):
        texts[d] = texts[s] + " dup"
    ids = np.arange(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids.tolist()]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors of width 64 with a 10-valued label."""
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM).cast(
        pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
    }
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995, odate * _US_PER_DAY),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    # 1..7 lines per order, fixed by the order key (not the seed) so every
    # seed gives the same lineitem row count
    lines = (np.arange(n_ord) * 7919 + 3) % 7 + 1
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    starts = np.cumsum(lines) - lines
    lnum = np.arange(n_li) - np.repeat(starts, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(_EPOCH_1995,
                          (np.repeat(odate, lines) + rng.integers(1, 122, n_li)) * _US_PER_DAY),
    })
    return out


def write_table(tbl: pa.Table, path: str, row_group_rows: int | None) -> None:
    """Write ``tbl`` to ``path``; ``row_group_rows=None`` keeps the whole
    table in one row group (one scan task)."""
    pq.write_table(tbl, path, row_group_size=row_group_rows or max(1, tbl.num_rows))


def collection_set(out_dir: str, seed: int, sf: float, row_group_rows: int | None,
                   tables: list[str] | None = None, salt: str = "") -> dict[str, int]:
    """Write ``tables`` (default all ten) for scale factor ``sf`` under
    ``out_dir`` as ``<name>.parquet``. Returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    want = set(tables or TABLES)
    made: dict[str, pa.Table] = {}
    if want & {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}:
        made.update(star_tables(np.random.default_rng([seed, 1]), sf))
    if "events" in want:
        made["events"] = events_table(np.random.default_rng([seed, 2]),
                                      int(1_000_000 * sf), max(1, int(15_000 * sf)))
    if "documents" in want:
        made["documents"] = documents_table(np.random.default_rng([seed, 3]),
                                            int(50_000 * sf), salt)
    if "embeddings" in want:
        made["embeddings"] = embeddings_table(np.random.default_rng([seed, 4]),
                                              int(20_000 * sf))
    rows = {}
    for name in sorted(want):
        write_table(made[name], os.path.join(out_dir, f"{name}.parquet"), row_group_rows)
        rows[name] = made[name].num_rows
    return rows


def digest(paths: list[str]) -> str:
    """Content digest of generated files (sha256 over their bytes in the
    given order)."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
