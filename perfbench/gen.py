"""Seeded input generator for the benchmark.

The table *contents* come from a fixed base seed, so every run sees
the same row multiset; ``--seed`` only permutes the rows of each file
and picks the cut points of the streaming drops. A query result that
changes with the seed is therefore a defect of the program, never of
the inputs.

Tables mirror the engine's star schema (``schemas.STAR``) at a chosen
scale factor, with the same value domains as the engine's test data
(TPC-H-ish dimensions, an ``events`` clickstream, a ``documents``
corpus with near-duplicate copies and clustered 64-d ``embeddings``).
Files are written with pyarrow, never through Spark, so the parquet
physical types are exactly the declared ones: ``events.ts`` is INT64
TIMESTAMP(NANOS), the other timestamps are microsecond NTZ.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.15, 0.13, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
EMB_DIM = 64
STREAM_SCHEMAS = {
    "documents": "doc_id long, text string",
    "events": "event_id long, user_id long, event_type string, value double",
}

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(date: str) -> int:
    return int((np.datetime64(date, "D") - _EPOCH).astype(int))


def _micros_from_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(sf: float) -> dict[str, pa.Table]:
    """The star-schema tables at scale ``sf`` (sf=0.01: 60k lineitem),
    built from ``BASE_SEED`` so the content never depends on the run."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_ev = max(1_000, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )

    o_date = rng.integers(_days("1995-01-01"), _days("2001-08-01") + 1, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
            "o_orderdate": _micros_from_days(o_date),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )

    # 1-7 lines per order; (l_orderkey, l_linenumber) is unique.
    n_lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), n_lines)
    starts = np.cumsum(n_lines) - n_lines
    l_num = np.arange(len(l_order)) - np.repeat(starts, n_lines) + 1
    n_li = len(l_order)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _micros_from_days(
                o_date[l_order] + rng.integers(1, 122, n_li)
            ),
        }
    )

    start_ns = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            # microsecond-valued nanos: the engine's nanos->micros
            # truncation and DuckDB's agree exactly.
            "ts": pa.array(start_ns + ts_us * 1_000, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(np.minimum(rng.exponential(40.0, n_ev), 490.0) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.2:
            # near-duplicate of an earlier document: exact copy, a
            # dropped last word, or an appended marker token.
            src = texts[int(rng.integers(0, i))]
            edit = int(rng.integers(0, 3))
            if edit == 1 and src.count(" ") > 2:
                src = src.rsplit(" ", 1)[0]
            elif edit == 2:
                src = src + " dup"
            texts.append(src)
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)]))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )

    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0.0, 2.5, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def _permuted(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _cuts(n: int, parts: int, rng: np.random.Generator) -> list[int]:
    """``parts - 1`` sorted cut points, each part at least n/(2*parts)
    rows, so no micro-batch is empty."""
    floor = n // (2 * parts)
    free = n - floor * parts
    extra = np.sort(rng.integers(0, free + 1, parts - 1))
    return [int(c) + floor * (i + 1) for i, c in enumerate(extra)]


def write_inputs(
    tables: dict[str, pa.Table],
    out_dir: str,
    seed: int,
    drops: int = 0,
) -> dict:
    """Write seed-permuted copies of ``tables`` under ``out_dir`` and,
    when ``drops`` > 0, split ``documents`` and ``events`` into that
    many stream drops at seeded cut points (``out_dir/stream/<name>``,
    file mtimes in drop order so ``maxFilesPerTrigger=1`` replays them
    as consecutive micro-batches).

    Returns a manifest: per table its row count, and per stream the ids
    of each drop and the drops' bytes on disk."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    manifest: dict = {"tables": {}, "streams": {}}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(_permuted(table, rng), path)
        manifest["tables"][name] = {"rows": table.num_rows}
    if drops:
        mtime = 1_700_000_000
        for name, id_col in (("documents", "doc_id"), ("events", "event_id")):
            cols = [c.split()[0] for c in STREAM_SCHEMAS[name].split(", ")]
            table = _permuted(tables[name].select(cols), rng)
            bounds = [0, *_cuts(table.num_rows, drops, rng), table.num_rows]
            sdir = os.path.join(out_dir, "stream", name)
            os.makedirs(sdir)
            ids, size = [], 0
            for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
                part = table.slice(lo, hi - lo)
                path = os.path.join(sdir, f"drop-{i:03d}.parquet")
                pq.write_table(part, path)
                mtime += 10
                os.utime(path, (mtime, mtime))
                ids.append(part.column(id_col).to_pylist())
                size += os.path.getsize(path)
            manifest["streams"][name] = {"drops": ids, "bytes": size}
    return manifest

