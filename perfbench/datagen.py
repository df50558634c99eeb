"""Seeded input generator: every table the benchmark feeds the program.

The shapes follow FIXTURES.md (tables 1-11) and the value ranges of the
reference test data: uniform keys, TPC-H-style categorical columns,
monotone event timestamps, a 30-word document vocabulary with exact and
near duplicates, unit-norm 64-dim embeddings clustered by label, and the
reference-compat ``trains`` table. Only numpy and pyarrow are used, so
generation never touches the program under test; the same seed always
gives byte-identical tables.

Row counts scale with ``sf`` like the reference data (sf0.1: 600k
lineitem rows, 100k events, 5k documents, 2k embeddings).
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
STATIONS = [f"station_{i:02d}" for i in range(24)]
EMBED_DIM = 64
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

_DAY_US = 86_400_000_000
_EPOCH = datetime(1970, 1, 1)


def _us(dt: datetime) -> int:
    return int((dt - _EPOCH).total_seconds()) * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime, n_days: int, n: int) -> np.ndarray:
    return _us(start) + rng.integers(0, n_days, n) * _DAY_US


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    odate = _days(rng, datetime(1995, 1, 1), 2404, n_ord)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    okey = rng.integers(0, n_ord, n_line)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(
                odate[okey] + rng.integers(1, 122, n_line) * _DAY_US, pa.timestamp("us")
            ),
        }
    )
    return out


def events_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """Event stream ordered by ``ts`` (event_id ascends with ts)."""
    n = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    start = _us(datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """Documents with ~0.5% exact and ~5% near duplicates (a copy of an
    earlier document with a few words replaced by ``dup``), so the
    dedup, LSH and cluster queries have real pairs to find."""
    n = max(50, int(50_000 * sf))
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and roll < 0.055:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=lang_p)],
            "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """Unit-norm vectors around ten label centroids, with ~2% near copies."""
    n = max(20, int(20_000 * sf))
    labels = rng.integers(0, 10, n, dtype=np.int32)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    near = np.flatnonzero(rng.random(n) < 0.02)
    near = near[near > 0]
    src = rng.integers(0, near, len(near)) if len(near) else near
    vecs[near] = vecs[src] + rng.normal(0.0, 0.01, (len(near), EMBED_DIM))
    labels[near] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels,
        }
    )


def trains_table(rng: np.random.Generator, n: int) -> pa.Table:
    """FIXTURES.md §11: two ``*delay*`` columns, ~2% null departure delays,
    arrival delay correlated with departure time so the regression has a
    real slope. Times carry a fractional part so CSV inference reads
    them back as doubles."""
    sched = np.round(rng.uniform(0.0, 1440.0, n), 2)
    dep = np.round(rng.gamma(1.5, 4.0, n) + sched / 240.0, 2)
    arr = np.round(dep + rng.normal(0.5, 2.0, n), 2)
    dep_masked = pa.array(dep, mask=rng.random(n) < 0.02)
    return pa.table(
        {
            "train_id": [f"T{i:06d}" for i in range(n)],
            "scheduled_departure_time": sched,
            "departure_delay": dep_masked,
            "arrival_delay": arr,
            "station": np.array(STATIONS)[rng.integers(0, len(STATIONS), n)],
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_sf_dir(seed: int, sf: float, out_dir: str) -> None:
    """All ten registry tables under ``out_dir/<name>.parquet``; each table
    group draws from its own child stream of ``seed``."""
    makers = {
        "tpch": lambda r: tpch_tables(r, sf),
        "events": lambda r: {"events": events_table(r, sf)},
        "documents": lambda r: {"documents": documents_table(r, sf)},
        "embeddings": lambda r: {"embeddings": embeddings_table(r, sf)},
    }
    streams = np.random.SeedSequence(seed).spawn(len(makers))
    for build, ss in zip(makers.values(), streams):
        write_tables(build(np.random.default_rng(ss)), out_dir)


def write_trains(seed: int, n: int, out_dir: str) -> pa.Table:
    """The serve lake: ``trains_csv.csv`` (header, inferred per request) and
    ``trains_pq.parquet`` holding the same rows."""
    table = trains_table(np.random.default_rng([seed, 11]), n)
    os.makedirs(out_dir, exist_ok=True)
    pacsv.write_csv(
        table,
        os.path.join(out_dir, "trains_csv.csv"),
        pacsv.WriteOptions(quoting_style="none"),
    )
    pq.write_table(table, os.path.join(out_dir, "trains_pq.parquet"))
    return table
