"""Seeded benchmark inputs: the engine's test tables and EDF nights.

Everything is generated from ``--seed`` inside the run's own directory;
nothing is downloaded.  The tables follow the schema and value
distributions of the engine's synthetic test corpus (TPC-H-ish star
schema, an ``events`` stream and a ``documents`` corpus), so the
registered queries and their DuckDB oracles run on them unchanged.
Row counts scale with ``sf`` the same way: sf0.1 is 600k lineitem rows,
100k events over 1,500 users and 5,000 documents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per unit scale factor (sf0.1 → lineitem 600k, events 100k, …).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
    "documents": 50_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_TS = pa.timestamp("us")


def _n(name: str, sf: float) -> int:
    return max(1, int(round(ROWS_PER_SF[name] * sf)))


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int)
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; return row counts."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = _n("customer", sf), _n("supplier", sf), _n("part", sf)
    n_ord, n_li, n_ev = _n("orders", sf), _n("lineitem", sf), _n("events", sf)
    n_users, n_docs = _n("users", sf), _n("documents", sf)
    i32 = pa.int32()

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.asarray(_PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(_PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": (adj + " " + noun).tolist(),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), _TS),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, ["N", "R", "A"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li), _TS),
        }
    )
    # Events: one month of arrivals, ~26 s apart at sf0.1, microsecond
    # timestamps strictly increasing so (ts, event_id) orders are unique.
    gaps_us = np.maximum(rng.exponential(2.592e12 / n_ev, n_ev), 1).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us)
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, _TS),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    tables["documents"] = _documents(rng, n_docs)

    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; 5% are an earlier document plus " dup"."""
    vocab = np.asarray(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(_LANGS, dtype=object)[
                rng.choice(len(_LANGS), n, p=_LANG_P)
            ].tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


#: EDF night layout: 100 Hz, two EEG derivations plus one EOG channel.
EDF_FS = 100.0
EDF_CHANNELS = ("EEG Fpz-Cz", "EEG Pz-Oz", "EOG horizontal")


def make_edf_nights(
    out_dir: str, n_files: int, epochs_per_file: int, seed: int
) -> list[int]:
    """Write ``n_files`` EDF recordings of ``epochs_per_file`` 30 s epochs.

    Each night mixes a 10 Hz alpha and a 2 Hz delta rhythm with noise,
    at amplitudes drawn per subject, so band powers differ per subject.
    Returns the subject ids (the digits of each file name).
    """
    from sleep_edf_data_pipeline_spark.sources.edf_format import write_edf

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = int(epochs_per_file * 30 * EDF_FS)
    t = np.arange(n) / EDF_FS
    alpha, delta = np.sin(2 * np.pi * 10 * t), np.sin(2 * np.pi * 2 * t)
    subjects = [int(s) for s in rng.choice(np.arange(1000, 10000), n_files, replace=False)]
    for sid in subjects:
        a, d = rng.uniform(10, 60, 2)
        signals = [
            (label, EDF_FS, a * alpha + d * delta + rng.normal(0, 8, n))
            for label in EDF_CHANNELS
        ]
        with open(os.path.join(out_dir, f"subject_{sid}.edf"), "wb") as f:
            f.write(write_edf(signals))
    return subjects

