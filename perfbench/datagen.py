"""Seeded inputs for the mart workload.

Writes, as one parquet file per table, a TPC-H-shaped relational set
(region, nation, customer, supplier, part, orders, lineitem), an events
stream, a document corpus with injected near-duplicates, and a DQ results
table for the dashboard. Schemas and value domains follow the repo's
``TESTDATA.md`` tables, so every catalog query and its DuckDB oracle run
unchanged on the output. The same seed always gives the same files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data spark stream batch table query join group sort scan filter "
    "hash key value row column line part order customer window merge agg "
    "vector fast slow big small"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["blue", "red", "hot", "cold", "new", "old", "small", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget"]
DQ_TYPES = ["completeness", "validity", "uniqueness", "consistency", "summary"]
DQ_STATUS = ["passed", "failed", "error"]

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(days: np.ndarray, base: str, extra_us: np.ndarray | None = None) -> pa.Array:
    us = (np.datetime64(base, "us") - _EPOCH).astype(np.int64)
    vals = us + days.astype(np.int64) * 86_400_000_000
    if extra_us is not None:
        vals = vals + extra_us
    return pa.array(vals, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# Near-duplicate clusters, as (language, members). A cluster's members are
# its first document and copies of it with at most one token replaced each;
# the first document has at least 76 distinct 3-word shingles, so any two
# members share at least 70/82 = 0.85 of them, above the 0.8 dedup
# threshold. Each cluster is thus one clique of verified pairs whatever the
# seed, and so is the dedup work (pairs, contraction rounds): the seed only
# chooses the words and where the documents sit. The two clusters that are
# not English exercise the language gate.
CLUSTERS = [("en", 2)] * 4 + [("en", 3)] * 2 + [("en", 4)] * 2 + [("de", 2), ("fr", 3)]
CLUSTER_ROOT_TOKENS = (80, 90)
MIN_ROOT_SHINGLES = 76


def _words(rng, k: int) -> list[str]:
    return [WORDS[j] for j in rng.integers(0, len(WORDS), k)]


def _docs(rng, n: int) -> pa.Table:
    """Word-salad documents: the ``CLUSTERS`` near-duplicates, the rest
    single documents of 8-89 tokens with a fixed number per language, all
    in a seeded order."""
    docs: list[tuple[list[str], str]] = []
    for lang, members in CLUSTERS:
        while True:
            root = _words(rng, int(rng.integers(*CLUSTER_ROOT_TOKENS)))
            if len(set(zip(root, root[1:], root[2:]))) >= MIN_ROOT_SHINGLES:
                break
        docs.append((root, lang))
        for _ in range(members - 1):
            copy = list(root)
            copy[int(rng.integers(0, len(copy)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            docs.append((copy, lang))
    singles = n - len(docs)
    counts = [int(p * singles) for p in LANG_P]
    counts[0] += singles - sum(counts)
    for lang, c in zip(LANGS, counts):
        docs.extend((_words(rng, int(rng.integers(8, 90))), lang) for _ in range(c))
    order = rng.permutation(len(docs))
    joined = [" ".join(docs[i][0]) for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": joined,
            "lang": [docs[i][1] for i in order],
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in joined], type=pa.int64()),
        }
    )


def _dq_results(rng, n: int, today: dt.date) -> pa.Table:
    """DQ results over the last 14 days, one row per check execution.
    Each row sits at noon of its day plus a unique second offset, so the
    dashboard's day window and its newest-first ordering have no ties."""
    days_ago = rng.integers(0, 14, n)
    offsets = (np.arange(n, dtype=np.int64) + 1) * 1_000_000
    base = (today - dt.timedelta(days=14)).isoformat() + "T12:00:00"
    status = rng.choice(DQ_STATUS, n, p=[0.85, 0.1, 0.05])
    dec = pa.decimal128(15, 4)

    def decimals(lo, hi):
        import decimal

        return pa.array(
            [decimal.Decimal(f"{v:.4f}") for v in rng.uniform(lo, hi, n)], type=dec
        )

    ctype = rng.choice(DQ_TYPES, n)
    return pa.table(
        {
            "check_id": pa.array(np.arange(1, n + 1, dtype=np.int32)),
            "check_type": ctype.tolist(),
            "table_name": ["t_sql_source_structured"] * n,
            "column_name": rng.choice(["age", "salary", "user_id"], n).tolist(),
            "check_name": [f"{t}_check" for t in ctype],
            "execution_date": pa.array(
                (
                    (np.datetime64(base, "us") - _EPOCH).astype(np.int64)
                    + (14 - days_ago).astype(np.int64) * 86_400_000_000
                    + offsets
                ),
                type=pa.timestamp("us", tz="UTC"),
            ),
            "status": status.tolist(),
            "expected_value": decimals(0, 100),
            "actual_value": decimals(0, 100),
            "error_threshold": decimals(0, 5),
            "error_message": [f"{s}: synthetic check" for s in status],
        }
    )


def write_tables(
    out_dir: str, seed: int, scale: float, docs: int, dq_rows: int, today: dt.date
) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table.

    ``scale`` follows TPC-H's scale factor (0.1 -> 150k orders)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = max(25, int(10_000 * scale))
    n_events = int(1_000_000 * scale)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), type=pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(PART_ADJ), n_part),
                    rng.integers(0, len(PART_NOUN), n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(order_days, "1995-01-01T00:00:00"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(li_order),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, type=pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
            "l_shipdate": _ts(order_days[li_order] + rng.integers(1, 122, n_li), "1995-01-01T00:00:00"),
        }
    )
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": _ts(
                np.zeros(n_events, dtype=np.int64),
                "2024-01-01T00:00:00",
                rng.integers(0, 30 * 86_400_000_000, n_events),
            ),
            "user_id": pa.array(rng.integers(0, 1500, n_events), type=pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
            "value": np.round(rng.exponential(60.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    tables["documents"] = _docs(rng, docs)
    tables["dq_results"] = _dq_results(rng, dq_rows, today)

    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
