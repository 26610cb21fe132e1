"""Seeded inputs for the benchmark.

``write_tables`` writes the TPC-H-ish star schema plus the events /
documents / embeddings tables that ``data_warehouse_spark.catalog`` reads,
with the same column names and types as the reference fixtures. Every value
comes from ``numpy.random.default_rng(seed)``, so one seed always gives the
same bytes. Order and ship dates fall in the first half of 1996: the catalog's
date predicates still select rows, and the (tenant, month) warehouse layout
stays at 25 x 6 partition directories per fact table.

``PrimaryWriter`` writes primary storage the way the reference's primary
store holds it: one snapshot-0 meta file per account, one file per
transaction, and per account one event file per transaction whose first line
is that account's next event version (1, 2, 3, ...). It keeps the ground
truth (rows and balances) of everything it wrote.
"""

from __future__ import annotations

import decimal
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "shiny"]
NOUNS = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EPOCH_1996 = np.datetime64("1996-01-01T00:00:00", "us")
DAY_US = 86_400 * 1_000_000


def _ts(days_us: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1996 + days_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, size: dict) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = size["customers"], size["suppliers"], size["parts"]
    n_ord = size["orders"]

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, NATIONS, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, NATIONS, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    order_day = rng.integers(0, 150, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(order_day * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts((order_day[okey] + rng.integers(1, 31, n_li)) * DAY_US),
    })
    n_ev = size["events"]
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + ev_ts.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = size["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words))), "dup")
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 91)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS[0], n_doc, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_vec, dim = size["embeddings"], 64
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n_vec)
    vecs = centers[label] + rng.normal(0, 0.6, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.9).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li,
            "events": n_ev, "documents": n_doc, "embeddings": n_vec}


class PrimaryWriter:
    """Writes one tenant's primary-storage tree and remembers what it wrote.

    Transactions move ``amount`` from a debit account to a credit account of
    the same tenant; each touches both accounts' event directories with that
    account's next event version, the layout whose count-skip lets an idle
    ingestion tick read zero files.
    """

    VALUE_DATE = "2020-01-15T10:00:00Z"

    def __init__(self, root: str, tenant: str, n_accounts: int, seed: int):
        self.root = root
        self.tenant = tenant
        self.accounts = [f"A{i:06d}" for i in range(n_accounts)]
        self.rng = np.random.default_rng(seed)
        self.next_event = {a: 1 for a in self.accounts}
        self.balance = {a: decimal.Decimal(0) for a in self.accounts}
        self.transactions: dict[str, tuple] = {}
        self.bytes_written = 0
        self.event_files: list[str] = []
        self.transaction_files: list[str] = []
        self._seq = 0
        tdir = os.path.join(root, f"t_{tenant}")
        os.makedirs(os.path.join(tdir, "transaction"), exist_ok=True)
        for a in self.accounts:
            self._put(os.path.join(tdir, "account", a, "snapshot", "0000000000"),
                      "CZK FORMAT_B\n")

    def _put(self, path: str, text: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text)
        self.bytes_written += len(text)

    def transact(self) -> str:
        """Land one committed transaction; returns its id once its last file
        is written."""
        a, b = self.rng.choice(len(self.accounts), 2, replace=False)
        credit, debit = self.accounts[a], self.accounts[b]
        cents = int(self.rng.integers(100, 1_000_000))
        amount = decimal.Decimal(cents).scaleb(-2)
        trn = f"TRN{self._seq:09d}"
        self._seq += 1
        tdir = os.path.join(self.root, f"t_{self.tenant}")
        self.transaction_files.append(os.path.join(tdir, "transaction", trn))
        self._put(self.transaction_files[-1],
                  f"committed\nX1 {self.tenant} {credit} {self.tenant} {debit} "
                  f"{self.VALUE_DATE} {amount} CZK\n")
        for acc, hint in ((credit, "1"), (debit, "-1")):
            version = self.next_event[acc]
            self.next_event[acc] = version + 1
            self.event_files.append(os.path.join(tdir, "account", acc, "events",
                                                 "0000000000", f"1_{hint}_{trn}"))
            self._put(self.event_files[-1], f"{version}\n")
        self.balance[credit] += amount
        self.balance[debit] -= amount
        self.transactions[trn] = (credit, debit, amount)
        return trn

