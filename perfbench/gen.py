"""Seeded input generators owned by the benchmark.

Everything the engine sees is made here, so a run reads nothing outside
its checkout:

- :func:`write_tables` writes the star-schema + corpus tables the query
  registry reads (``{dir}/{table}.parquet``).  The tables come from a
  fixed data seed, so the result fingerprints pinned in ``pins.json``
  hold for every run; the run seed only orders the work.
- :class:`WorkbookSession` yields a session of 3-sheet ``.xlsx`` uploads
  and keeps the ground truth the warehouse must end up holding.
- :func:`stream_batches` cuts the corpus into seeded micro-batches with
  exact re-sends under fresh ids.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from py_data_pipeline_app_spark.sources.xlsx import write_xlsx

#: the tables never change with the run seed (see module docstring)
DATA_SEED = 20240101

#: rows per table, shaped like the engine's sf0.01 test tables
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "a the hash order table window row batch big group spark filter sort "
    "join line data column key merge agg small scan vector stream customer "
    "slow part value fast query"
).split()
LANGS = (("en", 0.44), ("zh", 0.14), ("es", 0.14), ("de", 0.14), ("fr", 0.14))
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
NEAR_DUP_SHARE = 0.05

_SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_COLORS = ["small", "red", "blue", "green", "large", "black", "white", "steel"]
_NOUNS = ["ring", "widget", "bolt", "gear", "pipe", "valve", "panel", "spring"]
_PTYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
_EVENTS = ["view", "click", "purchase", "signup", "error"]


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            # near-duplicate of an earlier document, as crawls have
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
            continue
        k = int(rng.integers(8, 90))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def corpus_arrays(n_docs: int, seed: int = DATA_SEED):
    """Texts, unit embeddings and cluster labels of ``n_docs`` docs (id = index)."""
    rng = np.random.default_rng(seed)
    texts = _docs(rng, n_docs)
    centers = rng.standard_normal((N_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_docs)
    noise = rng.standard_normal((n_docs, EMB_DIM)) / np.sqrt(EMB_DIM)
    vecs = 0.15 * centers[labels] + noise
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return texts, vecs.astype(np.float32), labels


def write_tables(out_dir: str, seed: int = DATA_SEED) -> None:
    """Write every table the query registry reads."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = TABLE_ROWS
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{_COLORS[i]} {_NOUNS[j]}"
                for i, j in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _days(rng, no, "1995-01-01", 2400),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, nl, "1995-01-02", 2500),
        }
    )
    ne = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, ne)
    ).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 150, ne).astype(np.int64),
            "event_type": [_EVENTS[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(np.minimum(rng.exponential(60.0, ne), 490.0) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts, vecs, labels = corpus_arrays(nd, seed + 1)
    lang_names = [l for l, _ in LANGS]
    lang_p = [p for _, p in LANGS]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": [lang_names[i] for i in rng.choice(len(LANGS), nd, p=lang_p)],
            "source": [f"src{i % N_SOURCES}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    nv = n["embeddings"]
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vecs[:nv]), pa.list_(pa.float32())),
            "label": labels[:nv].astype(np.int32),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# upload_session: workbooks plus the state they must leave behind
# ---------------------------------------------------------------------------

PRODUCTS = [
    ("P001", "Protein Powder", "Supplements", "55"),
    ("P002", "Yoga Mat", "Fitness", "40"),
    ("P003", "Water Bottle", "Accessories", "25"),
    ("P004", "Dumbbells Set", "Equipment", "100"),
    ("P005", "Treadmill", "Equipment", "950"),
    ("P006", "Resistance Bands", "Fitness", "30"),
    ("P007", "Multivitamins", "Supplements", "20"),
    ("P008", "Gym Gloves", "Accessories", "15"),
]
PAYMENT_TYPES = ["Debit Card", "Cash", "Bank Transfer", "Credit Card"]
TXN_HEADER = [
    "transaction_id", "customer_id", "transaction_date",
    "product_code", "amount", "payment_type",
]
PRODUCT_HEADER = ["product_code", "product_name", "category", "unit_price"]
MALFORMED = ["no braces at all", "{too_few_parts}", "missing_close_brace {a_b"]


@dataclass
class WorkbookShape:
    """The input properties the upload pipeline's behaviour depends on
    (the sizes live in ``run.SIZES``)."""

    n_txns: int
    n_customers: int  # customers in the first upload
    new_customers_per_upload: int
    address_change_share: float  # of known customers, per upload
    in_batch_dup_ids: int  # ids repeated later in the sheet, new address
    malformed_lines: int
    dangling_fk_share: float  # of transactions
    garbage_amount_share: float  # of transactions


@dataclass
class Upload:
    path: str
    filename: str
    run_ts: str
    n_bytes: int
    merged_rows: int
    summary_rows: int
    top_rows: int


@dataclass
class WorkbookSession:
    """Seeded sequence of uploads, tracking the warehouse ground truth
    with the reference's semantics: every customer line is compared to
    the preceding occurrence of its id (dimension state or earlier line
    of the same sheet), a differing address is one change row, and the
    last line per id wins."""

    out_dir: str
    seed: int
    shape: WorkbookShape

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.state: dict[str, tuple] = {}
        self.changes: list[tuple] = []
        self.uploads: list[tuple] = []
        self.n_ids = 0
        self.addr: dict[str, str] = {}
        os.makedirs(self.out_dir, exist_ok=True)

    def _new_address(self) -> str:
        r = self.rng
        return f"{r.randint(1, 999)} {r.choice(_NOUNS).title()} St, Sydney NSW {r.randint(1000, 9999)}"

    def _blob(self, cid: str, address: str) -> tuple[str, tuple]:
        r = self.rng
        i = cid[1:]
        fields = (
            cid, f"Customer {i}", f"user{i}@example.com",
            f"19{r.randint(50, 99)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}",
            address, f"{r.randint(43000, 45000)}.{r.randint(0, 9999999):07d}",
        )
        return "{" + "_".join(fields) + "}", fields

    def next_upload(self) -> Upload:
        r, s = self.rng, self.shape
        upload_id = len(self.uploads) + 1
        if not self.addr:
            grow = s.n_customers
        else:
            grow = s.new_customers_per_upload
        for _ in range(grow):
            self.n_ids += 1
            self.addr[f"C{self.n_ids:05d}"] = self._new_address()
        ids = list(self.addr)
        for cid in r.sample(ids, int(len(ids) * s.address_change_share)):
            self.addr[cid] = self._new_address()
        # customer sheet: header, one line per id, in-batch duplicates
        # later in the sheet with a fresh address, malformed lines
        lines: list[tuple[str, str]] = [(cid, self.addr[cid]) for cid in ids]
        for cid in r.sample(ids, min(s.in_batch_dup_ids, len(ids))):
            self.addr[cid] = self._new_address()
            lines.append((cid, self.addr[cid]))
        sheet = [["Customer Details"]]
        run_ts = f"2024-01-01T00:00:{upload_id:02d}.{self.seed % 1000:06d}"
        seen_in_batch: set[str] = set()
        for cid, address in lines:
            blob, fields = self._blob(cid, address)
            sheet.append([blob])
            prev = self.state.get(cid)
            if prev is not None and prev[4] != address:
                self.changes.append((cid, prev[4], address, run_ts, upload_id))
            self.state[cid] = fields + (upload_id,)
            seen_in_batch.add(cid)
        for i in range(s.malformed_lines):
            sheet.insert(r.randint(1, len(sheet)), [MALFORMED[i % len(MALFORMED)]])

        txns = [TXN_HEADER]
        merged = 0
        cat_of = {p[0]: p[2] for p in PRODUCTS}
        buyers: set[str] = set()
        cats: set[str] = set()
        for t in range(1, s.n_txns + 1):
            cid = r.choice(ids)
            if r.random() < s.dangling_fk_share:
                cid = f"X{r.randint(1, 9999):05d}"
            code, _, _, price = r.choice(PRODUCTS)
            amount = f"{float(price) * r.uniform(0.8, 1.2):.2f}"
            if r.random() < s.garbage_amount_share:
                amount = "N/A"
            txns.append([
                f"TXN{upload_id:03d}{t:05d}", cid, str(r.randint(44927, 45227)),
                code, amount, r.choice(PAYMENT_TYPES),
            ])
            if cid in seen_in_batch:
                merged += 1
                buyers.add(cid)
                cats.add(cat_of[code])
        filename = f"upload_{upload_id:04d}.xlsx"
        path = os.path.join(self.out_dir, filename)
        write_xlsx(
            path,
            {
                "Transactions": txns,
                "Customers": sheet,
                "Products": [PRODUCT_HEADER] + [list(p) for p in PRODUCTS],
            },
        )
        self.uploads.append(
            (upload_id, filename, run_ts, s.n_txns, len(sheet), len(PRODUCTS))
        )
        return Upload(
            path, filename, run_ts, os.path.getsize(path),
            merged, len(buyers), len(cats),
        )


# ---------------------------------------------------------------------------
# curation_stream: seeded micro-batches with exact re-sends
# ---------------------------------------------------------------------------


@dataclass
class StreamBatch:
    rows: list[tuple]  # (doc_id, text, source, embedding)
    resent_ids: list[int]  # fresh ids carrying an exact copy of an earlier doc


def stream_batches(
    texts: list[str],
    vecs: np.ndarray,
    start: int,
    seed: int,
    *,
    min_rows: int,
    max_rows: int,
    resend_share: float,
):
    """Endless micro-batches over ``texts[start:]`` (wrapping to
    ``start`` after the end — wrapped rows are exact re-sends too).
    Every row gets a fresh, increasing id, the index's arrival-order
    contract. Embedded rows only may be re-sent, so every re-send meets
    its original in the semantic index."""
    rng = random.Random(seed)
    n = len(texts)
    next_id = n
    pos = start
    sent: list[int] = list(range(start))
    while True:
        size = rng.randint(min_rows, max_rows)
        rows, resent = [], []
        for _ in range(size):
            if rng.random() < resend_share or pos >= n:
                src = rng.choice(sent)
                resent.append(next_id)
            else:
                src = pos
                pos += 1
                sent.append(src)
            rows.append((next_id, texts[src], f"src{src % N_SOURCES}", vecs[src].tolist()))
            next_id += 1
        yield StreamBatch(rows, resent)


def query_order(names: list[str], seed: int) -> list[str]:
    """One seeded permutation of ``names``."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return order
