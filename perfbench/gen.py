"""Seeded inputs for the benchmark, in the reference's shapes (FIXTURES.md §A).

Everything here is pure Python and depends only on the seed: the same
seed writes byte-identical files and returns an identical tally. The
engine sees only the files; the tally is what the ingest correctness
gate checks the loaded warehouse against.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

N_CUSTOMERS = 5891          # customer_master_data.csv rows
CUSTOMER_ID_SPACE = (1000001, 1006040)
N_PRODUCTS = 3631           # product_master_data.csv rows
UNKNOWN_CUSTOMER_SHARE = 0.05
UNKNOWN_PRODUCT_SHARE = 0.03
FIRST_DAY = dt.date(2019, 7, 1)
N_DAYS = (dt.date(2020, 12, 31) - FIRST_DAY).days + 1
TIMELINE_YEAR = 2020        # latest year of the generated timeline
TIMELINE_END = "2020-12-31"

AGE_BUCKETS = ("0-17", "18-25", "26-35", "36-45", "46-50", "51-55", "55+")
CATEGORIES = (
    "Appliances", "Automotive", "Beauty", "Books", "Clothing", "Electronics",
    "Furniture", "Garden", "Grocery", "Health", "Home", "Jewelry", "Kitchen",
    "Music", "Office", "Outdoors", "Pets", "Shoes", "Sports", "Toys",
)
STORES = {1: "Electro Mart", 2: "Tech Haven", 3: "Gadget Hub", 4: "Digital Dreams",
          5: "Smart Solutions", 6: "Future Tech", 7: "Device World", 51: "Pakistan"}
SUPPLIERS = {9: "Canon Inc.", 13: "Samsung Electronics", 16: "Sony Corp.",
             17: "LG Electronics", 18: "Dell Technologies", 39: "HP Inc.", 51: "Apple Inc."}
TXN_HEADER = "orderID,Customer_ID,Product_ID,date,quantity\n"


@dataclass
class Masters:
    customer_path: str
    product_path: str
    customer_ids: list[int]
    prices: dict[str, Decimal]          # product_id -> price as written


@dataclass
class Tally:
    """What a correct load of some transaction files must contain."""

    rows: int = 0                       # generated transaction lines
    loaded: int = 0                     # lines with a known customer
    evicted: int = 0                    # lines with an unknown customer
    null_amounts: int = 0               # loaded lines with an unknown product
    amount: Decimal = Decimal("0.00")   # Σ purchase_amount over loaded lines
    customers: set[int] = field(default_factory=set)
    products: set[str] = field(default_factory=set)
    dates: set[str] = field(default_factory=set)   # ISO dates of loaded lines

    def add(self, other: Tally) -> None:
        self.rows += other.rows
        self.loaded += other.loaded
        self.evicted += other.evicted
        self.null_amounts += other.null_amounts
        self.amount += other.amount
        self.customers |= other.customers
        self.products |= other.products
        self.dates |= other.dates


@dataclass
class TxnFile:
    path: str
    first_order: int
    last_order: int
    tally: Tally


def write_masters(out_dir: str, seed: int) -> Masters:
    """Customer and product master CSVs at reference cardinality."""
    rng = random.Random(f"masters:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    lo, hi = CUSTOMER_ID_SPACE
    cids = sorted(rng.sample(range(lo, hi + 1), N_CUSTOMERS))
    cust_path = os.path.join(out_dir, "customer_master.csv")
    with open(cust_path, "w") as f:
        f.write("Customer_ID,Gender,Age,Occupation,City_Category,"
                "Stay_In_Current_City_Years,Marital_Status\n")
        for cid in cids:
            f.write(f"{cid},{rng.choice('FM')},{rng.choice(AGE_BUCKETS)},"
                    f"{rng.randrange(21)},{rng.choice('ABC')},"
                    f"{rng.randrange(5)},{rng.randrange(2)}\n")
    pids = sorted(rng.sample(range(100000, 1000000), N_PRODUCTS))
    prices: dict[str, Decimal] = {}
    prod_path = os.path.join(out_dir, "product_master.csv")
    with open(prod_path, "w") as f:
        f.write("Product_ID,Product_Category,price$,storeID,storeName,"
                "supplierID,supplierName\n")
        for n in pids:
            pid = f"P00{n}"
            price = Decimal(rng.randrange(500, 300000)) / 100
            prices[pid] = price
            sid = rng.choice(list(STORES))
            sup = rng.choice(list(SUPPLIERS))
            f.write(f"{pid},{rng.choice(CATEGORIES)},{price},{sid},{STORES[sid]},"
                    f"{sup},{SUPPLIERS[sup]}\n")
    return Masters(cust_path, prod_path, cids, prices)


def write_transactions(
    path: str, masters: Masters, seed: int, index: int, first_order: int, n_rows: int
) -> TxnFile:
    """One transaction CSV of exactly ``n_rows`` lines whose order ids
    start at ``first_order``. Orders carry 1-5 lines; about 5 % of orders
    have an unknown customer and 3 % of lines an unknown product. The
    file is written under a dot-name and renamed, so a file-stream
    source never sees it half-written."""
    rng = random.Random(f"txns:{seed}:{index}")
    cids, pids = masters.customer_ids, list(masters.prices)
    known = set(cids)
    unknown_cids = [c for c in range(CUSTOMER_ID_SPACE[0], CUSTOMER_ID_SPACE[1] + 1)
                    if c not in known]
    t = Tally()
    lines = [TXN_HEADER]
    oid = first_order - 1
    while t.rows < n_rows:
        oid += 1
        cust_known = rng.random() >= UNKNOWN_CUSTOMER_SHARE
        cid = rng.choice(cids) if cust_known else rng.choice(unknown_cids)
        day = FIRST_DAY + dt.timedelta(days=rng.randrange(N_DAYS))
        date_txt = f"{day.month:02d}/{day.day:02d}/{day.year}"
        for _ in range(min(rng.randrange(1, 6), n_rows - t.rows)):
            if rng.random() >= UNKNOWN_PRODUCT_SHARE:
                pid = rng.choice(pids)
            else:
                pid = f"P99{rng.randrange(100000, 1000000)}"
            qty = rng.randrange(1, 11)
            lines.append(f"{oid},{cid},{pid},{date_txt},{qty}\n")
            t.rows += 1
            if not cust_known:
                t.evicted += 1
                continue
            t.loaded += 1
            t.customers.add(cid)
            t.dates.add(day.isoformat())
            price = masters.prices.get(pid)
            if price is None:
                t.null_amounts += 1
            else:
                t.products.add(pid)
                t.amount += price * qty
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "w") as f:
        f.write("".join(lines))
    os.replace(tmp, path)
    return TxnFile(path, first_order, oid, t)


def write_backlog(
    out_dir: str, masters: Masters, seed: int, n_files: int, rows_per_file: int
) -> list[TxnFile]:
    """``n_files`` consecutive transaction files with disjoint order ids."""
    os.makedirs(out_dir, exist_ok=True)
    files, order = [], 1
    for i in range(n_files):
        f = write_transactions(
            os.path.join(out_dir, f"txn-{i:05d}.csv"), masters, seed, i, order, rows_per_file
        )
        files.append(f)
        order = f.last_order + 1
    return files


# --- corpus for the fold workload -------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
NEAR_DUP_SHARE = 0.05       # docs that copy an earlier doc with a few words changed
CONTAINED_SHARE = 0.03      # docs that are a contiguous slice of an earlier doc


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """``documents.parquet`` in the shape of the test corpus (doc_id,
    text, lang, source, n_chars): texts of 10-100 words over a small
    vocabulary, with planted near-duplicates and contained slices so the
    dedup and containment folds have pairs to find."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"docs:{seed}")
    texts: list[list[str]] = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < NEAR_DUP_SHARE:
            words = list(rng.choice(texts))
            for _ in range(rng.randrange(1, 4)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            words.append("dup")
        elif texts and r < NEAR_DUP_SHARE + CONTAINED_SHARE:
            base = rng.choice(texts)
            n = rng.randrange(max(1, len(base) // 3), len(base) + 1)
            start = rng.randrange(len(base) - n + 1)
            words = base[start:start + n]
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randrange(10, 101))]
        texts.append(words)
    joined = [" ".join(w) for w in texts]
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": joined,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in joined], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
