"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy/pyarrow/json: the engine under test never
sees the seed, only the files written from it. The same seed writes the
same bytes; a different seed writes different bytes (tests/test_gen.py).

* :func:`write_star` -- the star schema of TESTDATA.md (region ... lineitem,
  events, documents, embeddings) with the column types the engine's
  queries and their DuckDB oracles expect.
* :class:`CompanyFacts` -- SEC companyfacts JSON documents (one file per
  company), with restatements, 10-Q items, non-core tags, non-USD units,
  null values and exact duplicate items, plus the bookkeeping of which
  natural keys and companies each generation emitted.
* :func:`events_batch` -- one micro-batch of the ``events`` table.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# documents.text draws from the same 31-word vocabulary as the test
# data, so the text kernels see the same token statistics
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
EMB_DIM = 64
EMB_LABELS = 10

DAY_US = 86_400 * 1_000_000
_US = dt.timedelta(microseconds=1)
EPOCH_1995 = (dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)) // _US
EPOCH_2024 = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // _US

# row counts per table, as in the sf0.01 test data
SF001 = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The ten star-schema tables at the ``SF001`` sizes as Arrow tables
    (see module doc)."""
    rng = np.random.default_rng(seed)
    n = SF001
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype="int64"),
        "p_name": rng.choice(names, n["part"]),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(n["part"]) % 1000 * 0.1, 2),
    })
    days = 7 * 365  # 1995-01-01 .. 2001-12-30: seven fiscal years
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, days - 180, n["orders"]) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), m),
        "l_linestatus": rng.choice(np.array(["F", "O"]), m),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(0, days, m) * DAY_US),
    })
    t["events"] = events_table(rng, 0, n["events"], max(50, n["events"] // 7))
    t["documents"] = documents_table(rng, n["documents"])
    t["embeddings"] = embeddings_table(rng, n["embeddings"])
    return t


def events_table(rng: np.random.Generator, first_id: int, rows: int,
                 users: int) -> pa.Table:
    """``rows`` events over 30 days of 2024, ids from ``first_id``."""
    ts = np.sort(rng.integers(0, 30 * DAY_US, rows))
    return pa.table({
        "event_id": np.arange(first_id, first_id + rows, dtype="int64"),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": rng.integers(0, users, rows),
        "event_type": rng.choice(EVENT_TYPES, rows),
        "value": np.round(rng.exponential(50.0, rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
    })


def documents_table(rng: np.random.Generator, rows: int) -> pa.Table:
    """Random-word documents; one in ten is a near copy of an earlier
    one (a word or two swapped), so the dedup queries find pairs."""
    texts: list[str] = []
    for i in range(rows):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 1 + int(rng.integers(0, 2))):
                words[j] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(rows, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, rows, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(rows)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })


def embeddings_table(rng: np.random.Generator, rows: int) -> pa.Table:
    """Unit vectors clustered around one centroid per label."""
    centroids = rng.normal(0, 1, (EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, rows)
    v = centroids[label] + rng.normal(0, 0.6, (rows, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(rows, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })


def write_star(out_dir: str, seed: int) -> None:
    """One ``<table>.parquet`` file per star table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def events_batch(seed: int, batch_id: int, rows: int) -> pa.Table:
    """Micro-batch ``batch_id`` of the event stream (ids never repeat
    across batches)."""
    rng = np.random.default_rng([seed, batch_id])
    return events_table(rng, batch_id * rows, rows, max(50, rows // 7))


# ---- companyfacts -----------------------------------------------------------

REVENUE_TAGS = ("RevenueFromContractWithCustomerExcludingAssessedTax",
                "SalesRevenueNet", "Revenues", "TotalRevenues")
FLOW_TAGS = ("GrossProfit", "OperatingIncomeLoss", "NetIncomeLoss",
             "NetCashProvidedByUsedInOperatingActivities",
             "PaymentsToAcquirePropertyPlantAndEquipment")
STOCK_TAGS = ("Assets", "Liabilities", "StockholdersEquity")
CORE_TAGS = frozenset(REVENUE_TAGS + FLOW_TAGS + STOCK_TAGS)
NONCORE_TAGS = ("ResearchAndDevelopmentExpense", "InterestExpense")
FIRST_FY = 2015
YEARS = 6           # fiscal years per company in generation 0
TOUCH_FRAC = 0.1    # share of companies each later generation amends


class CompanyFacts:
    """Seeded companyfacts corpus that grows by generations.

    Generation 0 holds ``YEARS`` fiscal years per company. Each later
    generation picks ``TOUCH_FRAC`` of the companies and files an
    amended 10-K restating their latest year (new accession, later
    filing date, changed values); a touched company's document is
    rewritten in full, as the SEC API serves it.

    ``keys`` is the set of stored-fact natural keys (cik, taxonomy, tag,
    unit, period_start, period_end, accession) that the ingest filters
    -- us-gaap, the 12 core tags, USD, non-null value -- should keep.
    """

    def __init__(self, seed: int, companies: int):
        self.rng = np.random.default_rng([seed, 7])
        self.ciks = [1_000_000 + 17 * i for i in range(companies)]
        self.items: dict[int, dict] = {c: {} for c in self.ciks}
        self.keys: set[tuple] = set()
        self.generation = 0
        for i, cik in enumerate(self.ciks):
            rev_tag = REVENUE_TAGS[i % len(REVENUE_TAGS)]
            for fy in range(FIRST_FY, FIRST_FY + YEARS):
                self._file_10k(cik, rev_tag, fy, amendment=0)
                self._file_10qs(cik, rev_tag, fy)

    # one fact item; ``dup`` appends it twice (an exact duplicate)
    def _item(self, cik, tax, tag, unit, val, accn, form, filed, start,
              end, fy, fp, dup=False):
        it = {"val": val, "accn": accn, "form": form, "filed": filed,
              "start": start, "end": end, "frame": None, "fy": fy, "fp": fp}
        units = self.items[cik].setdefault(tax, {}).setdefault(
            tag, {"units": {}})["units"]
        units.setdefault(unit, []).extend([it, it] if dup else [it])
        if (tax == "us-gaap" and unit == "USD" and val is not None
                and tag in CORE_TAGS):
            self.keys.add((f"{cik:010d}", tax, tag, unit, start, end, accn))

    def _values(self) -> dict[str, float]:
        r = self.rng
        rev = float(np.round(r.uniform(1e6, 5e9), 2))
        assets = float(np.round(rev * r.uniform(0.5, 4), 2))
        liab = float(np.round(assets * r.uniform(0.2, 0.9), 2))
        return {
            "revenue": rev,
            "GrossProfit": float(np.round(rev * r.uniform(0.2, 0.7), 2)),
            "OperatingIncomeLoss": float(np.round(rev * r.uniform(-0.1, 0.3), 2)),
            "NetIncomeLoss": float(np.round(rev * r.uniform(-0.2, 0.25), 2)),
            "NetCashProvidedByUsedInOperatingActivities":
                float(np.round(rev * r.uniform(0, 0.3), 2)),
            # capex reported negative sometimes: the sign fix must apply
            "PaymentsToAcquirePropertyPlantAndEquipment":
                float(np.round(rev * r.uniform(-0.05, 0.1), 2)),
            "Assets": assets,
            "Liabilities": liab,
            "StockholdersEquity": 0.0 if r.random() < 0.05
            else float(np.round(assets - liab, 2)),
        }

    def _file_10k(self, cik: int, rev_tag: str, fy: int, amendment: int):
        r = self.rng
        accn = f"{cik:010d}-{fy % 100:02d}-{amendment:06d}"
        filed = (dt.date(fy + 1, 2, 1)
                 + dt.timedelta(days=int(r.integers(0, 40)) + 60 * amendment)
                 ).isoformat()
        start, end = f"{fy}-01-01", f"{fy}-12-31"
        for tag, val in self._values().items():
            tag = rev_tag if tag == "revenue" else tag
            stock = tag in STOCK_TAGS
            v = None if r.random() < 0.02 else val
            self._item(cik, "us-gaap", tag, "USD", v, accn, "10-K", filed,
                       None if stock else start, end, fy, "FY",
                       dup=r.random() < 0.03)
            if r.random() < 0.1:  # the same fact in a second currency
                self._item(cik, "us-gaap", tag, "EUR", val * 0.9, accn,
                           "10-K", filed, None if stock else start, end, fy,
                           "FY")
        if fy > FIRST_FY and r.random() < 0.2:
            # comparative prior-year figures, restated in this filing
            prior = (f"{fy - 1}-01-01", f"{fy - 1}-12-31")
            for tag in (rev_tag, "NetIncomeLoss"):
                self._item(cik, "us-gaap", tag, "USD",
                           float(np.round(r.uniform(1e6, 5e9), 2)), accn,
                           "10-K", filed, *prior, fy, "FY")
        for tag in NONCORE_TAGS:
            self._item(cik, "us-gaap", tag, "USD",
                       float(np.round(r.uniform(1e5, 1e8), 2)), accn,
                       "10-K", filed, start, end, fy, "FY")
        self._item(cik, "dei", "EntityCommonStockSharesOutstanding",
                   "shares", float(r.integers(1e6, 1e9)), accn, "10-K",
                   filed, None, end, fy, "FY")

    def _file_10qs(self, cik: int, rev_tag: str, fy: int):
        for q, end in ((1, "03-31"), (2, "06-30"), (3, "09-30")):
            accn = f"{cik:010d}-{fy % 100:02d}-Q{q}"
            filed = f"{fy}-{int(end[:2]) + 1:02d}-15"
            for tag in (rev_tag, "NetIncomeLoss"):
                self._item(cik, "us-gaap", tag, "USD",
                           float(np.round(self.rng.uniform(1e5, 1e9), 2)),
                           accn, "10-Q", filed, f"{fy}-01-01",
                           f"{fy}-{end}", fy, f"Q{q}")

    def advance(self) -> list[int]:
        """File the next generation's amendments; returns the touched
        ciks (each gains new natural keys)."""
        self.generation += 1
        n = max(1, round(len(self.ciks) * TOUCH_FRAC))
        touched = sorted(int(c) for c in self.rng.choice(self.ciks, n, replace=False))
        for cik in touched:
            i = self.ciks.index(cik)
            self._file_10k(cik, REVENUE_TAGS[i % len(REVENUE_TAGS)],
                           FIRST_FY + YEARS - 1,
                           amendment=self.generation)
        return touched

    def supplier_table(self) -> pa.Table:
        """A ``supplier`` table whose keys are the corpus ciks, so the
        engine's companies mart (cik, ticker = upper(s_name), name)
        joins the marts built from these facts."""
        n = len(self.ciks)
        return pa.table({
            "s_suppkey": pa.array(self.ciks, pa.int64()),
            "s_name": [f"Co{cik}" for cik in self.ciks],
            "s_nationkey": pa.array([i % 25 for i in range(n)], pa.int32()),
            "s_acctbal": pa.array([float(i) for i in range(n)]),
        })

    def document(self, cik: int) -> dict:
        return {"entityName": f"Company {cik}", "cik": cik,
                "facts": self.items[cik]}

    def write(self, out_dir: str, ciks: list[int] | None = None) -> int:
        """Write one ``<cik>.json`` per company (all, or ``ciks``);
        returns the bytes written."""
        os.makedirs(out_dir, exist_ok=True)
        total = 0
        for cik in self.ciks if ciks is None else ciks:
            body = json.dumps(self.document(cik), sort_keys=True).encode()
            with open(os.path.join(out_dir, f"{cik:010d}.json"), "wb") as f:
                f.write(body)
            total += len(body)
        return total
