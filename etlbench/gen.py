"""Seeded input generators for the benchmark.

Everything here is pure numpy + pyarrow: inputs are built before any
timer starts and the same ``seed`` always yields byte-identical tables.

- :func:`star_schema` writes the ten tables the registered queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``) with the column names, types and value domains
  of the engine's test data.
- :func:`daily_snapshots` lazily derives a sequence of full daily source
  snapshots from one base schema: each day adds orders and lineitems
  keyed past the previous maximum, re-values some customers, adds new
  customers and leaves some customers out of the day's feed, so the
  MERGE sees matched, inserted and untouched keys while every declared
  primary key stays unique.
- :class:`DedupStream` makes a corpus and, on demand, increments, each
  mixing fresh documents, exact repeats of already-indexed
  texts and near-duplicate edits in fixed shares.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold", "tiny", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut", "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMBED_DIMS = 64

_US_PER_DAY = 86_400_000_000
_ORDER_START = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = (np.datetime64("2001-08-01", "D") - _ORDER_START).astype(int) + 1


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform cents in [lo, hi] as doubles with two decimals."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts_days(days: np.ndarray) -> pa.Array:
    """Day offsets from 1995-01-01 → timestamp[us] at midnight."""
    base = _ORDER_START.astype("datetime64[us]").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


@dataclass(frozen=True)
class Sizes:
    """Row counts derived from a TPC-H-style scale factor."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    documents: int
    embeddings: int

    @classmethod
    def of(cls, sf: float) -> "Sizes":
        return cls(
            customer=max(50, int(150_000 * sf)),
            supplier=max(10, int(10_000 * sf)),
            part=max(50, int(200_000 * sf)),
            orders=max(200, int(1_500_000 * sf)),
            lineitem=max(800, int(6_000_000 * sf)),
            events=max(500, int(1_000_000 * sf)),
            documents=max(100, int(50_000 * sf)),
            embeddings=max(100, int(50_000 * sf)),
        )


def customers(rng: np.random.Generator, keys: np.ndarray, n_nations: int = 25) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, n_nations, n), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)]),
        }
    )


def orders_and_lines(
    rng: np.random.Generator,
    order_keys: np.ndarray,
    n_lines: int,
    n_customers: int,
    n_parts: int,
    n_suppliers: int,
) -> tuple[pa.Table, pa.Table]:
    """Orders keyed ``order_keys`` and ``n_lines`` lineitems over them.

    As in the engine's test data, lines pick their order uniformly (some
    orders get none) and ``(l_orderkey, l_linenumber)`` is not unique."""
    n = len(order_keys)
    orders = pa.table(
        {
            "o_orderkey": pa.array(order_keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
            "o_orderdate": _ts_days(rng.integers(0, _ORDER_DAYS, n)),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
        }
    )
    m = n_lines
    lines = pa.table(
        {
            "l_orderkey": pa.array(order_keys[rng.integers(0, n, m)], pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_suppliers, m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, m)),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, m)]),
            "l_shipdate": _ts_days(rng.integers(1, _ORDER_DAYS + 95, m)),
        }
    )
    return orders, lines


def doc_text(rng: np.random.Generator) -> str:
    return " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))])


def near_dup(rng: np.random.Generator, text: str, edits: int = 1) -> str:
    """A near-duplicate: ``edits`` single-word substitutions."""
    words = text.split()
    for _ in range(edits):
        words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words)


def documents(rng: np.random.Generator, ids: np.ndarray, texts: list[str]) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def star_schema(out_dir: str, seed: int, sf: float, **overrides: int) -> Sizes:
    """Write the ten query tables for ``(seed, sf)`` under ``out_dir``;
    ``overrides`` pin single table sizes (e.g. ``documents=120``)."""
    rng = np.random.default_rng([seed, 1])
    s = dataclasses.replace(Sizes.of(sf), **overrides)
    os.makedirs(out_dir, exist_ok=True)
    w = lambda name, t: write(t, os.path.join(out_dir, f"{name}.parquet"))  # noqa: E731

    w("region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    w(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )
    w("customer", customers(rng, np.arange(s.customer)))
    w(
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(s.supplier), pa.int64()),
                "s_name": [f"Supplier#{k:09d}" for k in range(s.supplier)],
                "s_nationkey": pa.array(rng.integers(0, 25, s.supplier), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.supplier)),
            }
        ),
    )
    pk = np.arange(s.part)
    w(
        "part",
        pa.table(
            {
                "p_partkey": pa.array(pk, pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 10, s.part), rng.integers(0, 10, s.part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.part)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, s.part)],
                "p_size": pa.array(rng.integers(1, 51, s.part), pa.int32()),
                "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
            }
        ),
    )
    orders, lines = orders_and_lines(
        rng, np.arange(s.orders), s.lineitem, s.customer, s.part, s.supplier
    )
    w("orders", orders)
    w("lineitem", lines)

    n_users = max(20, int(15_000 * sf))
    ev_base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, s.events)) + ev_base
    w(
        "events",
        pa.table(
            {
                "event_id": pa.array(np.arange(s.events), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_users, s.events), pa.int64()),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, s.events)],
                "value": np.round(rng.exponential(20.0, s.events) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
            }
        ),
    )
    w("documents", documents(rng, np.arange(s.documents), [doc_text(rng) for _ in range(s.documents)]))

    labels = rng.integers(0, 10, s.embeddings)
    centroids = rng.normal(size=(10, EMBED_DIMS))
    vecs = 0.15 * centroids[labels] + rng.normal(size=(s.embeddings, EMBED_DIMS)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    w(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(np.arange(s.embeddings), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
    )
    return s


# ----------------------------------------------------------- daily ETL

INGEST_TABLES = ("region", "nation", "supplier", "part", "customer", "orders", "lineitem")


# per-day change, as shares of the base orders / the running customer master
DAY_NEW_ORDERS = 0.02
DAY_REVALUED_CUSTOMERS = 0.05  # customers whose row changes today
DAY_NEW_CUSTOMERS = 0.01  # customers first seen today
DAY_ABSENT_CUSTOMERS = 0.02  # known customers missing from today's feed


def daily_snapshots(base_dir: str, out_root: str, seed: int, days: list[str]) -> Iterator[str]:
    """Write one full source snapshot per day under ``out_root/<day>``,
    lazily: a day is made when the caller asks for it.

    Day ``k``'s snapshot is day ``k-1``'s orders and lines plus new ones
    keyed past the running maximum, the customer master with some rows
    re-valued and some new, minus a seeded set of customers absent from
    that day's feed.  Yields the snapshot directories in day order."""
    rng = np.random.default_rng([seed, 2])
    read = lambda name: pq.read_table(os.path.join(base_dir, f"{name}.parquet"))  # noqa: E731
    static = {name: read(name) for name in ("region", "nation", "supplier", "part")}
    cust = read("customer")
    orders, lines = read("orders"), read("lineitem")
    n_base_orders = orders.num_rows
    lines_per_order = lines.num_rows / max(1, orders.num_rows)
    next_order = int(pc.max(orders["o_orderkey"]).as_py()) + 1
    next_cust = int(pc.max(cust["c_custkey"]).as_py()) + 1
    for day in days:
        n_new = max(1, int(DAY_NEW_ORDERS * n_base_orders))
        new_o, new_l = orders_and_lines(
            rng,
            np.arange(next_order, next_order + n_new),
            int(n_new * lines_per_order),
            next_cust,
            static["part"].num_rows,
            static["supplier"].num_rows,
        )
        next_order += n_new
        orders, lines = pa.concat_tables([orders, new_o]), pa.concat_tables([lines, new_l])

        n_c = cust.num_rows
        reval = rng.random(n_c) < DAY_REVALUED_CUSTOMERS
        acct = cust["c_acctbal"].to_numpy().copy()
        acct[reval] = _money(rng, -999.99, 9999.99, int(reval.sum()))
        seg = cust["c_mktsegment"].to_numpy(zero_copy_only=False).copy()
        seg[reval] = np.array(SEGMENTS)[rng.integers(0, 5, int(reval.sum()))]
        cust = cust.set_column(3, "c_acctbal", pa.array(acct)).set_column(
            4, "c_mktsegment", pa.array(seg)
        )
        n_add = max(1, int(DAY_NEW_CUSTOMERS * n_c))
        cust = pa.concat_tables([cust, customers(rng, np.arange(next_cust, next_cust + n_add))])
        next_cust += n_add
        feed = cust.filter(pa.array(rng.random(cust.num_rows) >= DAY_ABSENT_CUSTOMERS))

        d = os.path.join(out_root, day)
        os.makedirs(d, exist_ok=True)
        for name, t in (*static.items(), ("customer", feed), ("orders", orders), ("lineitem", lines)):
            write(t, os.path.join(d, f"{name}.parquet"))
        yield d


def day_names(first: str, n: int) -> list[str]:
    d0 = dt.date.fromisoformat(first)
    return [(d0 + dt.timedelta(days=i)).isoformat() for i in range(n)]


# -------------------------------------------------------- dedup serve


# shares of an increment's docs
DEDUP_FRESH = 0.6
DEDUP_REPEAT = 0.2  # exact repeats of an already-indexed text
DEDUP_NEAR = 0.2  # one-word edits of an already-indexed text


class DedupStream:
    """A corpus, then increments made on demand with globally monotone
    ids.

    Repeats and near-duplicates copy a text from the corpus or an
    earlier increment (the index holds every served doc, accepted or
    not), so an exact repeat must always be rejected."""

    def __init__(self, seed: int, corpus_size: int, increment_size: int) -> None:
        self._rng = np.random.default_rng([seed, 3])
        texts = [doc_text(self._rng) for _ in range(corpus_size)]
        self.corpus = documents(self._rng, np.arange(corpus_size), texts)
        self.increment_size = increment_size
        self.increments: list[pa.Table] = []
        self.repeat_ids: list[set[int]] = []  # per increment: ids repeating an indexed text
        self._indexed = texts
        self._next_id = corpus_size

    def next_increment(self) -> pa.Table:
        rng, n = self._rng, self.increment_size
        kinds = rng.choice(3, n, p=[DEDUP_FRESH, DEDUP_REPEAT, DEDUP_NEAR])
        texts, rep = [], set()
        for j, k in enumerate(kinds):
            if k == 0:
                texts.append(doc_text(rng))
            else:
                src = self._indexed[int(rng.integers(0, len(self._indexed)))]
                texts.append(src if k == 1 else near_dup(rng, src))
                if k == 1:
                    rep.add(self._next_id + j)
        inc = documents(rng, np.arange(self._next_id, self._next_id + n), texts)
        self.increments.append(inc)
        self.repeat_ids.append(rep)
        self._indexed.extend(texts)
        self._next_id += n
        return inc
