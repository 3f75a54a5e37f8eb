"""Seeded generator for the tables the catalog_loops entries read.

Writes ``part``, ``orders``, ``lineitem``, ``events`` and ``documents`` as
one parquet file each, with the column names and types of the engine's
TPC-H-ish test corpus (``tools/testdata_manifest.json``) at its smallest
scale: 200 parts, 1500 orders, ~6000 line items, 1000 events and 500
documents. Only the seed changes the values; the shapes the iterative
entries depend on stay put (~4 parts per order basket over 200 parts, so
the co-purchase graph has ~1.5k edges; 15 users emitting 5 event types;
documents drawn from one small vocabulary, so near-duplicates exist).
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

N_PART, N_ORDER, N_CUST, N_SUPP = 200, 1500, 150, 10
N_EVENT, N_USER, N_DOC = 1000, 15, 500
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = (
    "the a fast slow big small key value order part line customer table "
    "column row data query join agg group filter sort merge hash scan window "
    "batch stream spark vector dup"
).split()
TABLES = ("part", "orders", "lineitem", "events", "documents")


def _write(out: Path, name: str, cols: dict[str, tuple[pa.DataType, list]]) -> None:
    table = pa.table({c: pa.array(v, type=t) for c, (t, v) in cols.items()})
    pq.write_table(table, out / f"{name}.parquet")


def generate(out_dir: str | Path, seed: int) -> str:
    """Write the five tables under ``out_dir``; returns it as a string."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    ts = pa.timestamp("us")
    day = dt.timedelta(days=1)
    base = dt.datetime(1995, 1, 1)

    _write(out, "part", {
        "p_partkey": (pa.int64(), list(range(N_PART))),
        "p_name": (pa.string(), [
            f"{rng.choice(['cold', 'small', 'large', 'shiny'])} "
            f"{rng.choice(['widget', 'bolt', 'gear', 'valve'])}"
            for _ in range(N_PART)
        ]),
        "p_brand": (pa.string(), [f"Brand#{rng.randint(1, 25)}" for _ in range(N_PART)]),
        "p_type": (pa.string(), [
            rng.choice(["ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE"])
            for _ in range(N_PART)
        ]),
        "p_size": (pa.int32(), [rng.randint(1, 50) for _ in range(N_PART)]),
        "p_retailprice": (pa.float64(), [900.0 + k / 10 for k in range(N_PART)]),
    })

    order_dates = [base + rng.randrange(2400) * day for _ in range(N_ORDER)]
    _write(out, "orders", {
        "o_orderkey": (pa.int64(), list(range(N_ORDER))),
        "o_custkey": (pa.int64(), [rng.randrange(N_CUST) for _ in range(N_ORDER)]),
        "o_orderstatus": (pa.string(), [rng.choice("FOP") for _ in range(N_ORDER)]),
        "o_totalprice": (pa.float64(), [
            round(rng.uniform(1000.0, 300000.0), 2) for _ in range(N_ORDER)
        ]),
        "o_orderdate": (ts, order_dates),
        "o_orderpriority": (pa.string(), [
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
            for _ in range(N_ORDER)
        ]),
    })

    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )}
    for ok in range(N_ORDER):
        # basket sizes ~ 1..12, mean 4, as in the reference corpus
        for line in range(1, min(12, max(1, round(rng.gauss(4, 2)))) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(N_PART))
            li["l_suppkey"].append(rng.randrange(N_SUPP))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900.0, 2100.0), 2))
            li["l_discount"].append(round(rng.randint(0, 10) / 100, 2))
            li["l_tax"].append(round(rng.randint(0, 8) / 100, 2))
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(order_dates[ok] + rng.randint(1, 120) * day)
    types = [pa.int64()] * 3 + [pa.int32()] + [pa.float64()] * 4 + [pa.string()] * 2 + [ts]
    _write(out, "lineitem", {k: (t, v) for (k, v), t in zip(li.items(), types)})

    t0 = dt.datetime(2024, 1, 1)
    stamps = sorted(
        t0 + dt.timedelta(microseconds=rng.randrange(30 * 86_400_000_000))
        for _ in range(N_EVENT)
    )
    _write(out, "events", {
        "event_id": (pa.int64(), list(range(N_EVENT))),
        "ts": (ts, stamps),
        "user_id": (pa.int64(), [rng.randrange(N_USER) for _ in range(N_EVENT)]),
        "event_type": (pa.string(), [rng.choice(EVENT_TYPES) for _ in range(N_EVENT)]),
        "value": (pa.float64(), [round(rng.uniform(1.0, 200.0), 2) for _ in range(N_EVENT)]),
        "props": (pa.string(), [f'{{"k": {rng.randrange(100)}}}' for _ in range(N_EVENT)]),
    })

    texts = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 90)))
        for _ in range(N_DOC)
    ]
    _write(out, "documents", {
        "doc_id": (pa.int64(), list(range(N_DOC))),
        "text": (pa.string(), texts),
        "lang": (pa.string(), [
            rng.choices(["en", "de", "es", "fr", "zh"], [4, 1, 1, 1, 1])[0]
            for _ in range(N_DOC)
        ]),
        "source": (pa.string(), [f"src{rng.randrange(20)}" for _ in range(N_DOC)]),
        "n_chars": (pa.int64(), [len(t) for t in texts]),
    })
    return str(out)
