"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy/pyarrow: the program under test only ever
sees the parquet files and JSON feeds these functions write.  The same
seed always yields byte-identical inputs.

Table shapes follow the TPC-H-ish fixture schemas the package's faces
read (region, nation, customer, supplier, part, orders, lineitem,
documents).  ``scale=1.0`` is 1,500 customers, 15,000 orders and about
60,000 line items, i.e. the size of the sf0.01 fixture.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("F", "O", "P")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
FIRST_DAY = np.datetime64("1995-01-01")
N_DAYS = int((np.datetime64("2001-08-01") - FIRST_DAY).astype(int))

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose), so adding draws to
    one input never shifts another."""
    return np.random.default_rng([seed, *stream.encode()])


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# TPC-H-ish tables
# ---------------------------------------------------------------------------


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _unique_order_days(
    rng: np.random.Generator, custkeys: np.ndarray, taken: set[tuple[int, int]]
) -> np.ndarray:
    """Order days with no two orders of one customer on the same day.

    The star's fact grain is (day, customer, payment, shipping, product,
    category); two orders of one customer on one day could share a
    grain row, and a key-merge of one of them would then replace the
    other's row.  Keeping (customer, day) unique keeps every fact row
    owned by exactly one order, so a CDC drain converges to the rebuild.
    """
    days = rng.integers(0, N_DAYS, len(custkeys))
    for i, c in enumerate(custkeys.tolist()):
        d = int(days[i])
        while (c, d) in taken:
            d = (d + 1) % N_DAYS
        taken.add((c, d))
        days[i] = d
    return days


def _orders_and_lines(
    rng: np.random.Generator,
    first_key: int,
    n_orders: int,
    n_cust: int,
    n_part: int,
    n_supp: int,
    taken: set[tuple[int, int]],
) -> tuple[pa.Table, pa.Table]:
    keys = np.arange(first_key, first_key + n_orders, dtype=np.int64)
    cust = rng.integers(0, n_cust, n_orders).astype(np.int64)
    days = _unique_order_days(rng, cust, taken)
    orderdate = FIRST_DAY + days.astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": cust,
            "o_orderstatus": _pick(rng, STATUSES, n_orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": pa.array(orderdate.astype("datetime64[us]")),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )
    per_order = rng.integers(1, 8, n_orders)
    n_lines = int(per_order.sum())
    l_order = np.repeat(keys, per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(n_lines) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    ship = np.repeat(orderdate, per_order) + rng.integers(1, 122, n_lines).astype(
        "timedelta64[D]"
    )
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(20.0, 2100.0, n_lines), 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_lines),
            "l_linestatus": _pick(rng, ("F", "O"), n_lines),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    return orders, lineitem


@dataclass
class TpchSizes:
    customers: int
    suppliers: int
    parts: int
    orders: int

    @classmethod
    def at(cls, scale: float) -> TpchSizes:
        return cls(
            customers=max(50, int(1500 * scale)),
            suppliers=max(10, int(100 * scale)),
            parts=max(60, int(2000 * scale)),
            orders=max(500, int(15000 * scale)),
        )


def tpch_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The seven TPC-H-ish tables at ``scale`` (1.0 ≈ the sf0.01 fixture)."""
    rng = rng_for(seed, "tpch")
    n = TpchSizes.at(scale)
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n.customers, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n.customers)],
            "c_nationkey": rng.integers(0, 25, n.customers).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n.customers),
            "c_mktsegment": _pick(rng, SEGMENTS, n.customers),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n.suppliers, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n.suppliers)],
            "s_nationkey": rng.integers(0, 25, n.suppliers).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n.suppliers),
        }
    )
    pk = np.arange(n.parts, dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    _pick(rng, PART_ADJ, n.parts), _pick(rng, PART_NOUN, n.parts)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n.parts)],
            "p_type": _pick(rng, PART_TYPES, n.parts),
            "p_size": rng.integers(1, 51, n.parts).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    orders, lineitem = _orders_and_lines(
        rng, 0, n.orders, n.customers, n.parts, n.suppliers, set()
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


# ---------------------------------------------------------------------------
# oltp_cdc: the "after" snapshot and the change feed
# ---------------------------------------------------------------------------

# Each CDC batch carries one fact-wide event table (rebuilds a star slice
# and merges all seven star tables) and one dim-only table (merges one
# dimension), so every batch does the same number of table rewrites and
# batch latencies are comparable across key counts.
FACT_EVENT_TABLES = ("orden", "ventas", "orden_producto")
DIM_EVENT_TABLES = ("clientes", "productos")
BATCH_KEYS = (10, 100, 1000)
DIM_SHARE = 0.3


@dataclass
class ChangeBatch:
    after: dict[str, pa.Table]
    events: list[dict] = field(default_factory=list)


def _replace(table: pa.Table, name: str, values) -> pa.Table:
    i = table.schema.get_field_index(name)
    f = table.schema.field(i)
    return table.set_column(i, f, pa.array(values, f.type))


def batch_tables(cycle: int) -> tuple[str, str, int]:
    """(fact-wide table, dim-only table, distinct keys) of batch ``cycle``."""
    return (
        FACT_EVENT_TABLES[cycle % len(FACT_EVENT_TABLES)],
        DIM_EVENT_TABLES[cycle % len(DIM_EVENT_TABLES)],
        BATCH_KEYS[cycle % len(BATCH_KEYS)],
    )


def change_batch(before: dict[str, pa.Table], seed: int, cycle: int) -> ChangeBatch:
    """Mutate ``before`` into the "after" snapshot of batch ``cycle`` and
    the events that announce every mutation.

    Mutations touch only non-key attributes (customer name and segment,
    part name and type, order total, line quantity and price) and
    ``orden`` batches also insert new orders with their lines.  Part
    prices are left alone: the fact's margin reads them, and a product
    event is dim-only in the reference dispatcher, so a price change
    would by design leave the stored fact stale.  Every changed record
    gets exactly one event, so draining the batch must converge to a
    fresh build of the after snapshot.
    """
    rng = rng_for(seed, f"cdc-{cycle}")
    fact_table, dim_table, n_keys = batch_tables(cycle)
    n_dim = max(1, int(n_keys * DIM_SHARE))
    n_fact = n_keys - n_dim
    after = dict(before)
    events: list[tuple[str, int]] = []

    if dim_table == "clientes":
        customer = before["customer"]
        ids = rng.choice(customer.num_rows, n_dim, replace=False)
        names = customer.column("c_name").to_pylist()
        segs = customer.column("c_mktsegment").to_pylist()
        for c in ids.tolist():
            names[c] = f"{names[c]}-v{cycle}"
            segs[c] = SEGMENTS[(SEGMENTS.index(segs[c]) + 1) % len(SEGMENTS)]
        after["customer"] = _replace(_replace(customer, "c_name", names), "c_mktsegment", segs)
        keys = customer.column("c_custkey").to_numpy()[ids]
    else:
        part = before["part"]
        ids = rng.choice(part.num_rows, n_dim, replace=False)
        pnames = part.column("p_name").to_pylist()
        ptypes = part.column("p_type").to_pylist()
        for p in ids.tolist():
            adj = PART_ADJ[int(rng.integers(len(PART_ADJ)))]
            pnames[p] = f"{adj} {pnames[p].split()[-1]}"
            ptypes[p] = PART_TYPES[(PART_TYPES.index(ptypes[p]) + 1) % len(PART_TYPES)]
        after["part"] = _replace(_replace(part, "p_name", pnames), "p_type", ptypes)
        keys = part.column("p_partkey").to_numpy()[ids]
    events += [(dim_table, int(k)) for k in keys]

    orders = before["orders"]
    lineitem = before["lineitem"]
    if fact_table == "orden_producto":
        rows = rng.choice(lineitem.num_rows, n_fact, replace=False)
        qty = lineitem.column("l_quantity").to_numpy().copy()
        price = lineitem.column("l_extendedprice").to_numpy().copy()
        qty[rows] = rng.integers(1, 51, n_fact).astype(np.float64)
        price[rows] = np.round(qty[rows] * rng.uniform(20.0, 2100.0, n_fact), 2)
        after["lineitem"] = _replace(
            _replace(lineitem, "l_quantity", qty), "l_extendedprice", price
        )
        l_order = lineitem.column("l_orderkey").to_numpy()[rows]
        l_num = lineitem.column("l_linenumber").to_numpy()[rows]
        events += [(fact_table, int(o) * 10 + int(n)) for o, n in zip(l_order, l_num)]
    else:
        n_insert = n_fact // 2 if fact_table == "orden" else 0
        n_update = n_fact - n_insert
        rows = rng.choice(orders.num_rows, n_update, replace=False)
        totals = orders.column("o_totalprice").to_numpy().copy()
        totals[rows] = _money(rng, 1000.0, 500000.0, n_update)
        orders = _replace(orders, "o_totalprice", totals)
        events += [(fact_table, int(k)) for k in orders.column("o_orderkey").to_numpy()[rows]]
        if n_insert:
            days = (
                (orders.column("o_orderdate").to_numpy() - FIRST_DAY)
                .astype("timedelta64[D]")
                .astype(int)
            )
            taken = set(zip(orders.column("o_custkey").to_pylist(), days.tolist()))
            first_new = int(orders.column("o_orderkey").to_numpy().max()) + 1
            new_orders, new_lines = _orders_and_lines(
                rng,
                first_new,
                n_insert,
                before["customer"].num_rows,
                before["part"].num_rows,
                before["supplier"].num_rows,
                taken,
            )
            orders = pa.concat_tables([orders, new_orders])
            after["lineitem"] = pa.concat_tables([lineitem, new_lines])
            events += [(fact_table, first_new + i) for i in range(n_insert)]
        after["orders"] = orders

    order = rng.permutation(len(events))
    return ChangeBatch(
        after=after,
        events=[
            {
                "table": events[i][0],
                "op": "update",
                "record_id": events[i][1],
                "ts": "2026-01-01 00:00:00",
            }
            for i in order
        ],
    )


def write_events(events: list[dict], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in events)


# ---------------------------------------------------------------------------
# corpus_maintenance: documents and chained ledger batches
# ---------------------------------------------------------------------------

VOCAB = (
    "agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table value "
    "vector window"
).split()
EN_MARKERS = ("the", "and", "of", "a", "is")
OTHER_MARKERS = {
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "les", "et", "des"),
    "de": ("der", "die", "das", "und", "ist"),
}
COPY_SUFFIX = " zz0 zz1 zz2"


def _doc_text(rng: np.random.Generator) -> str:
    n = int(rng.integers(12, 60))
    words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]
    lang = "en" if rng.random() < 0.7 else ("es", "fr", "de")[rng.integers(3)]
    markers = EN_MARKERS if lang == "en" else OTHER_MARKERS[lang]
    for _ in range(max(1, n // 5)):
        words.insert(int(rng.integers(0, len(words) + 1)), markers[rng.integers(len(markers))])
    return " ".join(words)


def documents(seed: int, n_docs: int) -> pa.Table:
    """A corpus with planted exact and near duplicates: about one doc in
    eight copies an earlier doc verbatim, one in eight copies it with a
    few words changed, so the standing ledger has losers and pairs."""
    rng = rng_for(seed, "docs")
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.125:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.25:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 12)):
                words[int(rng.integers(len(words)))] = VOCAB[rng.integers(len(VOCAB))]
            texts.append(" ".join(words))
        else:
            texts.append(_doc_text(rng))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": ["en"] * n_docs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


@dataclass
class CorpusBatch:
    rows: list[dict]
    deletes: int = 0
    retexts: int = 0
    verbatim_copies: int = 0
    near_copies: int = 0
    inserts: int = 0


def corpus_batches(
    docs: pa.Table, seed: int, n_batches: int, batch_size: int
) -> list[CorpusBatch]:
    """Chained CDC batches over ``docs`` in the ``curate-ledger-apply``
    format (doc_id, op, text).

    Each batch mixes deletes, re-texts (suffix appended), inserts, and
    two copy classes that make ``curated_upsert`` take its challenge
    branch: a doc rewritten to the VERBATIM text of a larger-id live doc
    (the batch row becomes the text's new minimum id), and a doc
    rewritten to a larger-id doc's text plus a suffix (a near-duplicate
    pair in the reverse id direction).  No doc id appears twice in one
    batch, and batches only touch docs still alive.
    """
    rng = rng_for(seed, "corpus")
    live = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    next_id = max(live) + 1
    out = []
    for _ in range(n_batches):
        ids = sorted(live)
        picked = [int(x) for x in rng.choice(len(ids) - 1, batch_size, replace=False)]
        batch = CorpusBatch(rows=[])
        used: set[int] = set()
        for k, idx in enumerate(picked):
            doc = ids[idx]
            if doc in used:
                continue
            kind = k % 5
            if kind in (2, 3):
                # Copy from a larger id that this batch leaves alone.
                src = ids[int(rng.integers(idx + 1, len(ids)))]
                if src in used:
                    kind = 1
            used.add(doc)
            if kind == 0:
                batch.rows.append({"doc_id": doc, "op": "delete", "text": None})
                batch.deletes += 1
            elif kind == 1:
                batch.rows.append({"doc_id": doc, "op": "upsert", "text": live[doc] + COPY_SUFFIX})
                batch.retexts += 1
            elif kind == 2:
                used.add(src)
                batch.rows.append({"doc_id": doc, "op": "upsert", "text": live[src]})
                batch.verbatim_copies += 1
            elif kind == 3:
                used.add(src)
                batch.rows.append({"doc_id": doc, "op": "upsert", "text": live[src] + COPY_SUFFIX})
                batch.near_copies += 1
            else:
                text = _doc_text(rng)
                batch.rows.append({"doc_id": next_id, "op": "upsert", "text": text})
                next_id += 1
                batch.inserts += 1
        for row in batch.rows:
            if row["op"] == "delete":
                live.pop(row["doc_id"])
            else:
                live[row["doc_id"]] = row["text"]
        out.append(batch)
    return out


def apply_corpus_batches(docs: pa.Table, batches: list[CorpusBatch]) -> pa.Table:
    """The accumulated corpus after ``batches`` — the rebuild input the
    chained ledger is checked against."""
    live = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    for b in batches:
        for row in b.rows:
            if row["op"] == "delete":
                live.pop(row["doc_id"], None)
            else:
                live[row["doc_id"]] = row["text"]
    ids = sorted(live)
    return pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "text": [live[i] for i in ids]}
    )


def write_corpus_batch(batch: CorpusBatch, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.writelines(json.dumps(r) + "\n" for r in batch.rows)
