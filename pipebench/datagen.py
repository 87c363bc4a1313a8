"""Seed-derived inputs for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, so two runs of one seed see the same work and
different seeds vary the data without changing its shape. The schemas
follow the TPC-H-like tables the project's examples use (customer,
part, orders, lineitem) plus a ``documents`` corpus for the curation
operators.

Planted defects make the pipelines' error paths do real work:

- ``lineitem``: a share of rows is duplicated on the fact grain
  ``(l_orderkey, l_linenumber)``, so the fact pattern quarantines them;
- ``orders``: a share of orders points at customer keys that do not
  exist, so the SK lookup yields the unknown member and validation
  quarantines those rows;
- ``documents``: exact and near-duplicate copies of earlier documents,
  plus short junk documents that the quality filter drops.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "fr", "de", "es", "zh"]
VOCAB = (
    "the a of and to spark batch line column order small sort fast value "
    "scan hash slow group agg filter query big key window row part table "
    "stream merge data join vector customer"
).split()

EPOCH_START = np.datetime64("1995-01-01T00:00:00", "us")
ORDER_SPAN_DAYS = 2400
# incremental batches are stamped after every base order
BATCH_EPOCH = np.datetime64("2002-01-01T00:00:00", "us")


def ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us", tz="UTC"))


def _str(fmt: str, values: np.ndarray) -> pa.Array:
    return pa.array([fmt % v for v in values.tolist()], type=pa.string())


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` as one parquet file; returns the bytes written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def customers(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": _str("Customer#%09d", keys),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def parts(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_name": _str("part %d", keys),
        "p_brand": _str("Brand#%d", rng.integers(11, 56, n)),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 2),
    })


def orders(
    rng: np.random.Generator, n: int, n_customers: int, orphan_share: float
) -> pa.Table:
    keys = np.arange(1, n + 1, dtype=np.int64)
    cust = rng.integers(1, n_customers + 1, n).astype(np.int64)
    orphan = rng.random(n) < orphan_share
    # orphan keys lie past the customer key range: no dimension member
    cust[orphan] = n_customers + 1 + rng.integers(0, n_customers, orphan.sum())
    days = rng.integers(0, ORDER_SPAN_DAYS, n)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": cust,
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(850.0, 550000.0, n), 2),
        "o_orderdate": ts(EPOCH_START + days.astype("timedelta64[D]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def lineitems(
    rng: np.random.Generator,
    order_table: pa.Table,
    n_parts: int,
    dup_share: float,
) -> pa.Table:
    okeys = order_table.column("o_orderkey").to_numpy()
    odates = order_table.column("o_orderdate").to_numpy().astype("datetime64[us]")
    per_order = rng.integers(1, 8, len(okeys))
    idx = np.repeat(np.arange(len(okeys)), per_order)
    starts = np.cumsum(per_order) - per_order
    linenumber = (np.arange(len(idx)) - np.repeat(starts, per_order) + 1).astype(np.int32)
    n = len(idx)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    ship = odates[idx] + rng.integers(1, 122, n).astype("timedelta64[D]")
    cols = {
        "l_orderkey": okeys[idx],
        "l_partkey": rng.integers(1, n_parts + 1, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1001, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": ship,
    }
    # grain violations: exact copies of a sample of rows
    dups = np.flatnonzero(rng.random(n) < dup_share)
    order = np.concatenate([np.arange(n), dups])
    out = {k: v[order] for k, v in cols.items()}
    out["l_shipdate"] = ts(out["l_shipdate"])
    return pa.table(out)


def star_inputs(seed: int, sf: float) -> dict[str, pa.Table]:
    """customer/part/orders/lineitem at TPC-H scale factor ``sf``
    (sf=0.1: 15k customers, 20k parts, 150k orders, ~600k lines)."""
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_ord = int(150_000 * sf), int(200_000 * sf), int(1_500_000 * sf)
    cust = customers(rng, n_cust)
    part = parts(rng, n_part)
    ords = orders(rng, n_ord, n_cust, orphan_share=0.01)
    line = lineitems(rng, ords, n_part, dup_share=0.005)
    return {"customer": cust, "part": part, "orders": ords, "lineitem": line}


def mutation_batches(
    seed: int,
    base_orders: pa.Table,
    base_customers: pa.Table,
    n_batches: int,
    *,
    update_share: float = 0.02,
    new_share: float = 0.005,
    late_rows: int = 5,
    customer_change_share: float = 0.10,
) -> list[dict[str, pa.Table]]:
    """``n_batches`` change sets for the incremental workload.

    Each batch holds ~2% updated orders plus new order keys, all
    stamped past every earlier batch, and ``late_rows`` updates whose
    ``updated_at`` lies below the previous batch's high-water mark (the
    HWM read must skip them); and ~10% of customers with a changed
    tracked attribute. Keys are unique within a batch.
    """
    rng = np.random.default_rng(seed + 7919)
    n_ord = base_orders.num_rows
    n_cust = base_customers.num_rows
    next_key = n_ord + 1
    cust_seg = base_customers.column("c_mktsegment").to_numpy(zero_copy_only=False).copy()
    cust_bal = base_customers.column("c_acctbal").to_numpy().copy()
    out = []
    for b in range(n_batches):
        t0 = BATCH_EPOCH + np.timedelta64(b + 1, "D")
        n_upd, n_new = int(n_ord * update_share), int(n_ord * new_share)
        upd = rng.choice(np.arange(1, next_key), n_upd + late_rows, replace=False)
        keys = np.concatenate([upd, np.arange(next_key, next_key + n_new)])
        next_key += n_new
        n = len(keys)
        stamp = t0 + rng.permutation(n).astype("timedelta64[s]")
        # late rows: stamped a day before the previous batch's window
        stamp[n_upd:n_upd + late_rows] = t0 - np.timedelta64(2, "D") + np.arange(
            late_rows
        ).astype("timedelta64[s]")
        ords = pa.table({
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n).astype(np.int64),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": np.round(rng.uniform(850.0, 550000.0, n), 2),
            "updated_at": ts(stamp),
        })
        chg = rng.choice(n_cust, int(n_cust * customer_change_share), replace=False)
        cust_seg[chg] = np.array(SEGMENTS)[rng.integers(0, 5, len(chg))]
        cust_bal[chg] = np.round(rng.uniform(-999.99, 9999.99, len(chg)), 2)
        cust = pa.table({
            "c_custkey": (chg + 1).astype(np.int64),
            "c_mktsegment": pa.array(cust_seg[chg]),
            "c_acctbal": cust_bal[chg],
            "updated_at": ts(t0 + np.arange(len(chg)).astype("timedelta64[s]")),
        })
        out.append({"orders": ords, "customers": cust})
    return out


def documents(seed: int, n: int) -> pa.Table:
    """A ``documents`` corpus: vocabulary text of 15-70 words, 10% near
    duplicates (5% of words replaced), 4% exact duplicates and 3% short
    junk documents."""
    rng = np.random.default_rng(seed + 104729)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.04:
            texts.append(texts[rng.integers(0, i)])
        elif i > 20 and r < 0.14:
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        elif r < 0.17:
            texts.append(" ".join(vocab[rng.integers(5, len(vocab), 3)]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(15, 71))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n)]),
        "source": _str("src%d", rng.integers(0, 8, n)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
