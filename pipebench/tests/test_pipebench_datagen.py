"""Inputs are a pure function of the seed; planted defects are present."""

import numpy as np

import datagen
import workloads


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (datagen.star_inputs(s, 0.002) for s in (7, 7, 8))
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert datagen.documents(7, 200).equals(datagen.documents(7, 200))


def test_star_inputs_plant_grain_duplicates_and_orphans():
    t = datagen.star_inputs(3, 0.01)
    li = t["lineitem"]
    keys = list(zip(li.column("l_orderkey").to_pylist(), li.column("l_linenumber").to_pylist()))
    assert len(keys) > len(set(keys))
    n_cust = t["customer"].num_rows
    assert max(t["orders"].column("o_custkey").to_pylist()) > n_cust


def test_batches_hold_late_rows_below_the_previous_high_water_mark():
    rng = np.random.default_rng(0)
    cust = datagen.customers(rng, 100)
    ords = datagen.orders(rng, 1000, 100, orphan_share=0.0)
    stamp = datagen.ts(np.full(1000, datagen.BATCH_EPOCH))
    base = ords.select(["o_orderkey"]).append_column("updated_at", stamp)
    batches = datagen.mutation_batches(1, base, cust, 3, late_rows=2)
    prev_max = datagen.BATCH_EPOCH
    for b in batches:
        ts = b["orders"].column("updated_at").to_numpy().astype("datetime64[us]")
        keys = b["orders"].column("o_orderkey").to_pylist()
        assert len(keys) == len(set(keys))
        assert (ts <= prev_max).sum() == 2
        prev_max = ts.max()


def test_semantic_query_shapes_do_not_depend_on_the_seed():
    shape = lambda q: q.split(" WHERE ")[0]  # noqa: E731
    a = [shape(q) for q, _ in workloads.semantic_query_pool(1, 40)]
    b = [shape(q) for q, _ in workloads.semantic_query_pool(2, 40)]
    assert a == b
    assert {q.split(",")[0].split(" BY ")[0] for q in a[:8]} == set(workloads.SEM_METRICS)
