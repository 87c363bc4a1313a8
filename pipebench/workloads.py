"""The benchmark's workloads. Each drives the program only through its
public entry points and checks every op's output against a reference
computed with DuckDB from the same generated inputs.

A workload runs in one directory: ``in/`` holds the generated inputs,
``out/`` everything the program writes. Setup generates the inputs and
prepares state; each op is one unit of user-visible work.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
from dataclasses import dataclass, field
from datetime import date, datetime

import duckdb
import numpy as np

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class OpResult:
    rows: int                         # input rows the op processed
    failed_nodes: list[str] = field(default_factory=list)
    value: object = None


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _node_failures(results) -> list[str]:
    return [
        f"{name}: {r.status} {(r.error or '')[:300]}"
        for name, r in results.items() if r.status != "success"
    ]


class Workload:
    name = ""
    yaml: str | None = None
    WARMUP_OPS = 1      # untimed ops before timing, part of setup
    MAX_OPS = 10**9
    REPEATABLE = True   # op i can run again on the same input
    # the harness swaps in the tracer's span in traced ops
    span = staticmethod(lambda layer, name: contextlib.nullcontext())

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.in_dir = os.path.join(root, "in")
        self.out_dir = os.path.join(root, "out")
        self.catalog_dir: str | None = None
        self.pipeline = None
        os.environ["PB_IN"] = self.in_dir
        os.environ["PB_OUT"] = self.out_dir

    # setup --------------------------------------------------------------
    def generate(self) -> None:
        """Write the inputs for this seed into ``in_dir``."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Setup after generation that a user also pays (views, state)."""
        os.makedirs(self.out_dir, exist_ok=True)

    def reference(self) -> None:
        """Compute the expected outputs (benchmark-side, not setup)."""

    # ops ------------------------------------------------------------------
    def before_op(self, i: int) -> None:
        """Untimed preparation of op ``i``."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def check(self, i: int, res: OpResult) -> str | None:
        """None when op ``i``'s outputs are correct, else the mismatch."""
        raise NotImplementedError

    def changed_rows(self, i: int) -> int:
        """Rows op ``i`` delivers to its targets (all input rows for a
        full build)."""
        return 0

    def hwm_rows(self, i: int) -> int:
        """Rows past the high-water mark that op ``i`` must read."""
        return 0

    def input_bytes(self) -> int:
        """Bytes of generated input the program has been given so far."""
        return self.generated_bytes

    def _run_pipeline(self):
        from odibi_spark.plans import Pipeline

        self.pipeline = Pipeline.from_yaml(os.path.join(HERE, self.yaml), self.spark)
        return self.pipeline.run(parallel=True)


# ---------------------------------------------------------------------------
class StarBuild(Workload):
    """One op = one full star-schema build from an empty output dir."""

    name = "star_build"
    yaml = "star_build.yaml"
    SF = 0.02
    # the first build runs cold; the second still compiles hot paths
    WARMUP_OPS = 2

    def generate(self) -> None:
        tables = datagen.star_inputs(self.seed, self.SF)
        self.input_rows = sum(t.num_rows for t in tables.values())
        self.generated_bytes = sum(
            datagen.write_parquet(t, os.path.join(self.in_dir, f"{k}.parquet"))
            for k, t in tables.items()
        )

    def reference(self) -> None:
        con = _duck()
        p = lambda t: f"read_parquet('{self.in_dir}/{t}.parquet')"  # noqa: E731
        self.expected = con.execute(f"""
            WITH li AS (
                SELECT l.*, o.o_custkey,
                       count(*) OVER (PARTITION BY l_orderkey, l_linenumber) AS n,
                       o.o_custkey NOT IN (SELECT c_custkey FROM {p('customer')}) AS orphan
                FROM {p('lineitem')} l JOIN {p('orders')} o ON o.o_orderkey = l.l_orderkey)
            SELECT count(*) FILTER (WHERE n = 1 AND NOT orphan),
                   sum(l_extendedprice * (1 - l_discount)) FILTER (WHERE n = 1 AND NOT orphan),
                   count(*) FILTER (WHERE n > 1),
                   count(*) FILTER (WHERE n = 1 AND orphan)
            FROM li""").fetchone()
        con.close()

    def op(self, i: int) -> OpResult:
        return OpResult(self.input_rows, _node_failures(self._run_pipeline()))

    def check(self, i: int, res: OpResult) -> str | None:
        con = _duck()
        o = lambda t: f"read_parquet('{self.out_dir}/{t}/*.parquet')"  # noqa: E731
        fact_n, revenue = con.execute(
            f"SELECT count(*), sum(revenue) FROM {o('fact_lineitem')}").fetchone()
        grain_q = con.execute(f"SELECT count(*) FROM {o('quarantine_grain')}").fetchone()[0]
        valid_q = con.execute(
            f"SELECT count(*) FROM {o('quarantine_validation')}").fetchone()[0]
        agg_n = con.execute(f"SELECT sum(n_lines) FROM {o('revenue_by_year')}").fetchone()[0]
        con.close()
        exp_n, exp_rev, exp_grain, exp_orphan = self.expected
        got = (fact_n, grain_q, valid_q, agg_n)
        want = (exp_n, exp_grain, exp_orphan, exp_n)
        if got != want or not math.isclose(revenue, exp_rev, rel_tol=1e-9):
            return f"star outputs (fact, grain_q, valid_q, agg, revenue) {got + (revenue,)} != {want + (exp_rev,)}"
        return None

    def changed_rows(self, i: int) -> int:
        return self.input_rows


# ---------------------------------------------------------------------------
class IncrementalBatches(Workload):
    """One op = one catalogued pipeline run. Op 0 is the bootstrap (a full
    load of the base snapshot); op ``i`` > 0 first lands batch ``i``."""

    name = "incremental_batches"
    yaml = "incremental_batches.yaml"
    SF = 0.1
    N_BATCHES = 40
    MAX_OPS = N_BATCHES + 1
    REPEATABLE = False  # a second run of a batch finds nothing past the HWM
    # the bootstrap, then two batches to warm the upsert and SCD2 paths
    WARMUP_OPS = 3

    DIGEST = """SELECT count(*), sum(hash(o_orderkey, o_custkey, o_orderstatus,
                       o_totalprice, epoch_us(updated_at)))::VARCHAR FROM {src}"""
    CUST_DIGEST = """SELECT count(*) FILTER (WHERE is_current),
                            sum(hash(c_custkey, c_mktsegment, c_acctbal))
                                FILTER (WHERE is_current)::VARCHAR,
                            count(*) FROM {src}"""

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        n_cust, n_ord = int(150_000 * self.SF), int(1_500_000 * self.SF)
        cust = datagen.customers(rng, n_cust)
        ords = datagen.orders(rng, n_ord, n_cust, orphan_share=0.0)
        stamp = lambda n: datagen.ts(np.full(n, datagen.BATCH_EPOCH))  # noqa: E731
        base_o = ords.select(
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        ).append_column("updated_at", stamp(n_ord))
        base_c = cust.select(
            ["c_custkey", "c_mktsegment", "c_acctbal"]
        ).append_column("updated_at", stamp(n_cust))
        self.batches = [{"orders": base_o, "customers": base_c}] + datagen.mutation_batches(
            self.seed, base_o, base_c, self.N_BATCHES)
        self.landed_bytes = 0
        self._land(0)

    def _land(self, b: int) -> None:
        for kind in ("orders", "customers"):
            path = os.path.join(self.in_dir, "landing", kind, f"batch-{b:05d}.parquet")
            self.landed_bytes += datagen.write_parquet(self.batches[b][kind], path)

    def prepare(self) -> None:
        super().prepare()
        from odibi_spark.catalog import Catalog

        self.catalog_dir = os.path.join(self.out_dir, "catalog")
        self.catalog = Catalog(self.spark, self.catalog_dir)

    def reference(self) -> None:
        """Start the reference fold; ``_expected`` advances it one batch
        at a time, as far as the ops go."""
        self.con = _duck()
        self.expected, self.delivered = [], []
        self.versions = 0

    def _expected(self, i: int):
        """State after op ``i``: the batches up to ``i`` folded with the
        HWM rule, which applies only rows stamped after every row applied
        before them. Batch 0 is the base snapshot."""
        con = self.con
        while len(self.expected) <= i:
            b = self.batches[len(self.expected)]
            con.register("bo", b["orders"])
            con.register("bc", b["customers"])
            if not self.expected:
                con.execute("CREATE TABLE ro AS SELECT * FROM bo LIMIT 0")
                con.execute("CREATE TABLE rc AS SELECT * FROM bc LIMIT 0")
            con.execute("""CREATE OR REPLACE TEMP TABLE fresh AS SELECT * FROM bo
                WHERE updated_at > coalesce((SELECT max(updated_at) FROM ro),
                                            TIMESTAMPTZ '1900-01-01')""")
            con.execute("DELETE FROM ro WHERE o_orderkey IN (SELECT o_orderkey FROM fresh)")
            con.execute("INSERT INTO ro SELECT * FROM fresh")
            n_fresh = con.execute("SELECT count(*) FROM fresh").fetchone()[0]
            self.versions += con.execute("""SELECT count(*) FROM bc LEFT JOIN rc USING (c_custkey)
                WHERE rc.c_custkey IS NULL
                   OR bc.c_mktsegment IS DISTINCT FROM rc.c_mktsegment
                   OR bc.c_acctbal IS DISTINCT FROM rc.c_acctbal""").fetchone()[0]
            con.execute("DELETE FROM rc WHERE c_custkey IN (SELECT c_custkey FROM bc)")
            con.execute("INSERT INTO rc SELECT * FROM bc")
            cur = con.execute("""SELECT count(*), sum(hash(c_custkey, c_mktsegment,
                                 c_acctbal))::VARCHAR FROM rc""").fetchone()
            self.expected.append((
                con.execute(self.DIGEST.format(src="ro")).fetchone(),
                (cur[0], cur[1], self.versions),
            ))
            self.delivered.append(n_fresh + b["customers"].num_rows)
        return self.expected[i]

    def before_op(self, i: int) -> None:
        if i > 0:
            self._land(i)

    def op(self, i: int) -> OpResult:
        from odibi_spark.catalog import run_pipeline_with_catalog
        from odibi_spark.plans import Pipeline

        self.pipeline = Pipeline.from_yaml(os.path.join(HERE, self.yaml), self.spark)
        _, results = run_pipeline_with_catalog(
            self.pipeline, catalog=self.catalog, parallel=True)
        rows = sum(t.num_rows for t in self.batches[i].values())
        return OpResult(rows, _node_failures(results))

    def check(self, i: int, res: OpResult) -> str | None:
        con = _duck()
        got_o = con.execute(self.DIGEST.format(
            src=f"read_parquet('{self.out_dir}/orders/*.parquet')")).fetchone()
        got_c = con.execute(self.CUST_DIGEST.format(
            src=f"read_parquet('{self.out_dir}/dim_customer/*.parquet')")).fetchone()
        con.close()
        want_o, want_c = self._expected(i)
        if tuple(got_o) != tuple(want_o) or tuple(got_c) != tuple(want_c):
            return f"batch {i}: orders {got_o} != {want_o} or customers {got_c} != {want_c}"
        return None

    def changed_rows(self, i: int) -> int:
        self._expected(i)
        return self.delivered[i]

    def hwm_rows(self, i: int) -> int:
        return self.changed_rows(i)

    def input_bytes(self) -> int:
        return self.landed_bytes


# ---------------------------------------------------------------------------
SEM_METRICS = {
    # name: (semantic-model spec, hand-written DuckDB expression)
    "revenue": ("SUM(l_extendedprice * (1 - l_discount))",
                "SUM(l_extendedprice * (1 - l_discount))"),
    "quantity": ("SUM(l_quantity)", "SUM(l_quantity)"),
    "orders": ("COUNT(DISTINCT o_orderkey)", "COUNT(DISTINCT o_orderkey)"),
    "customers": ("COUNT(DISTINCT c_custkey)", "COUNT(DISTINCT c_custkey)"),
    "gross": ("SUM(l_extendedprice)", "SUM(l_extendedprice)"),
    "disc_amount": ("SUM(l_extendedprice * l_discount)", "SUM(l_extendedprice * l_discount)"),
    "avg_order_value": ({"formula": "revenue / orders"},
                        "SUM(l_extendedprice * (1 - l_discount)) / NULLIF(COUNT(DISTINCT o_orderkey), 0)"),
    "discount_share": ({"formula": "disc_amount / gross"},
                       "SUM(l_extendedprice * l_discount) / NULLIF(SUM(l_extendedprice), 0)"),
}
SEM_DIMS = {
    "segment": ("c_mktsegment", "c_mktsegment"),
    "nation": ("c_nationkey", "c_nationkey"),
    "returnflag": ("l_returnflag", "l_returnflag"),
    "status": ("o_orderstatus", "o_orderstatus"),
    "priority": ("o_orderpriority", "o_orderpriority"),
    "order_month": ({"column": "o_orderdate", "grain": "month"},
                    "date_trunc('month', o_orderdate)"),
    "ship_year": ({"column": "l_shipdate", "grain": "year"},
                  "date_trunc('year', l_shipdate)"),
}
SEM_WHERES = [
    "c_mktsegment = '{segment}'",
    "l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00'",
    "l_quantity < {qty}",
    "o_orderpriority IN ('1-URGENT', '2-HIGH')",
]


def semantic_query_pool(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` (semantic query, DuckDB SQL) pairs.

    The query shapes (metrics, dimensions, filter kind) are one fixed
    rotation, so runs with different seeds do the same mix of work at
    the same op index; blocks of the rotation lead with each metric
    once. The seed draws the filter constants, as it draws the data."""
    shapes = np.random.default_rng(0)
    consts = np.random.default_rng(seed + 31337)
    metrics, dims = list(SEM_METRICS), list(SEM_DIMS)
    out = []
    while len(out) < n:
        for lead in shapes.permutation(metrics):
            ms = [str(lead)]
            if shapes.random() < 0.5:
                ms.append(str(shapes.choice([m for m in metrics if m != lead])))
            ds = [str(d) for d in shapes.choice(dims, shapes.integers(1, 3), replace=False)]
            kind = int(shapes.integers(0, len(SEM_WHERES) + 2))
            where = SEM_WHERES[kind].format(
                segment=datagen.SEGMENTS[consts.integers(0, 5)],
                year=int(consts.integers(1995, 2001)),
                qty=int(consts.integers(10, 45)),
            ) if kind < len(SEM_WHERES) else None
            q = ", ".join(ms) + " BY " + ", ".join(ds) + (f" WHERE {where}" if where else "")
            sel = [f"{SEM_DIMS[d][1]} AS {d}" for d in ds] + [
                f"{SEM_METRICS[m][1]} AS {m}" for m in ms]
            sql = f"SELECT {', '.join(sel)} FROM sales"
            if where:
                sql += f" WHERE {where}"
            sql += " GROUP BY " + ", ".join(str(k + 1) for k in range(len(ds)))
            out.append((q, sql))
    return out[:n]


def _norm(v):
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d 00:00:00")
    if isinstance(v, (np.integer,)):
        return int(v)
    return v


def rows_match(got: list[tuple], want: list[tuple], n_keys: int) -> str | None:
    """Compare grouped results: keys exactly, values to 1e-9 relative."""
    key = lambda r: tuple(str(_norm(x)) for x in r[:n_keys])  # noqa: E731
    g = sorted(([_norm(x) for x in r] for r in got), key=key)
    w = sorted(([_norm(x) for x in r] for r in want), key=key)
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    for a, b in zip(g, w):
        if a[:n_keys] != b[:n_keys]:
            return f"group {a[:n_keys]} != {b[:n_keys]}"
        for x, y in zip(a[n_keys:], b[n_keys:]):
            if x is None or y is None:
                if x is not y:
                    return f"{a} != {b}"
            elif not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9):
                return f"{a} != {b}"
    return None


class SemanticQueries(Workload):
    """One op = one seed-drawn semantic query, executed and collected."""

    name = "semantic_queries"
    SF = 0.01
    N_QUERIES = 400
    # query latency keeps falling over the first queries while the JVM
    # compiles the driver's planning code
    WARMUP_OPS = 10

    def generate(self) -> None:
        tables = datagen.star_inputs(self.seed, self.SF)
        self.fact_rows = tables["lineitem"].num_rows
        self.generated_bytes = sum(
            datagen.write_parquet(tables[k], os.path.join(self.in_dir, f"{k}.parquet"))
            for k in ("customer", "orders", "lineitem")
        )

    def prepare(self) -> None:
        from odibi_spark.semantics.metrics import SemanticModel
        from odibi_spark.semantics.query import SemanticQuery

        for t in ("customer", "orders", "lineitem"):
            self.spark.read.parquet(f"{self.in_dir}/{t}.parquet").createOrReplaceTempView(t)
        self.spark.sql("""CREATE OR REPLACE TEMP VIEW sales AS
            SELECT l.*, o.*, c.* FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey""")
        model = SemanticModel.from_dict({
            "source": "sales",
            "metrics": {k: v[0] for k, v in SEM_METRICS.items()},
            "dimensions": {k: v[0] for k, v in SEM_DIMS.items()},
        })
        self.sq = SemanticQuery(model)
        self.pool = semantic_query_pool(self.seed, self.N_QUERIES)

    def reference(self) -> None:
        self.con = _duck()
        p = lambda t: f"read_parquet('{self.in_dir}/{t}.parquet')"  # noqa: E731
        self.con.execute(f"""CREATE TABLE sales AS
            SELECT l.* REPLACE (l_shipdate::TIMESTAMP AS l_shipdate),
                   o.* REPLACE (o_orderdate::TIMESTAMP AS o_orderdate), c.*
            FROM {p('lineitem')} l JOIN {p('orders')} o ON o.o_orderkey = l.l_orderkey
            JOIN {p('customer')} c ON c.c_custkey = o.o_custkey""")

    def before_op(self, i: int) -> None:
        pass

    def op(self, i: int) -> OpResult:
        q = self.pool[i % len(self.pool)][0]
        df = self.sq.execute(self.spark, q)
        with self.span("semantics", "collect"):
            rows = [tuple(r) for r in df.collect()]
        return OpResult(self.fact_rows, value=rows)

    def check(self, i: int, res: OpResult) -> str | None:
        q, sql = self.pool[i % len(self.pool)]
        want = self.con.execute(sql).fetchall()
        n_keys = len(q.split(" BY ")[1].split(" WHERE ")[0].split(","))
        err = rows_match(res.value, want, n_keys)
        return f"query {q!r}: {err}" if err else None


# ---------------------------------------------------------------------------
class CurationDocs(Workload):
    """One op = one run of the three curation nodes over the corpus."""

    name = "curation_docs"
    yaml = "curation_docs.yaml"
    N_DOCS = 1000
    pinned: str | None = None   # output digest of the warm-up op

    def generate(self) -> None:
        docs = datagen.documents(self.seed, self.N_DOCS)
        self.input_rows = docs.num_rows
        self.generated_bytes = datagen.write_parquet(
            docs, os.path.join(self.in_dir, "documents.parquet"))

    def op(self, i: int) -> OpResult:
        return OpResult(self.input_rows, _node_failures(self._run_pipeline()))

    def check(self, i: int, res: OpResult) -> str | None:
        con = _duck()
        out = f"read_parquet('{self.out_dir}/clean/*.parquet')"
        n, ids, texts, outside, digest = con.execute(f"""
            SELECT count(*), count(DISTINCT doc_id), count(DISTINCT text),
                   count(*) FILTER (WHERE doc_id NOT IN (
                       SELECT doc_id FROM read_parquet('{self.in_dir}/documents.parquet'))),
                   md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id))
            FROM {out}""").fetchone()
        con.close()
        if n == 0 or ids != n or texts != n or outside:
            return f"clean docs: rows {n}, distinct ids {ids}, distinct texts {texts}, not in input {outside}"
        # the warm-up op pins the digest; every later op must reproduce it
        if self.pinned is None:
            self.pinned = digest
        elif digest != self.pinned:
            return f"clean docs digest {digest} != pinned {self.pinned}"
        return None

    def changed_rows(self, i: int) -> int:
        return self.input_rows


WORKLOADS = {w.name: w for w in (StarBuild, IncrementalBatches, SemanticQueries, CurationDocs)}
