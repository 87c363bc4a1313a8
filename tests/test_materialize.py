"""One materialization per node lineage (plans/node.py module doc): a
pipeline run computes each node's frame once, releases every frame it
materialized when it returns, and writes from a materialized frame emit
no more files than a plain write would."""

import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import DoubleType

from odibi_spark.context import Context
from odibi_spark.patterns.fact import DimensionLookup, build_fact
from odibi_spark.plans import Pipeline
from odibi_spark.registry import get_registry
from odibi_spark.validation import run_validation

# the accumulator the counting transform bumps, swapped in per test
_ACC: dict = {}


def _count_rows(ctx, column):
    """Pass ``column`` through a Python UDF that counts every row it
    evaluates, so a test sees how often the lineage was computed."""
    acc = _ACC["acc"]

    def bump(v):
        acc.add(1)
        return v

    return ctx.df.withColumn(column, F.udf(bump, DoubleType())(F.col(column)))


if not get_registry().has("test_count_rows"):
    get_registry().register("test_count_rows", _count_rows)


@pytest.fixture()
def counter(spark):
    _ACC["acc"] = spark.sparkContext.accumulator(0)
    yield _ACC["acc"]
    _ACC.clear()


def _persistent_ids(spark) -> set[int]:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in rdds.keySet().toArray()}


@pytest.fixture()
def released(spark, monkeypatch):
    """Records, at each release, the persistent RDDs that were not
    there when the test started: the blocks the run filled."""
    before = _persistent_ids(spark)
    seen: list[set[int]] = []
    orig = Context.release_materialized

    def spy(self):
        seen.append(_persistent_ids(spark) - before)
        orig(self)

    monkeypatch.setattr(Context, "release_materialized", spy)
    return before, seen


FACT_ROWS = 40  # 38 distinct oids; oid 5 and 6 appear twice


def _star_inputs(spark, tmp_path):
    spark.createDataFrame(
        [Row(k=k, sk=10 * k) for k in (1, 2, 3)]
    ).write.parquet(str(tmp_path / "dim"))
    rows = [Row(oid=i, k=i % 4, amt=float(i)) for i in range(1, 39)]
    rows += [Row(oid=5, k=1, amt=50.0), Row(oid=6, k=2, amt=60.0)]
    assert len(rows) == FACT_ROWS
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "fact"))


VALIDATION_TESTS = [
    {"name": "dim_known", "type": "range", "column": "dim_sk", "min": 0,
     "quarantine": True},
    {"name": "amt_positive", "type": "range", "column": "amt", "min": 0},
]


def _star_yaml(tmp_path):
    return f"""
name: star_once
nodes:
  - name: dim
    read: {{path: "{tmp_path}/dim"}}
  - name: fact
    depends_on: [dim]
    read: {{path: "{tmp_path}/fact"}}
    transform:
      - function: test_count_rows
        params: {{column: amt}}
    pattern:
      type: fact
      grain: [oid]
      quarantine_path: "{tmp_path}/out/quarantine_grain"
      lookups:
        - {{dimension: dim, fact_keys: [k], dim_keys: [k], surrogate_key: sk, output_col: dim_sk}}
    validation:
      tests:
        - {{name: dim_known, type: range, column: dim_sk, min: 0, quarantine: true}}
        - {{name: amt_positive, type: range, column: amt, min: 0}}
      quarantine_path: "{tmp_path}/out/quarantine_validation"
    write: {{path: "{tmp_path}/out/fact"}}
  - name: by_k
    depends_on: [fact]
    transform:
      - function: aggregate
        params:
          group_by: [k]
          aggregations:
            n: {{function: count, column: "*"}}
            amt: {{function: sum, column: amt}}
    write: {{path: "{tmp_path}/out/by_k"}}
"""


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _same(got, want):
    cols = sorted(c for c in got.columns if c != "_quarantined_at")
    assert sorted(c for c in want.columns if c != "_quarantined_at") == cols
    assert _rows(got, cols) == _rows(want, cols)


class TestComputeOnce:
    def test_star_pipeline_computes_the_fact_lineage_once(
        self, spark, tmp_path, counter
    ):
        _star_inputs(spark, tmp_path)
        results = Pipeline.from_yaml(_star_yaml(tmp_path), spark).run(parallel=True)
        assert all(r.status == "success" for r in results.values()), results
        # every sink of the fact node, and the downstream aggregate, read
        # one materialized frame: the UDF ran once per input row
        assert counter.value == FACT_ROWS

        # outputs equal the lazy standalone build_fact + run_validation
        dim = spark.read.parquet(str(tmp_path / "dim"))
        clean, quarantined = build_fact(
            spark.read.parquet(str(tmp_path / "fact")),
            grain=["oid"],
            lookups=[DimensionLookup(
                dimension=dim, fact_keys=["k"], dim_keys=["k"],
                surrogate_key="sk", output_col="dim_sk",
            )],
        )
        outcome = run_validation(clean, VALIDATION_TESTS)
        out = lambda name: spark.read.parquet(str(tmp_path / "out" / name))  # noqa: E731
        _same(out("fact"), outcome.valid_rows)
        _same(out("quarantine_grain"), quarantined)
        _same(out("quarantine_validation"), outcome.quarantined_rows)
        _same(out("by_k"), outcome.valid_rows.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("amt").alias("amt")))
        assert out("quarantine_grain").count() == 4
        assert results["fact"].rows_written == out("fact").count() > 0
        by = {t.name: t for t in results["fact"].validation}
        assert by["dim_known"].failed_rows > 0 and by["dim_known"].total_rows == 36

    def test_standalone_build_fact_persists_nothing(self, spark, tmp_path):
        _star_inputs(spark, tmp_path)
        before = _persistent_ids(spark)
        clean, quarantined = build_fact(
            spark.read.parquet(str(tmp_path / "fact")), grain=["oid"]
        )
        assert clean.count() == 36 and quarantined.count() == 4
        assert clean.storageLevel.useMemory is False
        assert _persistent_ids(spark) - before == set()


def _shared_yaml(tmp_path):
    """``src`` has two consumers: auto_cache materializes it."""
    return f"""
name: shared
nodes:
  - name: src
    read: {{path: "{tmp_path}/fact"}}
    transform:
      - function: test_count_rows
        params: {{column: amt}}
    write: {{path: "{tmp_path}/out/src"}}
  - name: left
    depends_on: [src]
    transform:
      - sql: "SELECT k, count(*) AS n FROM df GROUP BY k"
    write: {{path: "{tmp_path}/out/left"}}
  - name: right
    depends_on: [src]
    transform:
      - sql: "SELECT k, sum(amt) AS amt FROM df GROUP BY k"
    write: {{path: "{tmp_path}/out/right"}}
"""


def _failing_yaml(tmp_path):
    return f"""
name: hard_fail
nodes:
  - name: fact
    read: {{path: "{tmp_path}/fact"}}
    validation:
      tests:
        - {{name: tiny_amounts, type: range, column: amt, max: 10}}
    write: {{path: "{tmp_path}/out/fact"}}
"""


class TestRelease:
    """Every frame a run materialized is unpersisted when it returns."""

    def test_successful_run(self, spark, tmp_path, counter, released):
        before, seen = released
        _star_inputs(spark, tmp_path)
        results = Pipeline.from_yaml(_star_yaml(tmp_path), spark).run()
        assert results["by_k"].status == "success", results["by_k"].error
        assert seen and seen[-1], "the run filled no materialized blocks"
        assert _persistent_ids(spark) - before == set()

    def test_run_where_validation_hard_fails(self, spark, tmp_path, released):
        before, seen = released
        _star_inputs(spark, tmp_path)
        results = Pipeline.from_yaml(_failing_yaml(tmp_path), spark).run()
        assert results["fact"].status == "failed"
        assert "validation failed: tiny_amounts" in results["fact"].error
        assert seen and seen[-1]
        assert _persistent_ids(spark) - before == set()

    def test_auto_cached_output_with_two_consumers(
        self, spark, tmp_path, counter, released
    ):
        before, seen = released
        _star_inputs(spark, tmp_path)
        results = Pipeline.from_yaml(_shared_yaml(tmp_path), spark).run(parallel=True)
        assert all(r.status == "success" for r in results.values()), results
        # materialized before the write: the write filled the blocks both
        # consumers read, so the source lineage ran once
        assert counter.value == FACT_ROWS
        assert seen and seen[-1]
        assert _persistent_ids(spark) - before == set()
        left = spark.read.parquet(str(tmp_path / "out" / "left"))
        assert left.agg(F.sum("n")).first()[0] == FACT_ROWS

    def test_run_node(self, spark, tmp_path, released):
        before, seen = released
        _star_inputs(spark, tmp_path)
        yaml_text = _failing_yaml(tmp_path).replace("max: 10", "max: 100")
        r = Pipeline.from_yaml(yaml_text, spark).run_node("fact")
        assert r.status == "success", r.error
        assert seen and seen[-1]
        assert _persistent_ids(spark) - before == set()


def test_write_from_materialized_frame_is_not_split_per_shuffle_partition(
    spark, tmp_path
):
    """get_spark lets AQE re-partition cached plans: without it a
    materialized frame keeps every shuffle partition and a write from
    it emits one file per partition, however small the data."""
    assert spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true"
    _star_inputs(spark, tmp_path)
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(4 * cores))
    try:
        results = Pipeline.from_yaml(f"""
name: files
nodes:
  - name: by_oid
    read: {{path: "{tmp_path}/fact"}}
    transform:
      - sql: "SELECT oid, sum(amt) AS amt FROM df GROUP BY oid"
    cache: true
    write: {{path: "{tmp_path}/out/by_oid"}}
""", spark).run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert results["by_oid"].status == "success", results["by_oid"].error
    # 38 keys over 4x cores shuffle partitions: one file per non-empty
    # partition would exceed the core count
    files = [f for f in os.listdir(tmp_path / "out" / "by_oid") if f.startswith("part-")]
    assert 1 <= len(files) <= cores, files


def test_sql_step_keeps_its_input_materialized(spark, make_ec):
    """A raw-SQL step drops its temp view without uncaching the plan
    behind it (``spark.catalog.dropTempView`` would unpersist it)."""
    ctx = Context(spark)
    df = ctx.materialize(spark.range(10).selectExpr("id", "id % 3 AS k"))
    try:
        out = make_ec(df).sql("SELECT k, count(*) AS n FROM df GROUP BY k").df
        assert df.storageLevel.useDisk
        assert "InMemoryRelation" in out._jdf.queryExecution().withCachedData().toString()
    finally:
        ctx.release_materialized()
    assert not df.storageLevel.useDisk


def test_concurrent_materialize_tracks_every_frame(spark):
    """Parallel nodes share one Context: every frame materialized from
    many threads at once is tracked and released."""
    import sys
    import threading

    ctx = Context(spark)
    frames = [spark.range(i + 1) for i in range(24)]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda fs=frames[i::8]: [ctx.materialize(f) for f in fs])
            for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(prev)
    assert len(ctx._materialized) == len(frames)
    assert all(f.storageLevel.useDisk for f in frames)
    ctx.release_materialized()
    assert not any(f.storageLevel.useDisk for f in frames)
