"""Validation layer tests (reference model: examples/validation_pipeline
with known defect rates — FIXTURES.md §6)."""

import pytest
from pyspark.sql import Row

from odibi_spark.validation import (
    GateFailure,
    apply_gate,
    run_validation,
    validate_foreign_key,
)
from odibi_spark.validation.fk import FKViolation


@pytest.fixture()
def dirty(spark):
    return spark.createDataFrame(
        [
            Row(id=1, tier="Gold", age=30, email="a@x.com"),
            Row(id=2, tier="Silver", age=17, email="b@x.com"),   # age fail
            Row(id=None, tier="Gold", age=40, email="c@x.com"),  # null id
            Row(id=4, tier="Wood", age=50, email="nope"),        # tier+email fail
            Row(id=4, tier="Gold", age=60, email="d@x.com"),     # dup id
        ]
    )


TESTS = [
    {"name": "id_not_null", "type": "not_null", "column": "id", "quarantine": True},
    {"name": "tier_vals", "type": "accepted_values", "column": "tier",
     "values": ["Gold", "Silver", "Bronze"], "quarantine": True},
    {"name": "adult", "type": "range", "column": "age", "min": 18, "max": 120},
    {"name": "email_re", "type": "regex_match", "column": "email",
     "pattern": "^[^@]+@[^@]+$"},
    {"name": "id_unique", "type": "unique", "column": "id"},
    {"name": "enough_rows", "type": "row_count", "min": 3},
]


def test_counts_and_quarantine(dirty):
    out = run_validation(dirty, TESTS)
    by = {r.name: r for r in out.results}
    assert by["id_not_null"].failed_rows == 1
    assert by["tier_vals"].failed_rows == 1
    assert by["adult"].failed_rows == 1
    assert by["email_re"].failed_rows == 1
    assert by["id_unique"].failed_rows == 2   # both rows of the dup key
    assert by["enough_rows"].passed
    # quarantine only on the two tests marked quarantine=True
    q = out.quarantined_rows.collect()
    assert len(q) == 2
    reasons = {r._quarantine_reason for r in q}
    assert reasons == {"id_not_null", "tier_vals"}
    assert out.valid_rows.count() == 3


def test_threshold_allows_fraction(dirty):
    out = run_validation(
        dirty, [{"name": "adult", "type": "range", "column": "age",
                 "min": 18, "threshold": 0.5}]
    )
    assert out.results[0].passed  # 1/5 = 0.2 <= 0.5


def test_row_tests_and_count_share_one_aggregate(spark, tmp_path):
    """The row count and every row-level test fold into ONE aggregate:
    three row tests cost no more jobs than a bare ``df.agg`` on the
    same frame (a separate ``count()`` would add a job)."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "v_src")
    spark.range(200).selectExpr(
        "id", "id % 7 AS tier", "id % 90 AS age"
    ).write.parquet(src)
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, "validation pass")
        try:
            action(spark.read.parquet(src))
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("", "")

    tests = [
        {"name": "id_not_null", "type": "not_null", "column": "id"},
        {"name": "tier_vals", "type": "accepted_values", "column": "tier",
         "values": [0, 1, 2, 3]},
        {"name": "adult", "type": "range", "column": "age", "min": 18},
    ]
    bare = jobs("agg_bare", lambda df: df.agg(F.count(F.lit(1))).collect())
    three = jobs("agg_three_tests", lambda df: run_validation(df, tests))
    assert three <= bare, f"3 row tests cost {three} jobs vs {bare} for one agg"

    out = run_validation(spark.read.parquet(src), tests)
    by = {r.name: r for r in out.results}
    assert all(r.total_rows == 200 for r in out.results)
    assert by["id_not_null"].failed_rows == 0
    assert by["tier_vals"].failed_rows == sum(1 for i in range(200) if i % 7 > 3)
    assert by["adult"].failed_rows == sum(1 for i in range(200) if i % 90 < 18)


def test_gate_pass_rate(dirty):
    out = run_validation(dirty, TESTS)
    with pytest.raises(GateFailure):
        apply_gate(out, require_pass_rate=0.99)
    warnings = apply_gate(out, require_pass_rate=0.99, mode="warn")
    assert len(warnings) == 1


def test_gate_row_drop():
    from odibi_spark.validation.engine import ValidationOutcome

    empty = ValidationOutcome(results=[], valid_rows=None, quarantined_rows=None)
    with pytest.raises(GateFailure):
        apply_gate(empty, row_count=40, previous_row_count=100,
                   max_row_drop_percent=20.0)
    assert apply_gate(empty, row_count=95, previous_row_count=100,
                      max_row_drop_percent=20.0) == []


def test_fk_modes(spark):
    fact = spark.createDataFrame([Row(k=1), Row(k=2), Row(k=9)])
    dim = spark.createDataFrame([Row(k=1), Row(k=2)])
    r = validate_foreign_key(fact, dim, fact_keys=["k"])
    assert r.orphan_count == 1 and r.valid_rows.count() == 3  # warn keeps rows
    r2 = validate_foreign_key(fact, dim, fact_keys=["k"], on_violation="quarantine")
    assert r2.valid_rows.count() == 2 and r2.orphan_rows.count() == 1
    with pytest.raises(FKViolation):
        validate_foreign_key(fact, dim, fact_keys=["k"], on_violation="fail")
