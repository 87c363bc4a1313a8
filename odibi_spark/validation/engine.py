"""Declarative data-quality tests with quarantine.

Parity target (reference: odibi/config.py:2999-3178 test classes,
odibi/validation/engine.py:25-578 Spark impl :359-577,
quarantine odibi/validation/quarantine.py:46-663):

Test types: not_null, unique, accepted_values, range, regex_match,
row_count, custom_sql, freshness. Each has a ``threshold`` (allowed
failure FRACTION, 0.0 default) and optional ``quarantine: true``.

Scale design: the row count and every row-level test are evaluated
in ONE aggregate pass — each test contributes a fail-indicator column,
and a single ``agg(count(1), sum(indicator)...)`` computes the total
and every failure count without re-scanning per test (the reference
counts, then loops tests -> N+1 scans). Unique needs its own grouped
pass. ``valid_rows`` and ``quarantined_rows`` are lazy filters with the
same indicator expressions.

This module persists nothing. Inside a pipeline, ``NodeExecutor``
materializes the validation input first (once per node lineage: a fact
node's graded frame already is), so the aggregate, the quarantine
write, the main write and downstream nodes all read the same blocks.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


@dataclass
class TestResult:
    name: str
    test_type: str
    failed_rows: int
    total_rows: int
    threshold: float
    passed: bool
    quarantine: bool


@dataclass
class ValidationOutcome:
    results: list[TestResult]
    valid_rows: DataFrame
    quarantined_rows: DataFrame | None

    @property
    def passed(self) -> bool:
        return all(r.passed for r in self.results)

    @property
    def pass_rate(self) -> float:
        total = sum(r.total_rows for r in self.results) or 1
        failed = sum(r.failed_rows for r in self.results)
        return 1.0 - failed / total


def _fail_condition(df: DataFrame, test: dict) -> Column | None:
    """Row-level fail indicator; None for dataset-level tests."""
    t = test["type"]
    col = test.get("column")
    if t == "not_null":
        return F.col(col).isNull()
    if t == "accepted_values":
        return ~F.col(col).isin(test["values"]) | F.col(col).isNull()
    if t == "range":
        c = F.col(col)
        cond = F.lit(False)
        if "min" in test:
            cond = cond | (c < F.lit(test["min"]))
        if "max" in test:
            cond = cond | (c > F.lit(test["max"]))
        return cond | c.isNull()
    if t == "regex_match":
        return ~F.col(col).rlike(test["pattern"]) | F.col(col).isNull()
    if t == "custom_sql":
        # condition describes VALID rows (reference semantics)
        return ~F.expr(test["condition"])
    if t == "freshness":
        max_age = test["max_age_hours"]
        return F.col(col) < F.current_timestamp() - F.expr(
            f"INTERVAL {int(max_age)} HOURS"
        )
    return None


def run_validation(
    df: DataFrame, tests: list[dict], *, quarantine_extra_cols: bool = True
) -> ValidationOutcome:
    """Run all tests; split quarantined rows out of ``valid_rows``.

    Test dicts: {"name", "type", "column"?, "threshold"?, "quarantine"?,
    plus type-specific params}.
    """
    results: list[TestResult] = []
    row_tests: list[tuple[dict, Column]] = [
        (test, cond) for test in tests
        if (cond := _fail_condition(df, test)) is not None
    ]
    row = df.agg(
        F.count(F.lit(1)),
        *[F.sum(F.when(cond, 1).otherwise(0)) for _, cond in row_tests],
    ).collect()[0]
    total = int(row[0])

    for i, (test, _) in enumerate(row_tests, start=1):
        failed = int(row[i] or 0)
        thr = float(test.get("threshold", 0.0))
        results.append(
            TestResult(
                name=test["name"], test_type=test["type"], failed_rows=failed,
                total_rows=total, threshold=thr,
                passed=(failed / total <= thr) if total else True,
                quarantine=bool(test.get("quarantine", False)),
            )
        )

    for test in tests:
        t = test["type"]
        if t == "unique":
            keys = test.get("columns") or [test["column"]]
            dup_rows = (
                df.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter("__n > 1")
                .agg(F.sum("__n"))
                .collect()[0][0]
            ) or 0
            thr = float(test.get("threshold", 0.0))
            results.append(
                TestResult(
                    name=test["name"], test_type=t, failed_rows=int(dup_rows),
                    total_rows=total, threshold=thr,
                    passed=(dup_rows / total <= thr) if total else True,
                    quarantine=False,
                )
            )
        elif t == "row_count":
            ok = True
            if "min" in test:
                ok = ok and total >= test["min"]
            if "max" in test:
                ok = ok and total <= test["max"]
            results.append(
                TestResult(
                    name=test["name"], test_type=t,
                    failed_rows=0 if ok else total, total_rows=total,
                    threshold=0.0, passed=ok, quarantine=False,
                )
            )

    # quarantine: one mask over the row-level tests marked quarantine
    q_tests = [(t, c) for t, c in row_tests if t.get("quarantine")]
    if q_tests:
        reason = F.concat_ws(
            ";", *[F.when(c, F.lit(t["name"])) for t, c in q_tests]
        )
        any_fail = q_tests[0][1]
        for _, c in q_tests[1:]:
            any_fail = any_fail | c
        quarantined = df.filter(any_fail)
        if quarantine_extra_cols:
            quarantined = quarantined.withColumn(
                "_quarantine_reason", reason
            ).withColumn("_quarantined_at", F.current_timestamp())
        valid = df.filter(~any_fail)
    else:
        quarantined = None
        valid = df

    return ValidationOutcome(results=results, valid_rows=valid, quarantined_rows=quarantined)
