"""Fact pattern (reference: odibi/patterns/fact.py:87-837): dedup,
dimension lookups (natural key -> surrogate key, SCD2-aware),
calculated measures, grain validation with quarantine.

Scale design: every dimension lookup is a BROADCAST left join
(dimensions are small relative to facts; the reference does plain
joins — SURVEY §2.4 flags the missing hint). Grain validation is a
window count over the grain — one shuffle, no self-join.

The build is two steps: ``grade_fact`` (dedup, lookups, measures and
the ``__grain_n`` window) and ``split_fact`` (clean vs quarantined
rows). The graded frame is the fork: both halves, and everything a
pipeline does with the clean rows afterwards, read it. ``build_fact``
hands it to an optional ``materialize`` hook between the steps;
``NodeExecutor`` passes its run-scoped ``Context.materialize`` there
when the quarantine is written, so the lookups and the window run once
per node, and the frame is released when the pipeline run returns.
Without the hook (standalone callers) both halves stay lazy and
nothing is persisted.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from odibi_spark.operators.relational import apply_broadcast_hint


@dataclass
class DimensionLookup:
    dimension: DataFrame
    fact_keys: list[str]            # natural key cols on the fact side
    dim_keys: list[str]             # natural key cols on the dimension
    surrogate_key: str              # SK column to bring in
    output_col: str                 # name of the FK col on the fact
    scd2: bool = False              # restrict to is_current (point-in-time)
    event_time_col: str | None = None   # SCD2 as-of: fact time col
    valid_from_col: str = "valid_from"
    valid_to_col: str = "valid_to"
    is_current_col: str = "is_current"
    default_sk: int = -1            # unknown member


def build_fact(
    fact: DataFrame,
    *,
    grain: list[str],
    lookups: list[DimensionLookup] = (),
    measures: dict[str, str] | None = None,
    dedup_order_by: list[str] | None = None,
    validate_grain: bool = True,
    materialize: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (fact_rows, quarantined_rows). Quarantine holds grain
    violations (reference :666-704) with a ``_quarantine_reason`` col.

    ``materialize`` is applied to the graded frame before it forks into
    the two halves (only when the grain is validated: otherwise there
    is no fork)."""
    graded = grade_fact(
        fact, grain=grain, lookups=lookups, measures=measures,
        dedup_order_by=dedup_order_by, validate_grain=validate_grain,
    )
    if materialize is not None and validate_grain:
        graded = materialize(graded)
    return split_fact(graded, validate_grain=validate_grain)


def grade_fact(
    fact: DataFrame,
    *,
    grain: list[str],
    lookups: list[DimensionLookup] = (),
    measures: dict[str, str] | None = None,
    dedup_order_by: list[str] | None = None,
    validate_grain: bool = True,
) -> DataFrame:
    """Dedup, surrogate-key lookups and measures; with
    ``validate_grain`` also a ``__grain_n`` column counting the rows
    that share each row's grain."""
    df = fact
    if dedup_order_by:
        w = Window.partitionBy(*grain).orderBy(*[F.col(c).desc() for c in dedup_order_by])
        df = df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")

    for lk in lookups:
        df = _apply_lookup(df, lk)

    for name, expr in (measures or {}).items():
        df = df.withColumn(name, F.expr(expr))

    if validate_grain:
        df = df.withColumn("__grain_n", F.count(F.lit(1)).over(Window.partitionBy(*grain)))
    return df


def split_fact(
    graded: DataFrame, *, validate_grain: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) rows of a ``grade_fact`` frame: rows whose
    grain is unique, and grain violators stamped with a reason."""
    if not validate_grain:
        return graded, graded.sparkSession.createDataFrame([], graded.schema)
    quarantined = (
        graded.filter("__grain_n > 1")
        .drop("__grain_n")
        .withColumn("_quarantine_reason", F.lit("grain_violation"))
        .withColumn("_quarantined_at", F.current_timestamp())
    )
    clean = graded.filter("__grain_n = 1").drop("__grain_n")
    return clean, quarantined


def _apply_lookup(df: DataFrame, lk: DimensionLookup) -> DataFrame:
    dim = lk.dimension
    sel = [*lk.dim_keys, lk.surrogate_key]
    if lk.scd2 and lk.event_time_col:
        # as-of lookup: the version valid at the fact's event time
        dim = dim.filter(
            F.col(lk.valid_from_col).isNotNull()
        )
        cond: Column = F.lit(True)
        for fk, dk in zip(lk.fact_keys, lk.dim_keys):
            cond = cond & (F.col(f"f.{fk}") == F.col(f"d.{dk}"))
        t = F.col(f"f.{lk.event_time_col}")
        cond = (
            cond
            & (F.col(f"d.{lk.valid_from_col}") <= t)
            & (F.col(f"d.{lk.valid_to_col}").isNull() | (F.col(f"d.{lk.valid_to_col}") > t))
        )
        joined = df.alias("f").join(
            apply_broadcast_hint(dim.select(*sel, lk.valid_from_col, lk.valid_to_col).alias("d")),
            cond,
            "left",
        )
        out = joined.select(
            "f.*", F.col(f"d.{lk.surrogate_key}").alias("__sk")
        )
    elif lk.scd2:
        dim = dim.filter(F.col(lk.is_current_col))
        out = _equi_lookup(df, dim.select(*sel), lk)
    else:
        out = _equi_lookup(df, dim.select(*sel), lk)
    return out.withColumn(
        lk.output_col, F.coalesce(F.col("__sk"), F.lit(lk.default_sk).cast("long"))
    ).drop("__sk")


def _equi_lookup(df: DataFrame, dim: DataFrame, lk: DimensionLookup) -> DataFrame:
    renamed = dim.withColumnRenamed(lk.surrogate_key, "__sk")
    for fk, dk in zip(lk.fact_keys, lk.dim_keys):
        if dk != fk:
            renamed = renamed.withColumnRenamed(dk, fk)
    return df.join(apply_broadcast_hint(renamed), on=lk.fact_keys, how="left")
