"""Pipeline runner (reference: odibi/pipeline.py:340-1393): execute the
node DAG serially in topo order or layer-parallel with a thread pool;
skip nodes whose dependencies failed; per-node retries with backoff.

Thread-safety: nodes share one SparkSession; temp-view registration
uses node names (unique per pipeline) and raw-SQL steps use
thread-unique view names (context.py), matching the reference's
concurrency discipline (odibi/context.py:20-29).

Every frame a run materializes (node.py's one-per-lineage rule) lives on
this pipeline's Context and is released when ``run``/``run_node``
returns, whether the nodes succeeded or not.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from odibi_spark.alerting import get_throttler, send_pipeline_alerts
from odibi_spark.context import Context
from odibi_spark.plans.config import PipelineConfig, load_pipeline_yaml
from odibi_spark.plans.graph import DependencyGraph
from odibi_spark.plans.node import NodeExecutor, NodeResult

# module-level transport hook: tests (and custom deployments) swap the
# delivery mechanism; None = the default urllib webhook POST
_alert_transport = None


class Pipeline:
    def __init__(
        self,
        config: PipelineConfig,
        spark: SparkSession,
        external_deps: set[str] | None = None,
    ):
        self.config = config
        self.spark = spark
        self.context = Context(spark)
        self.graph = DependencyGraph(
            {n.name: n.depends_on for n in config.nodes}, external=external_deps
        )
        self._nodes = {n.name: n for n in config.nodes}
        if config.plugins:
            from odibi_spark.plugins import load_plugins

            load_plugins(config.plugins)
        from odibi_spark.connections import build_connections

        self.connections = build_connections(config.connections)

    @classmethod
    def from_yaml(cls, path_or_text: str, spark: SparkSession) -> "Pipeline":
        return cls(load_pipeline_yaml(path_or_text), spark)

    def run(
        self,
        parallel: bool = False,
        retries: int = 0,
        retry_backoff_s: float = 1.0,
        auto_cache: bool = True,
        resume_from: dict[str, NodeResult] | None = None,
    ) -> dict[str, NodeResult]:
        """``auto_cache``: materialize outputs consumed by >1 downstream
        node before their write, so the write fills the blocks the
        consumers read (reference: pipeline.py:1843-1908 auto-cache
        heuristic).
        ``resume_from``: results of a previous run — nodes that already
        succeeded are re-registered from their written targets (or
        re-executed if they have no physical target) and not re-run
        (reference resume-from-failure: pipeline.py:581-599)."""
        results: dict[str, NodeResult] = {}
        consumers = self.graph.consumers_count()
        t0 = time.monotonic()
        self._alert("on_start", results, 0.0)

        def execute(name: str) -> NodeResult:
            prior = (resume_from or {}).get(name)
            if prior is not None and prior.status == "success":
                cfg = self._nodes[name]
                if cfg.write and cfg.write.path and cfg.write.format == "parquet":
                    # resolve through the write connection — the raw config
                    # path may be relative to a connection base_path; a
                    # failed read falls back to re-running the node rather
                    # than aborting the whole run
                    try:
                        w_path, _, _ = NodeExecutor(
                            cfg, self.context, self.connections
                        )._resolve(cfg.write.connection, cfg.write.path, None, {})
                        self.context.register(name, self.spark.read.parquet(w_path))
                        return NodeResult(name=name, status="success")
                    except Exception:
                        pass  # target unreadable: re-run the node below
                # no reusable physical output: fall through and re-run
            failed_deps = [
                d for d in self.graph.deps[name]
                if results[d].status != "success"
            ]
            if failed_deps:
                return NodeResult(
                    name=name, status="skipped",
                    error=f"upstream failed: {failed_deps}",
                )
            attempt = 0
            max_retries = max(retries, self._nodes[name].retries)
            while True:
                r = NodeExecutor(
                    self._nodes[name], self.context, self.connections,
                    consumers=consumers[name],
                    cache_output=auto_cache and consumers[name] > 1,
                ).execute()
                if r.status == "success" or attempt >= max_retries:
                    return r
                attempt += 1
                time.sleep(retry_backoff_s * attempt)

        try:
            if parallel:
                for layer in self.graph.layers():
                    with ThreadPoolExecutor(
                        max_workers=min(self.config.max_workers, len(layer))
                    ) as pool:
                        for name, res in zip(layer, pool.map(execute, layer)):
                            results[name] = res
            else:
                for name in self.graph.toposort():
                    results[name] = execute(name)
        finally:
            self.context.release_materialized()
        failed = any(r.status != "success" for r in results.values())
        elapsed = time.monotonic() - t0
        # quality events BEFORE the lifecycle terminal event (reference
        # fires on_quarantine / on_gate_block as they are observed)
        if any(
            t.quarantine and t.failed_rows > 0
            for r in results.values()
            for t in r.validation
        ):
            self._alert("on_quarantine", results, elapsed)
        if any(
            r.gate_warnings or (r.error and "GateFailure" in (r.error or ""))
            for r in results.values()
        ):
            self._alert("on_gate_block", results, elapsed)
        self._alert("on_failure" if failed else "on_success", results, elapsed)
        return results

    def run_node(self, name: str, *, retries: int = 0) -> NodeResult:
        """Execute ONE node — the per-task entry point for exported
        Airflow/Dagster DAGs (orchestration/, reference posture: each
        orchestrator task shells out ``run --node``). The orchestrator
        guarantees upstream tasks completed first, so each direct
        dependency is re-registered from its WRITTEN parquet target
        rather than recomputed; a dependency without a parquet sink is
        an error — per-node orchestration requires materialized
        handoffs between tasks."""
        cfg = self._nodes.get(name)
        if cfg is None:
            raise KeyError(
                f"unknown node '{name}' (have: {sorted(self._nodes)})"
            )
        for dep in self.graph.deps[name]:
            dcfg = self._nodes[dep]
            if not (
                dcfg.write and dcfg.write.path
                and dcfg.write.format == "parquet"
            ):
                raise ValueError(
                    f"dependency '{dep}' of node '{name}' has no parquet "
                    "write target — per-node orchestration needs every "
                    "upstream handoff materialized to storage"
                )
            w_path, _, _ = NodeExecutor(
                dcfg, self.context, self.connections
            )._resolve(dcfg.write.connection, dcfg.write.path, None, {})
            self.context.register(dep, self.spark.read.parquet(w_path))
        attempt = 0
        max_retries = max(retries, cfg.retries)
        try:
            while True:
                r = NodeExecutor(cfg, self.context, self.connections).execute()
                if r.status == "success" or attempt >= max_retries:
                    return r
                attempt += 1
                time.sleep(attempt)
        finally:
            self.context.release_materialized()

    def _alert(self, event: str, results: dict[str, NodeResult], duration_s: float):
        """Fire configured alerts for a lifecycle event (reference:
        odibi/pipeline.py:480,1356-1358). Never raises — an alerting
        outage must not change pipeline results."""
        if not self.config.alerts:
            return
        send_pipeline_alerts(
            self.config.alerts,
            event,
            self.config.name,
            results,
            duration_s=duration_s,
            transport=_alert_transport,
            throttler=get_throttler(),
        )
