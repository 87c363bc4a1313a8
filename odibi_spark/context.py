"""Named-dataset registry (Context) and per-transform EngineContext.

Semantics reproduced (Spark-first) from the reference:

- ``Context``: register/get/has/list/unregister named DataFrames; the
  Spark implementation backs the registry with temp views so raw-SQL
  steps can reference any registered dataset by name
  (reference: odibi/context.py:131-207 ABC, :374-520 SparkContext,
  :421-446 register -> createOrReplaceTempView).
- ``EngineContext``: wraps (context, current df); ``.sql(query)``
  registers the current df under a unique thread-local view name and
  rewrites the token ``df`` to that view, then runs ``spark.sql``
  (reference: odibi/context.py:32-128, unique names :20-29, rewrite :118).
  Unique names make parallel node execution on one SparkSession safe.
- ``Context.materialize``: the one way a pipeline run keeps an
  intermediate frame. Each ``Pipeline`` owns its ``Context``, so the
  frames it materialized (and the lock guarding them) are per run; the
  runner calls ``release_materialized`` when the run returns.
"""

from __future__ import annotations

import itertools
import re
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_counter = itertools.count()
_DF_TOKEN = re.compile(r"\bdf\b")


def _unique_view_name(prefix: str = "_df") -> str:
    """Thread-unique temp view name (reference: odibi/context.py:20-29)."""
    return f"{prefix}_{threading.get_ident()}_{next(_counter)}"


class Context:
    """Registry of named datasets, mirrored as Spark temp views."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._datasets: dict[str, DataFrame] = {}
        self._materialized: list[DataFrame] = []
        self._lock = threading.Lock()

    def register(self, name: str, df: DataFrame) -> None:
        with self._lock:
            self._datasets[name] = df
        df.createOrReplaceTempView(name)

    def get(self, name: str) -> DataFrame:
        with self._lock:
            if name in self._datasets:
                return self._datasets[name]
        # fall through to catalog tables / views created via SQL
        return self.spark.table(name)

    def has(self, name: str) -> bool:
        with self._lock:
            if name in self._datasets:
                return True
        try:
            self.spark.table(name)
            return True
        except Exception:
            return False

    def list(self) -> list[str]:
        with self._lock:
            return sorted(self._datasets)

    def unregister(self, name: str) -> None:
        with self._lock:
            self._datasets.pop(name, None)
        self.spark.catalog.dropTempView(name)

    def materialize(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` (MEMORY_AND_DISK) until ``release_materialized``.

        The blocks fill on the first action that reads ``df`` or a
        filter/projection of it; every later action reads them instead
        of recomputing the plan. Persist keeps the lineage, so blocks
        lost with an executor are recomputed rather than failing the job
        (a localCheckpoint would fail). A frame that is already cached
        is returned as is and left to its owner.
        """
        if df.storageLevel != StorageLevel.NONE:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        with self._lock:
            self._materialized.append(df)
        return df

    def release_materialized(self) -> None:
        """Unpersist every frame ``materialize`` kept."""
        with self._lock:
            frames, self._materialized = self._materialized, []
        for df in frames:
            df.unpersist()


class EngineContext:
    """Per-transform wrapper: (global context, current DataFrame).

    Transformers take and return an EngineContext so chains compose;
    ``.sql()`` gives raw-SQL steps access to the current frame as ``df``.
    """

    def __init__(self, context: Context, df: DataFrame):
        self.context = context
        self.df = df

    @property
    def spark(self) -> SparkSession:
        return self.context.spark

    def with_df(self, df: DataFrame) -> "EngineContext":
        return EngineContext(self.context, df)

    def sql(self, query: str) -> "EngineContext":
        """Run SQL where the token ``df`` means the current DataFrame.

        The df is registered under a unique thread-local view name and
        ``\\bdf\\b`` is rewritten to it, so concurrent nodes sharing one
        SparkSession never collide (reference: odibi/context.py:90-128).
        """
        view = _unique_view_name()
        self.df.createOrReplaceTempView(view)
        try:
            safe_sql = _DF_TOKEN.sub(view, query)
            out = self.spark.sql(safe_sql)
            # Materialization is lazy; dropping the view before the plan
            # executes would break it, so resolve the plan eagerly into
            # the returned DataFrame's analyzed form by forcing analysis.
            out.schema  # noqa: B018 - forces analysis while view exists
            return self.with_df(out)
        finally:
            # The analyzed plan holds the resolved relation; the view
            # name itself is no longer needed. Drop it through the
            # session catalog: ``spark.catalog.dropTempView`` also
            # uncaches every cached plan equal to the view's, which
            # would unpersist a materialized input frame.
            self.spark._jsparkSession.sessionState().catalog().dropTempView(view)
