"""One commit protocol for persisted stores: a batch is visible only
once its JSON entry is atomically renamed into ``{path}/_log/``.

The scaled-down form of Structured Streaming's offset write-ahead log
plus its file-sink ``_spark_metadata`` manifest (Armbrust et al.,
SIGMOD 2018). It serves the MinHash ``SignatureStore``, the
``AnnIndexStore`` and the CMS fold, and assumes one writer at a time:

- a batch's data lands in a fresh batch- and attempt-scoped directory
  ``{path}/data/{label}.{attempt}`` (:meth:`BatchLog.new_dir`);
- :meth:`BatchLog.commit` then writes the batch's entry under a temp
  name and renames it to ``_log/{seq}``; a rename that returns false
  raises;
- entry 0 pins the store's ``identity`` (its geometry), which every
  later writer and reader checks against;
- readers see committed entries only, and for one ``batch_id`` the
  latest entry wins (:meth:`BatchLog.snapshot`);
- after each commit, every data directory that no live entry names is
  deleted. A crashed write is therefore invisible garbage until the
  next commit, and a replayed batch replaces its data as a whole.

All I/O goes through the Hadoop FileSystem API, so a store works on
local paths, ``file://`` URIs and object stores alike.
"""

from __future__ import annotations

import json
import re
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

LOG_DIR = "_log"
DATA_DIR = "data"


def _fs_for(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def write_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically: create a temp sibling,
    then rename it into place, replacing any existing file. A crash
    mid-write leaves only the temp file, never a truncated ``path``.
    Hadoop's rename signals failure by returning false; that raises."""
    fs, final, jvm = _fs_for(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(
        final.getParent(), f".{final.getName()}.{uuid.uuid4().hex}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(final):  # rename onto an existing file fails on some FS
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise RuntimeError(f"rename {tmp} -> {final} failed")


def read_text(spark: SparkSession, path: str) -> str:
    fs, jpath, jvm = _fs_for(spark, path)
    stream = fs.open(jpath)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(raw).decode("utf-8")


def read_union(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One frame over parquet roots that each hold their own partition
    directories (a single multi-root read rejects those as conflicting
    directory structures). The schema is inferred once, from the
    first root."""
    first = spark.read.parquet(paths[0])
    return reduce(
        DataFrame.unionByName,
        (spark.read.schema(first.schema).parquet(p) for p in paths[1:]),
        first,
    )


class BatchLog:
    """Commit log of the store at ``path``. ``legacy`` names the meta
    file of the store's pre-log layout: a directory that holds it but
    no ``_log/`` raises, since that layout has no migration path."""

    def __init__(self, spark: SparkSession, path: str, *, legacy: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.legacy = legacy
        self._fs, _, self._jvm = _fs_for(spark, self.path)

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _ls(self, path: str) -> list[str]:
        """Child names of ``path``; empty when it does not exist."""
        jp = self._jpath(path)
        if not self._fs.exists(jp):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(jp)]

    def _seqs(self) -> list[int]:
        return sorted(
            int(n) for n in self._ls(f"{self.path}/{LOG_DIR}") if n.isdigit()
        )

    def entries(self) -> list[dict]:
        """Every committed entry, in commit order."""
        seqs = self._seqs()
        legacy = self._jpath(f"{self.path}/{self.legacy}")
        if not seqs and self._fs.exists(legacy):
            raise ValueError(
                f"{self.path} holds a pre-log store layout ({self.legacy} "
                f"without {LOG_DIR}/); rebuild the store by replaying its "
                "batches into a fresh path"
            )
        return [
            json.loads(read_text(self.spark, f"{self.path}/{LOG_DIR}/{s}"))
            for s in seqs
        ]

    def snapshot(self) -> tuple[dict | None, list[dict]]:
        """(identity pinned by entry 0, live entries): per batch_id the
        latest committed entry, in the order those entries committed."""
        entries = self.entries()
        live: dict = {}
        for e in entries:
            live.pop(e["batch_id"], None)
            live[e["batch_id"]] = e
        identity = entries[0]["identity"] if entries else None
        return identity, list(live.values())

    def new_dir(self, label) -> str:
        """Name of a fresh data directory for one write attempt."""
        safe = re.sub(r"[^A-Za-z0-9_-]", "_", str(label))
        return f"{safe}.{uuid.uuid4().hex[:12]}"

    def data_path(self, name: str) -> str:
        return f"{self.path}/{DATA_DIR}/{name}"

    def partitions(self, path: str, column: str) -> list[int]:
        """Sorted int values of the ``{column}=N`` directories under
        ``path`` — recorded as an entry's ``parts`` so readers can skip
        batches without touching their files."""
        return sorted(
            int(d.split("=", 1)[1])
            for d in self._ls(path) if d.startswith(f"{column}=")
        )

    def live_paths(self, parts: list[int] | None = None) -> list[str]:
        """Data paths of the live entries that hold data; with
        ``parts``, only those whose recorded ``parts`` intersect it."""
        want = None if parts is None else {int(p) for p in parts}
        return [
            self.data_path(e["data"])
            for e in self.snapshot()[1]
            if e["data"] and (want is None or want & set(e["parts"]))
        ]

    def commit(
        self, batch_id, data: str | None, identity: dict | None = None,
        **fields,
    ) -> None:
        """Make ``data`` (a :meth:`new_dir` name, already fully
        written) the visible content of ``batch_id``, then delete every
        data directory no live entry names. ``identity`` is recorded
        only by entry 0."""
        seq = 1 + max(self._seqs(), default=-1)
        entry = {"batch_id": batch_id, "data": data, **fields}
        if seq == 0:
            entry["identity"] = identity
        write_atomic(
            self.spark, f"{self.path}/{LOG_DIR}/{seq}", json.dumps(entry)
        )
        keep = {e["data"] for e in self.snapshot()[1]}
        for name in self._ls(f"{self.path}/{DATA_DIR}"):
            if name not in keep:
                self._fs.delete(self._jpath(self.data_path(name)), True)
