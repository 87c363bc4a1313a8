"""Small-file compaction for plain-parquet tables.

The reference gets this from Delta's ``OPTIMIZE`` / ``auto_optimize``
(spark_engine.py:2446-2636, config auto_optimize); on open formats the
same operational problem — streaming/incremental writers leaving
thousands of KB-sized files that crush scan planning and NameNode/
object-store listing — needs an explicit bin-packing rewrite. This is
that tool: size-driven (target bytes per output file, not a guessed
partition count), rewriting ONLY the under-sized files (files already
at target size stay untouched, like Delta OPTIMIZE), with a
rename-before-delete swap whose rename results are checked.

NOT transactional: while the swap runs a concurrent reader can see
both old and new copies of the rewritten rows (Delta's OPTIMIZE exists
precisely to make this atomic). The failure mode is bounded though:
new files are renamed IN before old files are deleted, and any rename
failure aborts before a single original is removed — crash at any
point leaves either duplicates or the original table, never missing
rows. Duplicates are self-healing on rerun: a pending-delete MANIFEST
(``_compact_pending_deletes.json``, written only after every rename
has succeeded) records the condemned originals, and the next
``compact_small_files`` call completes those deletes before doing
anything else. Only a crash in the tiny window between the last
rename and the manifest write leaves duplicates that need the next
compaction pass to rewrite them. Run it in a maintenance window, or
on Delta use ``delta_ops.maintain`` instead — Delta table paths are
REFUSED outright (a ``_delta_log`` directory means renaming/deleting
parquet behind the transaction log would corrupt the table for every
reader).

Hive-partitioned directories (data in subdirectories) are rejected:
compacting them through the table root would rewrite partition values
into the data files and corrupt the layout — maintain each partition
directory instead.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import SparkSession

from odibi_spark.io.batch_log import _fs_for, read_text, write_atomic


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) of every data file directly under ``path``
    (Hadoop FS API — works on local paths, HDFS, and object stores)."""
    fs, jpath, _ = _fs_for(spark, path)
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith((".", "_")):
            out.append((st.getPath().toString(), int(st.getLen())))
    return out


def reject_partitioned_layout(spark: SparkSession, path: str) -> None:
    """Raise if ``path`` is a Delta table or holds data in
    subdirectories (hive-partitioned layout).

    The Delta check must come FIRST and must not hide behind the
    '_'-prefix skip (ADVICE r5): ``_delta_log`` is exactly the
    underscore-prefixed directory the data-file listing ignores, and
    renaming/deleting parquet behind a transaction log corrupts the
    table for every reader — use ``delta_ops.maintain`` there. A
    hive-partitioned root-level rewrite would fold partition values
    into the data files and leave the table unreadable."""
    fs, jpath, jvm = _fs_for(spark, path)
    delta_log = jvm.org.apache.hadoop.fs.Path(path, "_delta_log")
    if fs.exists(delta_log):
        raise ValueError(
            f"'{path}' is a Delta table (_delta_log present) — plain-"
            "parquet compaction would corrupt it; use delta_ops.maintain"
        )
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and not name.startswith((".", "_")):
            raise ValueError(
                f"'{path}' contains subdirectory '{name}' — layout "
                "maintenance works on leaf data directories; run it on "
                "each partition directory instead"
            )


MANIFEST_NAME = "_compact_pending_deletes.json"


def _manifest_jpath(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path, MANIFEST_NAME)


def _write_manifest(spark: SparkSession, path: str, old_files: list[str]) -> None:
    """Write the pending-delete manifest ATOMICALLY (temp + rename,
    ADVICE r6): a crash mid-write never leaves a truncated manifest
    that would hard-block every later compaction with a
    JSONDecodeError."""
    write_atomic(
        spark, f"{path.rstrip('/')}/{MANIFEST_NAME}", json.dumps(old_files)
    )


def resume_pending_deletes(spark: SparkSession, path: str) -> int:
    """Complete a crashed swap: if a pending-delete manifest exists,
    every rename already succeeded — delete any condemned originals
    still present, then remove the manifest. Returns the number of
    files deleted (0 when there is nothing to recover). Called
    automatically at the start of ``compact_small_files``."""
    fs, _, jvm = _fs_for(spark, path)
    mp = _manifest_jpath(jvm, path)
    if not fs.exists(mp):
        return 0
    hpath = jvm.org.apache.hadoop.fs.Path
    deleted = 0
    try:
        pending = json.loads(read_text(spark, mp.toString()))
    except ValueError:
        # Unparseable manifest (pre-atomic-write truncation): the
        # delete loop never ran, so the worst case is re-runnable
        # duplicates — the documented pre-manifest behavior. Treat as
        # absent rather than hard-blocking all future compactions.
        fs.delete(mp, False)
        return 0
    for f in pending:
        if fs.exists(hpath(f)):
            fs.delete(hpath(f), False)
            deleted += 1
    fs.delete(mp, False)
    return deleted


def swap_data_files(
    spark: SparkSession, path: str, tmp: str, old_files: list[str]
) -> int:
    """Swap the data files under ``tmp`` into ``path``, replacing
    ``old_files``. Rename-BEFORE-delete, every rename checked: a
    failed rename (Hadoop FileSystem.rename signals failure by
    returning false, not raising) aborts before any original file is
    removed, so no outcome loses rows. After the LAST rename succeeds
    — and only then — the condemned originals are recorded in a
    pending-delete manifest, so a crash mid-delete is completed by the
    next run (``resume_pending_deletes``) instead of leaving permanent
    duplicates (ADVICE r5). Returns the number of files moved; removes
    the temp dir."""
    fs, _, jvm = _fs_for(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path
    moved = 0
    for f, _sz in list_data_files(spark, tmp):
        name = f.rsplit("/", 1)[-1]
        if not fs.rename(hpath(f), hpath(path, name)):
            raise RuntimeError(
                f"rename {f} -> {path}/{name} failed; originals left "
                f"in place, compacted output remains under {tmp}"
            )
        moved += 1
    # manifest AFTER all renames: a manifest's existence certifies the
    # new files are in place, so replay may safely finish the deletes
    _write_manifest(spark, path, old_files)
    for f in old_files:
        fs.delete(hpath(f), False)
    fs.delete(_manifest_jpath(jvm, path), False)
    fs.delete(hpath(tmp), True)
    return moved


def compact_small_files(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    format: str = "parquet",
    sort_within_by: list[str] | None = None,
    min_files_to_compact: int = 2,
) -> dict:
    """Bin-pack the UNDER-SIZED data files of a directory into
    ``ceil(small_bytes / target_file_bytes)`` files; files already at
    or above ~target size are left untouched (rewriting them would be
    a pure full-table-shuffle tax — Delta OPTIMIZE makes the same
    cut). ``sort_within_by`` optionally re-establishes a clustering
    order inside each output file so row-group min/max pruning
    survives the rewrite. No-op (returns stats, touches nothing) when
    fewer than ``min_files_to_compact`` small files exist or they
    already form no more than the target bin count.
    """
    reject_partitioned_layout(spark, path)
    resume_pending_deletes(spark, path)
    files = list_data_files(spark, path)
    small = [(f, sz) for f, sz in files if sz < target_file_bytes]
    small_bytes = sum(sz for _, sz in small)
    n_out = max(1, math.ceil(small_bytes / target_file_bytes))
    stats = {
        "files_before": len(files),
        "small_files": len(small),
        "bytes_total": sum(sz for _, sz in files),
        "small_bytes": small_bytes,
        "target_file_bytes": int(target_file_bytes),
        "files_after": len(files),
        "compacted": False,
    }
    if len(small) < max(min_files_to_compact, n_out + 1):
        return stats

    df = spark.read.format(format).load([f for f, _ in small])
    df = df.repartition(n_out)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.write.mode("overwrite").format(format).save(tmp)
    moved = swap_data_files(spark, path, tmp, [f for f, _ in small])
    stats.update(
        {"files_after": len(files) - len(small) + moved, "compacted": True}
    )
    return stats
