"""Versioned table snapshots: atomic publish, time travel, rollback.

A training-data pipeline must be able to say "run N trained on table@v7"
and reproduce it later, while writers keep publishing new versions.  This
is a minimal manifest-based copy-on-write table format (the idea behind
Iceberg/Delta, reduced to what the engine needs):

- data files are immutable parquet written under ``<table>/data/`` with a
  unique prefix per commit; a version is a JSON *manifest* listing its
  files (absolute contents, not deltas — O(#files) small);
- publishing is one atomic ``os.rename`` of the manifest into
  ``<table>/_versions/v{N}.json`` — readers either see a version fully or
  not at all; no reader ever observes a half-written file set;
- reads load exactly the manifest's file list (``read_parquet(spark, *files)``),
  so concurrent publishes never disturb a running read, and old versions
  stay readable until explicitly vacuumed.

Scale: the manifest holds file paths only; a 100 TB table is a few
thousand paths — KBs of JSON.  Schema may evolve between versions (new
columns): reads of a single version see that version's schema exactly.

Manifest I/O is driver-side metadata (os.*): correct for POSIX-mounted
storage; an object-store deployment swaps these few calls for the Hadoop
FileSystem API (rename→conditional PUT) without touching the data path.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from smartpy_arc_spark.sources.scan import read_parquet


def _versions_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_versions")


def snapshot_versions(table_dir: str) -> list[int]:
    """Sorted committed version numbers (empty if the table doesn't exist)."""
    vdir = _versions_dir(table_dir)
    if not os.path.isdir(vdir):
        return []
    out = []
    for name in os.listdir(vdir):
        m = re.fullmatch(r"v(\d+)\.json", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_versions_dir(table_dir), f"v{version}.json")


def read_manifest(table_dir: str, version: int | None = None) -> dict:
    versions = snapshot_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {table_dir}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise LookupError(f"version {version} not in {versions}")
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    *,
    mode: str = "overwrite",
) -> int:
    """Publish ``df`` as the next table version and return its number.

    ``mode='overwrite'`` makes the new version exactly ``df``;
    ``mode='append'`` makes it previous-version files + ``df``'s new files
    (copy-on-write: previous files are shared, never rewritten).
    """
    if mode not in ("overwrite", "append"):
        raise ValueError("mode must be 'overwrite' or 'append'")
    os.makedirs(_versions_dir(table_dir), exist_ok=True)
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table_dir, "data", commit_id)
    df.write.mode("error").parquet(data_dir)
    files = sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )

    versions = snapshot_versions(table_dir)
    prev = versions[-1] if versions else None
    schema_ddl = df.schema.simpleString()
    if mode == "append" and prev is not None:
        parent = read_manifest(table_dir, prev)
        parent_schema = parent.get("schema")
        if parent_schema is not None and parent_schema != schema_ddl:
            raise ValueError(
                "append schema mismatch: parent version "
                f"{prev} has {parent_schema}, appended frame has {schema_ddl}; "
                "use mode='overwrite' to evolve the schema"
            )
        files = parent["files"] + files
    version = (prev or 0) + 1

    manifest = {
        "version": version,
        "parent": prev,
        "mode": mode,
        "committed_at": time.time(),
        "schema": schema_ddl,
        "files": files,
    }
    tmp = os.path.join(
        _versions_dir(table_dir), f".tmp-{commit_id}-v{version}.json"
    )
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    final = _manifest_path(table_dir, version)
    if os.path.exists(final):  # lost a race to another writer
        os.remove(tmp)
        raise FileExistsError(f"version {version} already committed")
    os.rename(tmp, final)  # atomic publish
    return version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """DataFrame over exactly one committed version (latest by default)."""
    manifest = read_manifest(table_dir, version)
    files = manifest["files"]
    if not files:
        raise ValueError(f"version {manifest['version']} has no files")
    return read_parquet(spark, *files)


def vacuum_snapshots(table_dir: str, *, keep_last: int = 2) -> list[str]:
    """Garbage-collect data files referenced ONLY by expired versions.

    Keeps the newest ``keep_last`` versions' manifests and every file any
    of them references; older manifests are deleted along with data files
    no surviving version shares (copy-on-write means survivors may still
    reference old commits' files — those stay).  Returns deleted paths.
    Metadata-only driver work: O(#versions · #files) path-set algebra.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = snapshot_versions(table_dir)
    if len(versions) <= keep_last:
        return []
    survivors = versions[-keep_last:]
    keep_files = set()
    for v in survivors:
        keep_files.update(read_manifest(table_dir, v)["files"])
    deleted = []
    for v in versions[:-keep_last]:
        for f in read_manifest(table_dir, v)["files"]:
            if f not in keep_files and os.path.exists(f):
                os.remove(f)
                deleted.append(f)
        os.remove(_manifest_path(table_dir, v))
    return deleted


def rollback_snapshot(table_dir: str, version: int) -> int:
    """Publish a new version whose content is an older version's file list
    (history is never rewritten — rollback is a forward commit)."""
    manifest = read_manifest(table_dir, version)
    versions = snapshot_versions(table_dir)
    new_version = versions[-1] + 1
    new_manifest = {
        "version": new_version,
        "parent": versions[-1],
        "mode": f"rollback:{version}",
        "committed_at": time.time(),
        "files": manifest["files"],
    }
    tmp = os.path.join(_versions_dir(table_dir), f".tmp-rb-{new_version}.json")
    with open(tmp, "w") as f:
        json.dump(new_manifest, f)
    os.rename(tmp, _manifest_path(table_dir, new_version))
    return new_version


def snapshot_diff(
    spark,
    table_dir: str,
    *,
    key_col: str,
    v_from: int,
    v_to: int,
):
    """Row-level diff between two snapshot versions: one row per key that
    was added, removed, or changed (unchanged keys are absent), the
    time-travel companion every versioned table needs for audits and
    incremental consumers.

    Full outer join on the key; "changed" compares the full remaining
    row via a null-safe struct equality (one expression, no per-column
    plumbing).  Both sides are manifest-pruned scans of exactly the
    files each version published.
    """
    from pyspark.sql import functions as F

    old = read_snapshot(spark, table_dir, version=v_from)
    new = read_snapshot(spark, table_dir, version=v_to)
    val_cols = [c for c in old.columns if c != key_col]
    o = old.select(
        F.col(key_col), F.struct(*val_cols).alias("__old")
    )
    n = new.select(
        F.col(key_col), F.struct(*val_cols).alias("__new")
    )
    j = o.join(n, key_col, "full_outer")
    return (
        j.select(
            key_col,
            F.when(F.col("__old").isNull(), "added")
            .when(F.col("__new").isNull(), "removed")
            .when(~F.col("__old").eqNullSafe(F.col("__new")), "changed")
            .alias("change"),
            "__old",
            "__new",
        )
        .where(F.col("change").isNotNull())
        .select(key_col, "change", F.col("__old").alias("old"), F.col("__new").alias("new"))
    )
