"""Versioned parquet tables: snapshot isolation, time travel, rollback
— a minimal manifest layer over plain parquet (extension layer;
Iceberg/Delta's core idea re-implemented small, for environments where
neither is on the classpath.  No reference analogue: the reference
mutates MySQL in place, Porter.php:207).

Design (the standard metadata-layer shape):

- data files are IMMUTABLE: every commit writes its rows to a fresh
  ``data/<commit-id>/`` directory and never touches existing files;
- a version is a JSON manifest (``_versions/v{N}.json``) listing the
  exact file set of that snapshot plus the parent version;
- the manifest is written to a temp name and ``os.rename``-ed into
  place — readers see either the old or the new version, never a
  partial one (single-writer contract; multi-writer needs a real
  catalog/lock service, out of scope and documented);
- reads resolve a manifest and hand Spark the explicit file list:
  a reader holding version N is isolated from every later commit;
- ``rollback`` is a NEW commit whose file set is the old version's
  (history is never rewritten).

Scale: the data path is ordinary parquet (all pruning/pushdown
applies); manifests are O(files) JSON — the known metadata bottleneck
real formats solve with avro manifests + manifest lists, noted here as
the growth path.  What this buys a training pipeline: "dataset v12"
is a pinned, reproducible file set — `snapshot_diff` across two
versions needs no copies, and a bad ingest is one rollback away.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

_VDIR = "_versions"


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _VDIR, f"v{version}.json")


def current_version(table: str) -> int | None:
    vdir = os.path.join(table, _VDIR)
    if not os.path.isdir(vdir):
        return None
    versions = [
        int(f[1:-5]) for f in os.listdir(vdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def _load_manifest(table: str, version: int) -> dict:
    with open(_manifest_path(table, version)) as fh:
        return json.load(fh)


def commit(df: DataFrame, table: str, mode: str = "append") -> int:
    """Write ``df`` as a new immutable snapshot; returns the version.

    ``append``: new version = parent's file set + this commit's files.
    ``overwrite``: new version = this commit's files only (old data
    files remain on disk for time travel).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode: {mode}")
    os.makedirs(os.path.join(table, _VDIR), exist_ok=True)
    parent = current_version(table)
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table, "data", commit_id)
    df.write.parquet(data_dir)
    new_files = sorted(
        os.path.join("data", commit_id, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    files = new_files
    if mode == "append" and parent is not None:
        files = _load_manifest(table, parent)["files"] + new_files
    version = 0 if parent is None else parent + 1
    manifest = {
        "version": version,
        "parent": parent,
        "mode": mode,
        "commit_id": commit_id,
        "files": files,
    }
    _publish_manifest(table, version, manifest)
    return version


def _publish_manifest(table: str, version: int, manifest: dict) -> None:
    """Exclusive publication: ``os.link`` fails if the target exists
    (unlike ``os.rename``, which silently replaces), so two writers
    racing for the same version get one winner and one
    ``FileExistsError`` — losers retry on top of the new head instead
    of clobbering it."""
    final = _manifest_path(table, version)
    tmp = final + f".tmp.{manifest['commit_id']}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise FileExistsError(
            f"concurrent commit: version {version} of {table} already exists; "
            "re-read the head and retry"
        ) from None
    finally:
        os.remove(tmp)


def read_version(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: the exact file set of ``version`` (default:
    latest).  A plain parquet multi-file read — pruning, pushdown, and
    split planning all apply."""
    v = current_version(table) if version is None else version
    if v is None or not os.path.exists(_manifest_path(table, v)):
        raise FileNotFoundError(f"no version {version!r} in {table}")
    m = _load_manifest(table, v)
    if not m["files"]:
        raise ValueError(f"version {v} of {table} is empty")
    return spark.read.parquet(*(os.path.join(table, f) for f in m["files"]))


def rollback(table: str, to_version: int) -> int:
    """New commit restoring ``to_version``'s file set (history stays)."""
    old = _load_manifest(table, to_version)
    parent = current_version(table)
    version = parent + 1
    manifest = {
        "version": version,
        "parent": parent,
        "mode": f"rollback:{to_version}",
        "commit_id": uuid.uuid4().hex[:12],
        "files": old["files"],
    }
    _publish_manifest(table, version, manifest)
    return version
