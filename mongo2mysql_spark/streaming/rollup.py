"""Streaming continuous-aggregate refresh: the hypertable rollup
(operators/rollup.py) fed by Structured Streaming micro-batches.

The batch-side contract is already incremental — ``rollup_partials``
aggregates one ingest batch at finest granularity, ``rollup_merge``
folds it into the partial store at partial (not raw) cardinality, and
``rollup_levels_from_partials`` serves every granularity from the
store.  This module is the last mile: a ``foreachBatch`` sink that
applies exactly that per micro-batch against a parquet-backed store,
so a live event stream maintains hour/day/week aggregates with the raw
history NEVER rescanned — each batch costs one aggregation of the
batch plus one merge at store cardinality.

Store durability — a real manifest (the ``sources/versioned`` shape,
single-writer):

- every merged store is written to a fresh immutable
  ``stores/<id>/`` directory; nothing is renamed over or rewritten;
- ``MANIFEST.json`` points at the current directory and is published
  by writing a temp file and one atomic ``os.rename`` — a crash at
  ANY point leaves the manifest referencing a complete store (either
  the old one or the new one), never a partial or missing directory;
- the manifest also records the last applied ``(writer, epoch)``.
  ``foreachBatch`` is at-least-once: a crash after the manifest
  publish but before the stream's epoch commit replays the batch, and
  the additive merge would double-count — the epoch guard skips
  already-applied epochs instead.  The writer identity is derived
  from the checkpoint directory (epoch numbers are only meaningful
  within one checkpoint lineage; a fresh checkpoint restarts at 0 and
  MUST apply);
- superseded store directories are removed after publication, keeping
  the previous one so a reader that resolved the old manifest moments
  earlier can finish its scan.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo2mysql_spark.operators.rollup import rollup_merge, rollup_partials

_MANIFEST = "MANIFEST.json"


def _read_manifest(store_dir: str) -> dict | None:
    path = os.path.join(store_dir, _MANIFEST)
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _publish_manifest(store_dir: str, manifest: dict) -> None:
    """Atomic single-writer publication: full temp write + one rename
    (readers see the old or the new manifest, never a torn one)."""
    path = os.path.join(store_dir, _MANIFEST)
    tmp = path + "." + uuid.uuid4().hex[:12] + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, path)


def read_partial_store(spark, store_dir: str) -> DataFrame | None:
    """Current partial store, or None before the first refresh."""
    manifest = _read_manifest(store_dir)
    if manifest is None:
        return None
    return spark.read.parquet(os.path.join(store_dir, manifest["store"]))


def refresh_partial_store(
    batch_df: DataFrame,
    store_dir: str,
    ts_col: str,
    group_cols: list[str],
    value_col: str,
    finest: str = "hour",
    distinct_col: str | None = None,
    writer: str | None = None,
    epoch: int | None = None,
) -> bool:
    """One incremental refresh: batch → partials → merge → immutable
    store dir → atomic manifest publish.  Returns False when the
    ``(writer, epoch)`` pair was already applied (at-least-once replay
    after a crash between publish and stream-epoch commit) — the
    idempotence half of the exactly-once contract; the checkpoint owns
    the other half."""
    spark = batch_df.sparkSession
    manifest = _read_manifest(store_dir)
    if (
        manifest is not None
        and epoch is not None
        and writer is not None
        and manifest.get("writer") == writer
        and manifest.get("last_epoch") is not None
        and epoch <= manifest["last_epoch"]
    ):
        return False
    partials = rollup_partials(
        batch_df, ts_col, group_cols, F.col(value_col), finest, distinct_col
    )
    store = None
    if manifest is not None:
        # immutable dirs: the merge reads the old store lazily while the
        # new one is written elsewhere — no checkpoint/copy needed
        store = spark.read.parquet(os.path.join(store_dir, manifest["store"]))
    merged = rollup_merge(store, partials, group_cols)
    new_rel = os.path.join("stores", uuid.uuid4().hex[:12])
    merged.write.parquet(os.path.join(store_dir, new_rel))
    _publish_manifest(
        store_dir,
        {
            "store": new_rel,
            "writer": writer,
            "last_epoch": epoch,
            "previous": manifest["store"] if manifest else None,
        },
    )
    # reclaim dirs the new manifest references neither as current nor as
    # previous (the previous stays one cycle for in-flight readers)
    keep = {new_rel.split("/")[-1]}
    if manifest is not None:
        keep.add(manifest["store"].split("/")[-1])
    stores_root = os.path.join(store_dir, "stores")
    for d in os.listdir(stores_root):
        if d not in keep:
            shutil.rmtree(os.path.join(stores_root, d), ignore_errors=True)
    return True


def streaming_rollup_refresh(
    stream: DataFrame,
    store_dir: str,
    ts_col: str,
    group_cols: list[str],
    value_col: str,
    finest: str = "hour",
    distinct_col: str | None = None,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
):
    """Attach the refresh as a foreachBatch sink; returns the started
    StreamingQuery (caller awaits/stops).

    ``trigger`` is passed straight to ``writeStream.trigger`` and
    defaults to ``{"availableNow": True}`` — the catch-up/backlog run
    that drains and stops; pass ``{"processingTime": "1 minute"}``
    (etc.) for a continuously-running refresh.  The epoch guard keys on
    the checkpoint directory, so restarts from the same checkpoint
    never double-apply a replayed batch, while a fresh checkpoint (new
    epoch lineage) applies from 0 as it must.
    """
    writer = (
        hashlib.sha256(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:16]
        if checkpoint_dir
        else None
    )

    def handle(batch_df: DataFrame, epoch: int) -> None:
        refresh_partial_store(
            batch_df, store_dir, ts_col, group_cols, value_col,
            finest, distinct_col, writer=writer, epoch=epoch,
        )

    writer_q = stream.writeStream.foreachBatch(handle).trigger(
        **(trigger or {"availableNow": True})
    )
    if checkpoint_dir:
        writer_q = writer_q.option("checkpointLocation", checkpoint_dir)
    return writer_q.start()
