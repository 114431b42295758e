"""Lake write path: the training-corpus shard writer
(SURVEY.md §2 'Scans/sources/sinks' — the write-side concerns the
reference never had: it wrote one MySQL row at a time, Porter.php:207).

``write_training_shards`` writes a globally shuffled, fixed-shard
corpus: a deterministic per-record rank, one shuffle keyed on shard,
rows ordered by rank inside each shard directory.  ``parquet_files``
lists the data files under a parquet root.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    salt: str = "shuffle",
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Globally-shuffled fixed-shard training corpus write — the last
    stage of a data pipeline before the trainer reads it.

    Each record gets a deterministic random position from
    `operators/sampling.shuffle_shard` (salted-md5 rank; no RNG, no
    global sort): ``shard = rank % n_shards`` directories, rows inside
    each shard file ordered by rank.  Same salt → byte-identical shards
    run-to-run, so a resumed/repeated build reproduces the exact
    training order.  The ``shuffle_rank`` column is kept in the output
    for mid-shard resume.  Cost at any scale: one narrow projection +
    one shuffle keyed on shard.

    ``fmt``: 'parquet' (analytics-friendly, default) or 'jsonl' (what
    most trainer data loaders stream) — same layout, same ordering
    contract either way."""
    from mongo2mysql_spark.operators.sampling import shuffle_shard

    if fmt not in ("parquet", "jsonl"):
        raise ValueError(f"unknown shard format: {fmt}")
    shard, rank = shuffle_shard(F.col(key_col), n_shards, salt)
    out = (
        df.withColumn("shard", shard)
        .withColumn("shuffle_rank", rank)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shuffle_rank")
    )
    writer = out.write.mode(mode).partitionBy("shard")
    if fmt == "parquet":
        writer.parquet(path)
    else:
        writer.json(path)


def parquet_files(path: str) -> list[str]:
    """Data files under a parquet root (recursive, excludes _SUCCESS)."""
    found = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                found.append(os.path.join(root, n))
    return sorted(found)


# ------------------------------------------------- bloom file skipping
