"""Custom stateful streaming operators (``applyInPandasWithState``).

Native Structured Streaming covers windowed aggregation, stream dedup
(``dropDuplicates`` + watermark), and joins; anything with bespoke
per-key state transitions goes through the Arrow-batched state seam.
The operator here — a per-key admission quota ("first N events per
key") — is the canonical shape: rate limiting, sampling caps per user,
take-first-N training-data selection.  State per key is one counter;
Arrow batches stream through without driver involvement.

Scale: state lives in the state store (RocksDB on a real cluster),
partitioned by key — adding executors shards the key space.  Long-lived
production keys need a timeout (``GroupStateTimeout.EventTimeTimeout``
with the stream's watermark) so abandoned keys age out; the bounded
test harness runs without one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout


def streaming_first_n_per_key(
    stream: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    n: int,
) -> DataFrame:
    """Admit at most ``n`` rows per key, in ``order_cols`` order within
    each micro-batch (first-arrival across batches — the streaming
    analogue of ``row_number() <= n`` per key).

    Output schema == input schema; emitted rows are a subset of input.
    """
    out_schema = stream.schema

    def take_first_n(key, pdfs, state):
        import pandas as pd

        count = state.get[0] if state.exists else 0
        remaining = n - count
        if remaining <= 0:
            for _ in pdfs:  # drain the iterator; nothing more to admit
                pass
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        admitted = batch.sort_values(order_cols).head(remaining)
        state.update((count + len(admitted),))
        if len(admitted):
            yield admitted

    return stream.groupBy(*key_cols).applyInPandasWithState(
        take_first_n,
        out_schema,
        "count long",
        "append",
        GroupStateTimeout.NoTimeout,
    )
