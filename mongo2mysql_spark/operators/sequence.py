"""Synthetic per-table insertion counter ``_num`` (SURVEY.md §2 A11,
Porter.php:196-201, 260).

The reference increments a per-destination-table counter in cursor
order — 1-based and contiguous, but nondeterministic across runs
because Mongo cursor order is unspecified.  The rebuild orders by an
explicit stable key (default ``_id``) for determinism.

Scale: a ``row_number`` window partitioned by ``_table`` puts each
table in one reducer, and destination tables are Zipfian (one routing
key may carry a whole collection).  :class:`Numbering` instead numbers
a range-partitioned, persisted frame from per-partition counts (one
aggregation of #partitions × #groups rows) and a narrow projection; a
frame already in one partition skips the range exchange.
``add_num`` keeps the window form as the reference the tests compare
against.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongo2mysql_spark.plans.ddl import column


def add_num(
    df: DataFrame,
    partition_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    out_col: str = "_num",
) -> DataFrame:
    """Per-group 1-based sequence.  With no partition columns a plain
    window would be a global no-partition window (single reducer on the
    whole table) — that case is routed to :func:`add_num_two_phase`
    instead, so callers can never accidentally produce a `WindowExec:
    No Partition Defined` plan."""
    if not partition_cols:
        return add_num_two_phase(df, order_cols or ["_id"], out_col=out_col)
    w = W.partitionBy(*partition_cols).orderBy(*(order_cols or ["_id"]))
    return df.withColumn(out_col, F.row_number().over(w))


def _prefix_offsets(per_pid: DataFrame, partition_cols: list[str], val_col: str) -> DataFrame:
    """Cumulative offset per group in ``__pid`` order, WITHOUT a window:
    a lit-partitioned window constant-folds back to `WindowExec: No
    Partition Defined`, and an ordered window over the tiny per-pid
    frame would be a needless single-reducer plan shape.  Instead pack
    each group's (pid, value) rows into one sorted array and run a
    linear prefix scan with ``aggregate`` (pure whole-stage-codegen
    expression work on #groups rows).  Returns
    ``partition_cols + (__pid, __offset)`` where ``__offset`` is the
    sum of ``val_col`` over all earlier pids of the same group."""
    packed = per_pid.groupBy(*partition_cols).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__pid"), F.col(val_col).alias("__v")))
        ).alias("__pc")
    )
    prefix = F.expr(
        """
        aggregate(
          __pc,
          struct(cast(array() as array<struct<__pid:int,__offset:bigint>>) as arr,
                 0L as tot),
          (acc, x) -> struct(
              array_append(acc.arr, struct(x.__pid as __pid, acc.tot as __offset)) as arr,
              acc.tot + x.__v as tot),
          acc -> acc.arr)
        """
    )
    return packed.select(*partition_cols, F.explode(prefix).alias("__o")).select(
        *partition_cols, "__o.__pid", "__o.__offset"
    )


class Numbering:
    """Skew-proof per-group 1-based sequence from ONE materialization
    and ONE aggregation.

    The frame is range-partitioned on ``partition_cols + order_cols``,
    sorted within partitions, tagged with its partition id and a
    ``monotonically_increasing_id``, and persisted once.  The range key
    leads with the group, so each group's rows form a contiguous run of
    partitions, and inside each partition one contiguous run in key
    order.  :meth:`aggregate` runs one job over the cache grouped by
    (group, partition): each run's row count and first id, plus any
    statistics the caller rides on the same pass.  The driver turns
    those rows (at most partitions × groups of them) into one offset
    per run, and :meth:`frame` is a narrow projection over the cache,
    ``out_col = id − first id of the run + rows of the group in earlier
    partitions + 1``: no self-join, no window, no second shuffle.  No
    single-reducer plan either, so a table (or a routing key with ONE
    value) of 10^12 rows still numbers in parallel.

    A frame already in one partition (a sync batch, a collection file
    read as one split) is trivially range-partitioned: it is coalesced
    to one partition and sorted in place, with no range exchange and
    no sampling job, and the aggregation needs no exchange either.
    Telling the two cases apart runs no job (``_at_most_one_partition``).

    Counts and rows come from the same pinned cached partitions, so
    they cannot disagree.  Counts taken from a second execution of the
    range exchange can disagree: AQE may coalesce its partitions
    differently when that execution carries fewer columns, and rows
    whose partition id has no count are dropped.

    ``order_cols`` must be a unique key within each group for the
    result to be deterministic; ``partition_cols`` holds at most one
    column, whose values must be non-null (the porter's ``_table``
    always is).  ``persist`` holds the cache (default
    ``DataFrame.persist``; registry slots pass ``artifacts.held``);
    :meth:`unpersist` releases it.
    """

    def __init__(
        self,
        df: DataFrame,
        order_cols: list[str] | str,
        out_col: str = "_num",
        partition_cols: list[str] | None = None,
        persist=None,
    ):
        if isinstance(order_cols, str):
            order_cols = [order_cols]
        self.partition_cols = list(partition_cols or [])
        if len(self.partition_cols) > 1:
            raise ValueError("Numbering groups by at most one column")
        self.out_col = out_col
        self.columns = list(df.columns)
        # the schema of frame(): what schema inference describes
        self.schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.IntegerType())])
        keys = [F.col(c) for c in (*self.partition_cols, *order_cols)]
        spread = df.coalesce(1) if _at_most_one_partition(df) else df.repartitionByRange(*keys)
        ordered = (
            spread.sortWithinPartitions(*keys)
            .withColumn("__pid", F.spark_partition_id())
            .withColumn("__mid", F.monotonically_increasing_id())
        )
        self.cached = (persist or DataFrame.persist)(ordered)
        self._deltas: dict | None = None  # group → [per-partition id delta]

    def aggregate(self, *aggs: Column) -> list[dict]:
        """The one job: per (group, partition) run, its row count
        ``__n`` and first id ``__first``, plus ``aggs`` evaluated over
        the run (partial statistics the caller merges per group).
        Fits the offsets :meth:`frame` projects; returns the rows."""
        rows = [
            r.asDict()
            for r in self.cached.groupBy(*self.partition_cols, "__pid")
            .agg(F.count(F.lit(1)).alias("__n"), F.min("__mid").alias("__first"), *aggs)
            .collect()
        ]
        deltas: dict = {}
        earlier: dict = {}  # group → its rows in earlier partitions
        for r in sorted(rows, key=lambda r: r["__pid"]):
            g = r[self.partition_cols[0]] if self.partition_cols else None
            run = deltas.setdefault(g, [])
            run.extend([0] * (r["__pid"] + 1 - len(run)))
            n = earlier.get(g, 0)
            run[r["__pid"]] = n + 1 - r["__first"]
            earlier[g] = n + r["__n"]
        self._deltas = deltas
        return rows

    def frame(self, group=None) -> DataFrame:
        """The numbered rows (only those of ``group``, when given) with
        the caller's columns plus ``out_col``, read from the cache."""
        if self._deltas is None:
            raise RuntimeError("Numbering.frame() needs aggregate() first")
        df = self.cached
        pid = F.col("__pid")
        if not self._deltas:  # no rows
            delta = F.lit(None).cast("bigint")
        elif group is not None:
            df = df.filter(F.col(self.partition_cols[0]) == group)
            delta = _long_array(self._deltas.get(group, []))[pid]
        elif self.partition_cols:
            by_group = F.create_map(
                *(x for g, d in self._deltas.items() for x in (F.lit(g), _long_array(d)))
            )
            delta = by_group[F.col(self.partition_cols[0])][pid]
        else:
            delta = _long_array(self._deltas.get(None, []))[pid]
        num = (F.col("__mid") + delta).cast("int").alias(self.out_col)
        return df.select(*map(column, self.columns), num)

    def unpersist(self) -> None:
        self.cached.unpersist()


def _at_most_one_partition(df: DataFrame) -> bool:
    """Whether ``df`` is in at most one partition, decided without a
    Spark job: its physical plan, cached plans included, holds no
    exchange, subquery or adaptive plan, so building its RDD runs
    nothing.  (Under AQE, counting the partitions of a plan with an
    exchange runs that exchange's stages.)"""
    plan = df._jdf.queryExecution().executedPlan()
    text = plan.toString().lower()
    if any(w in text for w in ("exchange", "subquery", "adaptivesparkplan", "querystage")):
        return False
    return plan.execute().getNumPartitions() <= 1


def _long_array(values: list[int]) -> Column:
    return F.array(*(F.lit(v) for v in values)).cast("array<bigint>")


def add_num_two_phase(
    df: DataFrame,
    order_cols: list[str] | str,
    out_col: str = "_num",
    partition_cols: list[str] | None = None,
    persist=None,
) -> DataFrame:
    """``df`` plus its per-group sequence ``out_col`` through
    :class:`Numbering`: one eager job, then a lazy projection over the
    cache ``persist`` holds.  Callers treat it as a ``withColumn``."""
    num = Numbering(df, order_cols, out_col, partition_cols, persist)
    num.aggregate()
    return num.frame()


def add_running_total_two_phase(
    df: DataFrame,
    value_col: str,
    order_cols: list[str] | str,
    out_col: str = "_cum",
    partition_cols: list[str] | None = None,
    exclusive: bool = False,
) -> DataFrame:
    """Skew-proof global (or per-group) prefix sum of ``value_col`` in
    ``order_cols`` order — a lazy two-phase plan (range partition →
    per-partition sums → broadcast offsets → partition-local running
    sum).  This is the scale substrate for any "position in a global
    accumulation" operator: sequence packing (token budgets),
    size-bounded file assignment, quota admission.

    ``exclusive=True`` returns the sum over STRICTLY earlier rows
    (0 for the first row) — what packing needs; ``False`` includes the
    current row.  ``value_col`` must be non-negative for packing-style
    uses but the operator itself only needs it non-null."""
    from pyspark.sql.functions import spark_partition_id

    if isinstance(order_cols, str):
        order_cols = [order_cols]
    partition_cols = partition_cols or []
    range_cols = [F.col(c) for c in (*partition_cols, *order_cols)]
    with_pid = df.repartitionByRange(*range_cols).withColumn(
        "__pid", spark_partition_id()
    )
    sums = with_pid.groupBy("__pid", *partition_cols).agg(
        F.sum(F.col(value_col).cast("long")).alias("__s")
    )
    offsets = _prefix_offsets(sums, partition_cols, "__s")
    hi = -1 if exclusive else 0
    w = (
        W.partitionBy("__pid", *partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, hi)
    )
    local = F.coalesce(
        F.sum(F.col(value_col).cast("long")).over(w), F.lit(0).cast("long")
    )
    return (
        with_pid.join(F.broadcast(offsets), ["__pid", *partition_cols])
        .withColumn(out_col, (F.col("__offset") + local).cast("long"))
        .select(*df.columns, out_col)
    )
