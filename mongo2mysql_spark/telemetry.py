"""Progress / row-count telemetry (SURVEY.md §2 A17, Porter.php:211-225).

The reference prints per-table progress lines from its row loop
(``processed/total (pct) ETA``).  A Spark engine must not count rows
driver-side, so the rebuild uses the public ``DataFrame.observe`` API:
an :class:`~pyspark.sql.Observation` rides the write action itself —
the row count is collected by accumulator during the sink job, with NO
extra pass over the data (a ``df.count()`` before writing would double
the scan; per-row callbacks don't exist in a distributed plan).

Cluster-level progress (stages, tasks, shuffle volumes) remains
delegated to the Spark UI / history server, per SURVEY §2 A17; this
module covers the reference-parity slice: per-destination-table row
throughput lines, and (:func:`observe`) the row counts and other
one-pass statistics any stage reports.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from functools import cached_property

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Observed:
    """Aggregate metrics of a frame, collected by an Observation on
    whichever action first runs the frame: use :attr:`frame` in place
    of the input, run the actions, then read :attr:`metrics`.

    The metrics are exact only if that action computes each of the
    frame's partitions once.  Put the observation right below a
    ``persist`` (the cache fill computes each partition once) or above
    an exchange that reads the frame once; not under a range exchange
    of an uncached frame, whose sampling job computes it a second time,
    and not under ``localCheckpoint(eager=False)``, which completes
    the observation before any row is seen (it reads 0).
    """

    frame: DataFrame
    observation: Observation
    exprs: tuple[Column, ...]

    @cached_property
    def metrics(self) -> dict:
        """The metrics, by name.  An observation that no action ran is
        computed instead by one aggregation over :attr:`frame`: a frame
        no action has read yet, or one whose collector the action's
        final plan lost (AQE replaces a subtree over an empty stage by
        an empty relation, and the observation completes with an empty
        row)."""
        jo = self.observation._jo
        # observations complete on the listener bus, after the action
        # returns: drain it, then a pending one has really not fired
        try:
            self.frame.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # still busy after 10 s: aggregate if not fired
            pass
        if jo.future().isCompleted() and jo.getRow().length() == len(self.exprs):
            return self.observation.get
        return self.frame.agg(*self.exprs).first().asDict()


def observe(df: DataFrame, name: str, **metrics: Column) -> Observed:
    """``df`` observed under ``name`` with aggregate ``metrics``
    (default: ``rows``, its row count)."""
    exprs = tuple(c.alias(k) for k, c in (metrics or {"rows": F.count(F.lit(1))}).items())
    obs = Observation(f"{name}_{uuid.uuid4().hex[:8]}")
    return Observed(df.observe(obs, *exprs), obs, exprs)


@dataclass(frozen=True)
class TableProgress:
    table: str
    rows: int
    seconds: float
    rows_per_sec: float

    def line(self) -> str:
        """Reference-shaped progress line (Porter.php:222-225)."""
        return (
            f" * {self.table}: {self.rows} rows in {self.seconds:.1f}s "
            f"({self.rows_per_sec:.0f} rows/s)"
        )


class ProgressReporter:
    """Per-table write telemetry.

    Usage::

        reporter = ProgressReporter()
        df = reporter.wrap("docs", df)     # before the sink action
        sink("docs", df)                   # any action (write/foreach)
        progress = reporter.finish("docs") # after: rows + throughput

    ``emit`` receives each finished :class:`TableProgress` line (default:
    stdout, like the reference's console progress).
    """

    def __init__(self, emit=print, clock=time.time):
        self._emit = emit
        self._clock = clock
        self._pending: dict[str, tuple[Observed, float]] = {}
        self.finished: dict[str, TableProgress] = {}

    def wrap(self, table: str, df: DataFrame) -> DataFrame:
        observed = observe(df, f"porter_{table}")
        self._pending[table] = (observed, self._clock())
        return observed.frame

    def finish(self, table: str) -> TableProgress:
        observed, t0 = self._pending.pop(table)
        seconds = max(self._clock() - t0, 1e-9)
        rows = int(observed.metrics["rows"])
        progress = TableProgress(table, rows, seconds, rows / seconds)
        self.finished[table] = progress
        if self._emit:
            self._emit(progress.line())
        return progress

    @property
    def total_rows(self) -> int:
        return sum(p.rows for p in self.finished.values())
