"""Pipeline orchestration (SURVEY.md §2 A18, §3): the Spark-native
equivalent of ``Porter::run()`` / ``exportCollection``.

Per collection, the reference's per-row loop (route → flatten → filters
→ array spill → _num → schema-ensure → REPLACE insert,
Porter.php:131-235) becomes a set-oriented two-pass plan:

  read → _table routing column → flatten (+ spill children)
       → skip/dataonly/wide guards
  Pass 1 (one per table family — the routed parent, each spilled
          child): range-partition by (_table, order key), sort, persist
          once; ONE aggregation per (table, partition) gives the schema
          statistics and the _num offsets → widening lattice → DDL
  Pass 2 (data): per-table JDBC upsert (or parquet staging) of a narrow
          _num projection over the family's cache

``run_to_frames`` returns the transformed DataFrames + DDL without a
sink (what the tests and the rows-only harness query exercise);
``run`` additionally writes through the configured sink.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from mongo2mysql_spark.operators.flatten import flatten
from mongo2mysql_spark.operators.guards import (
    WIDE_ROW_LIMIT,
    filter_missing_destination,
    filter_skip_list,
    table_too_wide,
)
from mongo2mysql_spark.operators.routing import DEFAULT_KLUDGE_RULES, add_table_column
from mongo2mysql_spark.operators.sequence import Numbering
from mongo2mysql_spark.operators.spill import child_table_name, spill_child
from mongo2mysql_spark.plans.ddl import evolve_schema_sql
from mongo2mysql_spark.plans.infer import infer_table_schema, infer_table_schemas_grouped


@dataclass
class PorterConfig:
    id_col: str = "_id"
    key_col: str = "_key"
    skip: set[str] = field(default_factory=set)
    dataonly: bool = False
    existing_tables: set[str] = field(default_factory=set)  # for dataonly
    limit: int | None = None
    wide_row_limit: int = WIDE_ROW_LIMIT
    kludge_rules: tuple = DEFAULT_KLUDGE_RULES
    ts_seconds: bool = True


@dataclass
class CollectionExport:
    """All destination tables derived from one collection."""

    tables: dict[str, DataFrame] = field(default_factory=dict)
    schemas: dict[str, dict[str, str]] = field(default_factory=dict)
    ddl: list[str] = field(default_factory=list)
    skipped_wide: list[str] = field(default_factory=list)
    # one persisted Numbering per table family: the routed parent
    # (keyed by the collection name) and each spilled child table
    _families: dict[str, Numbering] = field(default_factory=dict)

    def unpersist(self) -> None:
        """Release every family cache (call once the per-table frames
        have been written/consumed)."""
        for family in self._families.values():
            family.unpersist()
        self._families.clear()


class SparkPorter:
    def __init__(self, spark: SparkSession, config: PorterConfig | None = None):
        self.spark = spark
        self.config = config or PorterConfig()

    # ---------------------------------------------------------------- export

    def export_collection(self, df: DataFrame, collection_name: str) -> CollectionExport:
        cfg = self.config
        out = CollectionExport()
        if cfg.limit is not None:
            df = df.limit(cfg.limit)

        flat = flatten(df, ts_seconds=cfg.ts_seconds)
        parent = add_table_column(flat.parent, cfg.key_col, collection_name,
                                  kludge_rules=cfg.kludge_rules)
        parent = filter_skip_list(parent, cfg.skip)
        if cfg.dataonly:
            parent = filter_missing_destination(parent, cfg.existing_tables)

        # wide-row guard: per-table with fixed schemas (Porter.php:190-194).
        # A skipped-wide parent emits NO destination table and NO DDL —
        # the reference skips the row before ensureRowStructure, so it
        # never creates structure for skipped data.  Reference quirk
        # preserved: child spills of skipped parents still execute
        # (Porter.php:182-188 runs before the guard), so children derive
        # from the UNGUARDED frame below.
        parent_skipped = table_too_wide(df.schema, cfg.wide_row_limit)
        if parent_skipped:
            out.skipped_wide.append(collection_name)

        # stable order/parent key: `_id` for Mongo-shaped input
        # (Porter.php:116-117); first column for plain relational frames
        id_col = cfg.id_col if cfg.id_col in flat.parent.columns else df.columns[0]

        # Each table family is numbered (Porter.php:260 — a per-table
        # counter) and described by ONE aggregation over its one cache;
        # the write then reads the cache.  Never a window partitioned
        # by _table: a collection whose rows all route to one table
        # (every flat relational frame) would sort in a single reducer.
        for spill in flat.spills:
            name = child_table_name(collection_name, spill.flat_name)
            if cfg.dataonly and name not in cfg.existing_tables:
                continue
            if name in cfg.skip:
                continue
            child = Numbering(spill_child(df, spill, id_col=id_col), ["_parentid", "_index"])
            out._families[name] = child
            out.schemas[name] = infer_table_schema(child, strict=False)
            out.tables[name] = child.frame()

        if not parent_skipped:
            # Routing split: ONE scan for N destination tables.  The
            # grouped inference doubles as the distinct-table pass: its
            # (_table, partition) groups ARE the destination-table list,
            # and each per-table frame below is a narrow cache read.
            # (At cluster scale the equivalent is a partitionBy("_table")
            # staging write; see SURVEY §3.)
            routed = Numbering(parent, [id_col], partition_cols=["_table"])
            out._families[collection_name] = routed
            parent_schemas = infer_table_schemas_grouped(routed, "_table", strict=False)
            for t in sorted(parent_schemas):
                out.tables[t] = routed.frame(t).drop("_table")
                out.schemas[t] = parent_schemas[t]

        # DDL pass (once per table — the reference's per-row
        # ensureRowStructure collapsed into one statement batch)
        if not cfg.dataonly:
            for t in out.tables:
                schema = out.schemas[t]
                pk = (
                    ("_parentid", "_index")
                    if "__" in t
                    else ((id_col,) if id_col in schema else ())
                )
                out.ddl.extend(evolve_schema_sql(t, None, schema, pk))
        return out

    # ------------------------------------------------------------------- run

    def run_to_frames(self, collections: dict[str, DataFrame]) -> dict[str, CollectionExport]:
        """Export each collection, one after another.  Each export
        holds its family caches until ``CollectionExport.unpersist``."""
        return {name: self.export_collection(df, name) for name, df in collections.items()}

    def run(
        self,
        collections: dict[str, DataFrame],
        sink=None,
        ddl_executor=None,
        reporter=None,
    ) -> dict[str, CollectionExport]:
        """Full pipeline.  ``sink(table_name, df)`` writes one table
        (e.g. a partial of sources.jdbc.write_upsert or a parquet
        writer); ``ddl_executor(statements)`` applies the schema pass;
        ``reporter`` (telemetry.ProgressReporter) emits per-table row
        throughput collected DURING the sink action (A17).  Each
        collection is exported, written and released before the next
        one starts, so only one collection's family caches are held at
        a time."""
        exports = {}
        for name, df in collections.items():
            export = exports[name] = self.export_collection(df, name)
            try:
                if ddl_executor and export.ddl:
                    ddl_executor(export.ddl)
                if sink:
                    for t, tdf in export.tables.items():
                        if reporter is not None:
                            tdf = reporter.wrap(t, tdf)
                        sink(t, tdf)
                        if reporter is not None:
                            reporter.finish(t)
            finally:
                export.unpersist()
        return exports
