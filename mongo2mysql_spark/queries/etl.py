"""ETL-parity queries (SURVEY.md §2 Part A) exposed on the harness
tables so the DuckDB oracle can check them.

The real fixture for these operators is nested Mongo-shaped data
(tests/test_etl_core.py builds it); the harness tables are flat, so
each query *constructs* the nested/keyed shape from a real table first,
then applies the operator under test.  The oracle SQL re-derives the
same result relationally — including a full SQL mirror of the routing
chain, which doubles as its specification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongo2mysql_spark.artifacts import held
from mongo2mysql_spark.operators.flatten import SpillField, flatten
from mongo2mysql_spark.operators.routing import add_table_column
from mongo2mysql_spark.operators.sequence import add_num_two_phase
from mongo2mysql_spark.operators.spill import spill_child
from mongo2mysql_spark.plans.infer import infer_table_schema
from mongo2mysql_spark.queries import register
from mongo2mysql_spark.sources import load_table as Tb

# ------------------------------------------------------------------- flatten


@register(
    "etl_flatten",
    """
    SELECT 'struct' AS branch,
           c_custkey AS _id,
           c_name AS profile_name,
           c_acctbal AS profile_acct_bal,
           c_mktsegment AS profile_acct_segment,
           c_nationkey,
           CAST(NULL AS BIGINT) AS event_id,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS BIGINT) AS props_k
    FROM customer
    UNION ALL
    SELECT 'json' AS branch,
           CAST(NULL AS BIGINT) AS _id,
           CAST(NULL AS VARCHAR) AS profile_name,
           CAST(NULL AS DOUBLE) AS profile_acct_bal,
           CAST(NULL AS VARCHAR) AS profile_acct_segment,
           CAST(NULL AS INTEGER) AS c_nationkey,
           event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
    FROM events
    """,
    doc=(
        "flatten surface, both payload shapes in one tagged result.  "
        "'struct': A8 recursive flatten — nested struct → path-named "
        "columns (one select).  'json': dynamic-schema payload path "
        "(SURVEY §7 Step 2) — JSON string column → sampled schema "
        "inference → from_json → flattened columns."
    ),
)
def etl_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.dynamic import parse_json_column
    from mongo2mysql_spark.queries import tagged_union

    c = Tb(spark, sf_dir, "customer")
    nested = c.select(
        F.col("c_custkey").alias("_id"),
        F.struct(
            F.col("c_name").alias("name"),
            F.struct(
                F.col("c_acctbal").alias("bal"),
                F.col("c_mktsegment").alias("segment"),
            ).alias("acct"),
        ).alias("profile"),
        "c_nationkey",
    )
    e = Tb(spark, sf_dir, "events").select("event_id", "event_type", "props")
    return tagged_union(
        {"struct": flatten(nested).parent, "json": parse_json_column(e, "props")}
    )


# --------------------------------------------------------------- array spill


@register(
    "etl_child_spill_tokens",
    """
    WITH ex AS (
      SELECT doc_id AS _parentid,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS _index,
             unnest(string_split(text, ' ')) AS token
      FROM documents)
    SELECT _parentid, CAST(_index AS INTEGER) AS _index, token,
           CAST(row_number() OVER (ORDER BY _parentid, _index) AS INTEGER) AS _num
    FROM ex
    """,
    doc="A9 array→child table: posexplode with _parentid/_index/_num.",
)
def etl_child_spill_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Tb(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_id"), F.split("text", " ").alias("token")
    )
    spill = SpillField(("token",), "token", T.ArrayType(T.StringType()), "array")
    child = spill_child(d, spill)
    # global sequence over one persisted range partitioning: no
    # single-reducer no-partition window
    return add_num_two_phase(
        child, ["_parentid", "_index"],
        persist=lambda df: held("etl.child_spill_tokens", df),
    )


# ------------------------------------------------------------------- routing

# Full SQL mirror of the routing chain (Porter.php:300-339) — also the
# oracle's executable spec of operators/routing.py.
_ROUTE_SQL = r"""
    WITH keyed AS (
      SELECT CASE event_type
               WHEN 'click'    THEN 'tag:' || user_id || ':topics'
               WHEN 'view'     THEN 'settings:' || user_id || ':theme'
               WHEN 'signup'   THEN 'user:' || user_id
               WHEN 'purchase' THEN 'group:cid:' || user_id || ':privileges:read'
               ELSE CAST(user_id AS VARCHAR)
             END AS k
      FROM events),
    kludged AS (
      SELECT k,
             CASE WHEN regexp_matches(k, '^tag:(.+):topics$') THEN 'tag_topics'
                  WHEN regexp_matches(k, '^group:cid:\d+:privileges.*:members$') THEN 'group_privileges_members'
                  WHEN regexp_matches(k, '^group:cid:\d+:privileges') THEN 'group_privileges'
                  WHEN regexp_matches(k, '^group:.*:members$') THEN 'group_members'
                  WHEN regexp_matches(k, '^group:[^:]*$') THEN 'group'
                  WHEN regexp_matches(k, '^ip:.*:uid$') THEN 'ip_uid'
                  ELSE k END AS k1
      FROM keyed),
    collapsed AS (
      SELECT k, CASE WHEN string_split(k1, ':')[1] IN ('settings', 'widgets')
                     THEN string_split(k1, ':')[1] ELSE k1 END AS k2
      FROM kludged),
    cleaned AS (
      SELECT k,
             trim(regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(k2, '\d+', '#', 'g'),
                        ':NaN:', ':#:', 'g'),
                      ':undefined:', ':#:', 'g'),
                    '[:# ]+', '_', 'g'), '_') AS k3
      FROM cleaned_src)
"""
_ROUTE_SQL = _ROUTE_SQL.replace("FROM cleaned_src", "FROM collapsed")


def _synth_keys(e: DataFrame) -> DataFrame:
    uid = F.col("user_id").cast("string")
    return e.withColumn(
        "_key",
        F.when(F.col("event_type") == "click", F.concat(F.lit("tag:"), uid, F.lit(":topics")))
        .when(F.col("event_type") == "view", F.concat(F.lit("settings:"), uid, F.lit(":theme")))
        .when(F.col("event_type") == "signup", F.concat(F.lit("user:"), uid))
        .when(
            F.col("event_type") == "purchase",
            F.concat(F.lit("group:cid:"), uid, F.lit(":privileges:read")),
        )
        .otherwise(uid),
    )


@register(
    "etl_route_key",
    _ROUTE_SQL
    + r"""
    SELECT CASE WHEN k3 IS NULL OR regexp_matches(k3, '^[0-9]*(\.[0-9]+)?$')
                THEN 'events' ELSE k3 END AS _table,
           COUNT(*) AS n,
           CASE WHEN k3 IS NULL OR regexp_matches(k3, '^[0-9]*(\.[0-9]+)?$')
                THEN 'events' ELSE k3 END NOT IN ('settings', 'user') AS kept
    FROM cleaned
    GROUP BY 1
    """,
    doc=(
        "A10 routing + A5 skip-list in one result: _key → _table expression "
        "chain, per-table key histogram ($allKeys), and the skip-list verdict "
        "(kept=false rows are what filter_skip_list drops)."
    ),
)
def etl_route_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.operators.guards import skip_list_predicate

    e = _synth_keys(Tb(spark, sf_dir, "events"))
    routed = add_table_column(e, "_key", "events")
    # the skip-list verdict depends only on _table, so the guard's own
    # predicate rides the aggregated histogram as a verdict column —
    # ONE scan of the source, no second pass / self-join for the kept set
    return (
        routed.groupBy("_table")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("kept", skip_list_predicate({"settings", "user"}))
    )


# ---------------------------------------------------------------------- _num


@register(
    "etl_num_sequence",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag, _num
    FROM (SELECT l_orderkey, l_linenumber, l_returnflag,
                 CAST(row_number() OVER (PARTITION BY l_returnflag
                                         ORDER BY l_orderkey, l_linenumber)
                      AS INTEGER) AS _num
          FROM lineitem)
    WHERE _num <= 100
    """,
    doc=(
        "A11 synthetic _num: per-destination-table 1-based contiguous "
        "sequence via the grouped Numbering operator (3 routing groups "
        "would make a windowed partitionBy 3 reducers at scale)."
    ),
)
def etl_num_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Tb(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")
    out = add_num_two_phase(
        li, ["l_orderkey", "l_linenumber"], partition_cols=["l_returnflag"],
        persist=lambda df: held("etl.num_sequence", df),
    )
    return out.filter(F.col("_num") <= 100)


# ----------------------------------------------------------- schema inference

_ISO_SQL_DUCK = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,4})?"


def _bucket_case(col: str) -> str:
    """DuckDB mirror of lattice.varchar_bucket + text/datetime/null arms."""
    return f"""
      CASE WHEN COUNT({col}) = 0 THEN 'int'
           WHEN MAX(LENGTH({col})) > 512 THEN 'text'
           WHEN MIN(CASE WHEN regexp_matches({col}, '{_ISO_SQL_DUCK}') THEN 1 ELSE 0 END) = 1
                THEN 'datetime'
           ELSE 'varchar(' || CAST(
                CASE WHEN MAX(LENGTH({col})) < 50 THEN 50
                     WHEN MAX(LENGTH({col})) < 100 THEN 100
                     WHEN MAX(LENGTH({col})) < 255 THEN 255
                     ELSE 512 END AS VARCHAR) || ')'
      END
    """


@register(
    "etl_schema_infer",
    f"""
    SELECT 'doc_id' AS col_name, 'int' AS db_type
    UNION ALL SELECT 'lang',    {_bucket_case('lang')}    FROM documents
    UNION ALL SELECT 'n_chars', 'int'
    UNION ALL SELECT 'source',  {_bucket_case('source')}  FROM documents
    UNION ALL SELECT 'text',    {_bucket_case('text')}    FROM documents
    """,
    doc="A12/A13 distributed schema inference: one agg pass → widened MySQL types.",
)
def etl_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Tb(spark, sf_dir, "documents")
    schema = infer_table_schema(d)
    rows = [(k, v) for k, v in sorted(schema.items())]
    return spark.createDataFrame(rows, "col_name string, db_type string")


# ------------------------------------------------------------------ pipeline


def _builder_oracle_sql() -> str:
    from mongo2mysql_spark.queries.corpus import (
        BUILDER_SHARDS,
        sql_builder_quality_count,
    )

    return f"""
    SELECT 'builder' AS branch, CAST(NULL AS VARCHAR) AS table_name,
           CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS INTEGER) AS n_cols,
           CAST(NULL AS INTEGER) AS n_schema_cols,
           (SELECT count(*) FROM documents) AS b_input,
           {sql_builder_quality_count()} AS b_quality,
           TRUE AS b_monotone, TRUE AS b_nonempty, TRUE AS b_dsir_frac_ok,
           TRUE AS b_split_conserves, TRUE AS b_packing,
           CAST({BUILDER_SHARDS} AS INTEGER) AS b_shards
    """


_BUILDER_NULLS_SQL = """
           CAST(NULL AS BIGINT) AS b_input, CAST(NULL AS BIGINT) AS b_quality,
           CAST(NULL AS BOOLEAN) AS b_monotone,
           CAST(NULL AS BOOLEAN) AS b_nonempty,
           CAST(NULL AS BOOLEAN) AS b_dsir_frac_ok,
           CAST(NULL AS BOOLEAN) AS b_split_conserves,
           CAST(NULL AS BOOLEAN) AS b_packing,
           CAST(NULL AS INTEGER) AS b_shards"""


@register(
    "etl_pipeline_e2e",
    f"""
    WITH buckets AS (
      SELECT doc_id % 5 AS b, len(string_split(text, ' ')) AS nt FROM documents),
    porter_counts AS (
      SELECT 'docs' AS table_name, COUNT(*) AS n_rows,
             CAST(7 AS INTEGER) AS n_cols, CAST(7 AS INTEGER) AS n_schema_cols
      FROM buckets WHERE b IN (3, 4)
      UNION ALL
      SELECT 'docs__tags', CAST(SUM(LEAST(nt, 3)) AS BIGINT), 4, 4
      FROM buckets
      UNION ALL
      SELECT 'settings', COUNT(*), 7, 7 FROM buckets WHERE b = 1
      UNION ALL
      SELECT 'tag_topics', COUNT(*), 7, 7 FROM buckets WHERE b = 0
      UNION ALL
      SELECT 'user', COUNT(*), 7, 7 FROM buckets WHERE b = 2)
    SELECT 'porter' AS branch, table_name, n_rows, n_cols, n_schema_cols,
           {_BUILDER_NULLS_SQL}
    FROM porter_counts
    UNION ALL
    SELECT 'telemetry' AS branch, table_name, n_rows,
           CAST(NULL AS INTEGER) AS n_cols,
           CAST(NULL AS INTEGER) AS n_schema_cols,
           {_BUILDER_NULLS_SQL}
    FROM porter_counts
    UNION ALL
    {_builder_oracle_sql()}
    """,
    doc=(
        "the engine's two one-call drivers in one tagged slot.  "
        "'porter' rows: A18 end-to-end porter pipeline on a synthesized "
        "nested collection — route → flatten → spill → guards → _num → "
        "schema/DDL; per-destination-table summary, with the oracle "
        "restating the routing (doc_id%5 → tag_topics/settings/user/"
        "docs), the tags-array spill cardinality (min(3, token count) "
        "child rows per doc), and the flatten/schema width contract "
        "(7 parent cols incl _id/_key/_num, 4 child cols) as direct SQL "
        "over the same source rows.  'builder' row: the ONE-CALL corpus "
        "builder (pipelines.build_training_corpus — the LLM-side "
        "product flagship, queries/corpus.corpus_builder_report) runs "
        "end-to-end with every gate enabled (ppl cap, DSIR top-50%, "
        "passage strip, decontam) against a temp output dir; the oracle "
        "restates the input and quality-filter survivor counts exactly "
        "and asserts the composition verdicts TRUE — stage counts "
        "monotone through ppl→dsir→dedup→strip→decontam, every stage "
        "nonempty, DSIR kept ≈ half its input, train+val+test conserves "
        "the final stage, and n_sequences = ceil(train_tokens/seq_len) "
        "(the packing conservation law)."
    ),
)
def etl_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongo2mysql_spark.porter import PorterConfig, SparkPorter
    from mongo2mysql_spark.queries import tagged_union
    from mongo2mysql_spark.queries.corpus import corpus_builder_report

    d = Tb(spark, sf_dir, "documents")
    uid = F.col("doc_id").cast("string")
    docs = d.select(
        F.md5(uid).alias("_id"),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("tag:"), uid, F.lit(":topics")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("settings:"), uid))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("user:"), uid))
        .otherwise(uid)
        .alias("_key"),
        F.col("text").alias("title"),
        F.struct(F.col("lang").alias("lang"), F.col("source").alias("src")).alias("meta"),
        F.slice(F.split("text", " "), 1, 3).alias("tags"),
        F.col("n_chars").cast("double").alias("score"),
    )
    exports = SparkPorter(spark, PorterConfig()).run_to_frames({"docs": docs})
    exp = exports["docs"]
    # A17 under the hash gate: the count action runs through the
    # Observation-based telemetry wrapper (telemetry.py — the row count
    # is collected BY the action's own job, no extra pass), and the
    # observed counts are emitted as their own branch — the oracle
    # states the same counts, so the hash verifies the telemetry path
    from mongo2mysql_spark.telemetry import ProgressReporter

    reporter = ProgressReporter(emit=lambda line: None)
    rows, trows = [], []
    for t, tdf in sorted(exp.tables.items()):
        wrapped = reporter.wrap(t, tdf)
        n = wrapped.count()
        progress = reporter.finish(t)
        rows.append((t, n, len(tdf.columns), len(exp.schemas.get(t, {}))))
        trows.append((t, progress.rows))
    exp.unpersist()
    porter = spark.createDataFrame(
        rows, "table_name string, n_rows long, n_cols int, n_schema_cols int"
    )
    telemetry = spark.createDataFrame(trows, "table_name string, n_rows long")
    return tagged_union(
        {
            "porter": porter,
            "telemetry": telemetry,
            "builder": corpus_builder_report(spark, sf_dir),
        }
    )


