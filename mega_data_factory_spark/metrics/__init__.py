"""Metrics subsystem: run/stage/operator metrics as schema'd parquet.

Re-expresses the reference's three-level metrics (framework/metrics/
writer.py:28-84 fixed schemas; collector.py aggregation rules: stage input
= first operator's input, stage output = last operator's output, run totals
from first/last stage). Time-derived per-record latency percentiles have no
Spark equivalent (rows aren't processed one-at-a-time); wall-clock duration
and count-derived columns are populated, latency columns are NULL.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mega_data_factory_spark.functions.text import sql_string_literal

OPERATOR_METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("pipeline", StringType()),
        StructField("stage_name", StringType()),
        StructField("operator_name", StringType()),
        # pipeline position: parquet read-back is file-order, NOT insert
        # order, so the report's funnel/Sankey need an explicit sequence
        # (beyond the reference's schema, which relied on arrival order)
        StructField("position", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("input_records", LongType()),
        StructField("output_records", LongType()),
        StructField("pass_rate", DoubleType()),
    ]
)

STAGE_METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("pipeline", StringType()),
        StructField("stage_name", StringType()),
        StructField("position", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("input_records", LongType()),
        StructField("output_records", LongType()),
        StructField("pass_rate", DoubleType()),
    ]
)

RUN_METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("pipeline", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("duration_sec", DoubleType()),
        StructField("throughput_rps", DoubleType()),
        StructField("input_records", LongType()),
        StructField("output_records", LongType()),
        StructField("pass_rate", DoubleType()),
    ]
)

# Fourth level (beyond the reference's three): incremental dedup STORE
# state per run/compaction, so an always-on ingestion can watch its
# seen-state grow and schedule compact_store from the metrics table
# instead of spelunking directories (operators/dedup.store_stats; the
# reference's bucket-sizing guidance analog, framework/backend.py:83-93).
# event: 'post_update' (after a run appended its new keys; rows/files/
# bytes are the store AS LEFT) or 'compaction' (rows_before carries the
# pre-compaction row count).
STORE_METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("pipeline", StringType()),
        StructField("operator_name", StringType()),
        StructField("store_path", StringType()),
        StructField("event", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("rows", LongType()),
        StructField("files", LongType()),
        StructField("bytes", LongType()),
        StructField("rows_before", LongType()),
    ]
)


def write_store_metrics(
    spark: SparkSession,
    base_path: str,
    *,
    run_id: str,
    pipeline: str,
    operator_name: str,
    store_path: str,
    event: str = "post_update",
    rows_before: int | None = None,
) -> None:
    """Append one store-state row under ``base_path``/stores (stats via
    operators/dedup.store_stats — directory listing + parquet footers,
    no data scan)."""
    from mega_data_factory_spark.operators.dedup import store_stats

    st = store_stats(spark, store_path)
    row = (run_id, pipeline, operator_name, store_path, event, st["rows"], st["files"], st["bytes"], rows_before)
    local_rows_df(spark, [row], STORE_METRICS_SCHEMA).write.mode("append").parquet(f"{base_path}/stores")


_SQL_TYPES = {StringType(): "STRING", LongType(): "BIGINT", DoubleType(): "DOUBLE"}


def _sql_value(v, dtype) -> str:
    if v is None:
        return f"CAST(NULL AS {_SQL_TYPES[dtype]})"
    if dtype == StringType():
        return sql_string_literal(str(v))
    if dtype == LongType():
        return f"{int(v)}L"
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    return f"CAST('{v!r}' AS DOUBLE)"  # 'nan' / 'inf' / '-inf'


def local_rows_df(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """Driver-small metric rows as a one-partition local relation in
    ``schema``'s column order. Each row holds the values of the schema's
    non-timestamp fields in order; timestamp fields read
    ``current_timestamp()``.

    One ``SELECT … FROM VALUES …`` plans as a ``LocalTableScan``: the
    write is one JVM-only task, with no Python worker to start and no
    pickled rows to ship. A frame built from a Python RDD (or from
    ``createDataFrame(list)``) needs a Python worker per write and starts
    the session's first one on a cold run: the three run-metrics writes
    took ~1.2 s that way against ~0.2 s here (4 vCPUs). COALESCE(1) keeps
    one task and one output file per write; the frames are a few rows by
    contract."""
    fields = [f for f in schema.fields if f.dataType != TimestampType()]
    names = ", ".join(f"`{f.name}`" for f in fields)
    # zero rows: one typed NULL row filtered away keeps the schema
    values = rows or [(None,) * len(fields)]
    tuples = ", ".join(
        "(" + ", ".join(_sql_value(v, f.dataType) for v, f in zip(row, fields, strict=True)) + ")"
        for row in values
    )
    select = ", ".join(
        f"current_timestamp() AS `{f.name}`" if f.dataType == TimestampType() else f"`{f.name}`"
        for f in schema.fields
    )
    where = "" if rows else " WHERE false"
    return spark.sql(f"SELECT /*+ COALESCE(1) */ {select} FROM VALUES {tuples} AS t({names}){where}")


def write_metrics(spark: SparkSession, result, base_path: str) -> None:
    """Write runs/stages/operators parquet under ``base_path`` (append).
    The three tables are independent one-task writes, so they run
    concurrently on driver threads (the Pipeline.run two-sink posture):
    the run pays about one write's latency instead of three."""
    op_rows = [
        (result.run_id, result.pipeline, m.stage, m.operator, i, m.input_records, m.output_records, m.pass_rate)
        for i, m in enumerate(result.operators)
    ]

    # stage rollup: first op's input, last op's output per stage (reference
    # metrics/collector.py:181-189 serial-operator rule)
    stage_rows: dict[str, tuple[int, int]] = {}
    for m in result.operators:
        if m.stage not in stage_rows:
            stage_rows[m.stage] = (m.input_records, m.output_records)
        else:
            stage_rows[m.stage] = (stage_rows[m.stage][0], m.output_records)
    stages = [
        (result.run_id, result.pipeline, s, pos, i, o, (100.0 * o / i if i else 100.0))
        for pos, (s, (i, o)) in enumerate(stage_rows.items())
    ]

    run = (
        result.run_id,
        result.pipeline,
        result.duration_sec,
        result.throughput_rps,
        result.input_records,
        result.output_records,
        result.pass_rate,
    )

    tables = [
        ("operators", op_rows, OPERATOR_METRICS_SCHEMA),
        ("stages", stages, STAGE_METRICS_SCHEMA),
        ("runs", [run], RUN_METRICS_SCHEMA),
    ]

    def write(table: str, rows: list[tuple], schema: StructType) -> None:
        local_rows_df(spark, rows, schema).write.mode("append").parquet(f"{base_path}/{table}")

    with ThreadPoolExecutor(max_workers=len(tables)) as ex:
        for fut in [ex.submit(write, *t) for t in tables]:
            fut.result()


def training_mix_manifest(
    df,
    group_cols: tuple[str, ...] = ("source",),
    *,
    token_col: str | None = None,
    text_col: str = "text",
):
    """The "data card" accounting every released training corpus ships:
    docs / tokens / bytes and corpus share per group (source, language,
    split, ...), as ONE aggregate over the final curated frame. Pair with
    the curated sink write so the manifest is produced from the exact
    frame that became the training set. Beyond the reference's metrics
    surface — first-class per the build brief.

    ``token_col`` uses a precomputed count (e.g. ``bpe_token_count``);
    otherwise whitespace tokens via the shared ``token_count`` definition.
    NULL group values are reported as their own row (a NULL source is a
    provenance bug worth seeing, not collapsing). Shares are exact
    (decimal-summed totals, double division). SQL-mirrorable; the
    differential test holds the driver-gate bar.

    Scale shape: one groupBy over ≤ a few thousand groups — partial
    aggregation map-side, one compact shuffle; the share join is a
    broadcast of a one-row total.
    """
    from mega_data_factory_spark.functions.text import token_count

    toks = F.col(token_col).cast("long") if token_col else token_count(text_col)
    per = (
        df.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(toks).alias("tokens"),
            F.sum(F.octet_length(F.col(text_col))).alias("bytes"),
        )
    )
    totals = per.agg(
        F.sum("docs").alias("__td"), F.sum("tokens").alias("__tt")
    )
    return (
        per.join(F.broadcast(totals))
        .select(
            *group_cols,
            "docs",
            "tokens",
            "bytes",
            F.round(F.col("docs").cast("double") / F.col("__td"), 6).alias("doc_share"),
            F.round(F.col("tokens").cast("double") / F.col("__tt"), 6).alias("token_share"),
        )
        .orderBy(*[F.col(c).asc_nulls_first() for c in group_cols])
    )
