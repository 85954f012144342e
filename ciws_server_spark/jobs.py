"""End-to-end jobs: the reference's analytical lifecycles as single
Spark statements (SURVEY.md §3.3, §7.1.4).

``run_derived_rate_job`` is the reference's derived hot-water intake
computation (``get_hot_intake_interval.py``): read the campus flow
table, pair consecutive non-zero pulses per building, write the rate
series back as ``derived_hot_intake``. The reference does this with a
per-building thread pool and a driver-side state machine with O(n²)
appends; here it is one window query — ``buildingID`` partitioning IS
the parallelism — and one partitioned append.

Semantics kept bug-compatible (SURVEY.md §7.4.1): only the closing
pulse row is emitted, ``rate = 60 / (elapsed_seconds + 1)``, written
at ms-capable timestamp precision (TimestampType is µs-native).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .sources import sinks


def derived_rate(flow: DataFrame) -> DataFrame:
    """campus_flow → (time, buildingID, hotOutFlowRate-as-rate).

    P8 non-zero-pulse filter, per-building lag window (A5), reference
    rate formula. Filter reaches the scan; the only shuffle is the
    window partitioning by the low-cardinality tag.
    """
    pulses = flow.where(F.col("hotOutFlowRate") != 0)
    w = W.partitionBy("buildingID").orderBy("time")
    # materialize the lag BEFORE filtering: a window expression placed
    # after the filter would be evaluated over the filtered frame
    paired = pulses.withColumn("prev_time", F.lag("time").over(w)).where(
        F.col("prev_time").isNotNull()
    )
    elapsed = (
        F.col("time").cast("double")
        - F.col("prev_time").cast("double")
        + F.lit(1.0)
    )
    return paired.select(
        "time",
        "buildingID",
        F.round(F.lit(60.0) / elapsed, 6).alias("hotOutFlowRate"),
    )


def build_hourly_rollup(
    spark: SparkSession, table_dir: str, dates: list[str] | None = None
) -> int:
    """Hypertable-style continuous aggregate: materialize the hourly
    per-building rollup of ``campus_flow`` as its own partitioned
    table (``campus_flow_hourly``).

    This is the tsdb pattern where dashboard-range queries hit a
    pre-aggregated table 3-4 orders of magnitude smaller than the raw
    points. ``dates`` is the INCREMENTAL REFRESH unit: passing the
    date partitions that received new raw points recomputes only
    those (the filter prunes the campus_flow scan to the matching
    partition directories) and dynamically overwrites exactly those
    rollup partitions. Refresh is idempotent — overwrite-by-partition,
    so re-running a date converges instead of double-counting (the
    round-2 append form duplicated on re-run). At 100 TB this is the
    per-arriving-partition refresh a continuous aggregate needs;
    with no ``dates``, the whole rollup is rebuilt. Returns rows
    written.
    """
    flow = spark.read.parquet(os.path.join(table_dir, "campus_flow"))
    if dates is not None:
        flow = flow.where(F.col("date").isin([str(d) for d in dates]))
    rollup = (
        flow.groupBy(
            "buildingID", F.date_trunc("hour", F.col("time")).alias("time")
        )
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("hotOutFlowRate").alias("sum_hot_out"),
            F.min("hotOutFlowRate").alias("min_hot_out"),
            F.max("hotOutFlowRate").alias("max_hot_out"),
            F.avg("hotInTemp").alias("avg_hot_in_temp"),
        )
        .withColumn("date", F.to_date("time"))
    )
    # one evaluation: cache the (small) rollup so count + write share it
    rollup = rollup.persist()
    try:
        n = rollup.count()
        if n:
            (
                rollup.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("buildingID", "date")
                .parquet(os.path.join(table_dir, "campus_flow_hourly"))
            )
        return n
    finally:
        rollup.unpersist()


def export_training_shards(
    spark: SparkSession, sf_dir: str, out_dir: str, n_shards: int = 8
) -> DataFrame:
    """Materialize the curated corpus as shard-partitioned parquet —
    the WRITE side of the training-data pipeline (a training loader
    consumes ``<out_dir>/corpus/shard=K/``).

    shard = pmod(xxhash64(doc_id), n_shards): deterministic content-key
    hashing, so re-exports assign every doc to the same shard and a
    loader can address any shard subset reproducibly. partitionBy
    writes one directory per shard; at 100 TB each shard splits
    further by parquet's maxRecordsPerFile and writer parallelism
    follows the upstream partitioning, so no single-writer bottleneck.
    ``mode=overwrite`` + parquet's commit protocol (stage to
    _temporary, rename on commit) make the job idempotent — a re-run
    converges, a crashed run leaves the previous export readable.

    The per-shard manifest (shard, n_docs, total_tokens) is computed
    from the WRITTEN files (write-audit-publish: the manifest attests
    what a loader will actually read, not what the plan intended) and
    stored at ``<out_dir>/manifest``. Returns the manifest frame.
    """
    from .operators.pipeline import pipeline_curated_corpus
    from .tables import table

    curated = pipeline_curated_corpus(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = curated.join(docs, "doc_id").withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards))
    )
    corpus_path = os.path.join(out_dir, "corpus")
    corpus.write.mode("overwrite").partitionBy("shard").parquet(corpus_path)
    manifest = (
        spark.read.parquet(corpus_path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("shard")
    )
    manifest.write.mode("overwrite").parquet(os.path.join(out_dir, "manifest"))
    return spark.read.parquet(os.path.join(out_dir, "manifest"))


def run_derived_rate_job(
    spark: SparkSession,
    table_dir: str,
    building: str | None = None,
    start: str | None = None,
    end: str | None = None,
) -> int:
    """S10→A5→S9: query campus_flow (optionally one tag + time range,
    the reference's exercised predicate shape), derive, append to the
    derived table. Returns rows written."""
    flow = spark.read.parquet(os.path.join(table_dir, "campus_flow"))
    if building is not None:
        flow = flow.where(F.col("buildingID") == building.upper())
    if start is not None:
        flow = flow.where(F.col("time") >= F.lit(start).cast("timestamp"))
    if end is not None:
        flow = flow.where(F.col("time") <= F.lit(end).cast("timestamp"))
    out = derived_rate(flow).persist()
    try:
        n = out.count()
        if n:
            sinks.append_points(out, table_dir, "derived_hot_intake")
        return n
    finally:
        out.unpersist()


def ingest_line_protocol(
    spark: SparkSession,
    landing_dir: str,
    table_dir: str,
    schemas: dict[str, dict[str, str]],
    table_of: dict[str, str] | None = None,
) -> dict[str, int]:
    """Batch-ingest InfluxDB line-protocol files (``*.lp``/``*.txt``)
    into the partitioned tables — the write path the reference drives
    through the InfluxDB client (S8), accepted here as plain text.

    ``schemas`` maps measurement → {field: line-protocol type};
    ``table_of`` maps measurement → sink table name (default: the
    measurement name, which must then appear in sinks.PARTITIONING to
    get the tag/date layout). Returns rows-written per measurement
    plus a ``_malformed`` count (lines with no parseable field set —
    same quarantine philosophy as the CSV path, they never poison the
    batch).

    The whole path — parse, type, route — is native column functions
    on a text scan: no Python in the loop. The parse is a chain of
    staged selects so each intermediate is computed once per line
    (plans/line_protocol.py explains why; its array lambdas run
    interpreted, not whole-stage codegen'd).
    """
    from .plans.line_protocol import parse_lines, typed_fields

    lines = spark.read.text(landing_dir)
    parsed = parse_lines(lines).localCheckpoint(eager=True)
    counts: dict[str, int] = {}
    counts["_malformed"] = parsed.where(F.col("fields").isNull()).count()
    for measurement, fields in schemas.items():
        typed = typed_fields(parsed, measurement, fields)
        # line-protocol tags are a map; project the declared sink
        # partitioning tag(s) to columns and stamp the time column
        table = (table_of or {}).get(measurement, measurement)
        parts = sinks.PARTITIONING.get(table, [])
        tag_cols = [
            F.col("tags")[p].alias(p) for p in parts if p != "date"
        ]
        # missing timestamps are stamped with the ingest arrival time
        # (InfluxDB server behavior; keeps the streaming and batch
        # paths consistent and out of a null time/date partition)
        out = typed.select(
            F.coalesce(F.col("ts"), F.current_timestamp()).alias("time"),
            *tag_cols,
            *[F.col(f) for f in fields],
        )
        sinks.append_points(out, table_dir, table)
        counts[measurement] = out.count()
    return counts


def export_line_protocol(
    spark: SparkSession,
    table_dir: str,
    table: str,
    out_dir: str,
    tag_cols: list[str],
    field_cols: list[str],
    measurement: str | None = None,
) -> int:
    """Export a partitioned table as InfluxDB line-protocol text files
    (the reverse of ``ingest_line_protocol``) — hand a downstream
    InfluxDB consumer the exact format its client libraries ingest.
    Render is native column functions (plans/line_protocol.render_lines)
    over the table scan; one text part-file per partition. Returns the
    number of exported points.
    """
    from .plans.line_protocol import render_lines

    df = spark.read.parquet(os.path.join(table_dir, table))
    lines = render_lines(
        df, measurement or table, tag_cols, field_cols
    )
    lines.write.mode("overwrite").text(out_dir)
    return spark.read.text(out_dir).count()


def compact_table(
    spark: SparkSession,
    table_dir: str,
    table: str,
    target_files_per_partition: int = 1,
) -> int:
    """OPTIMIZE analogue for the partitioned tables — the maintenance
    job a 100 TB deployment schedules alongside retention.

    Streaming appends accumulate one file per micro-batch per
    partition; this rewrites each partition directory down to
    ``target_files_per_partition`` files and swaps the result in via
    the crash-recoverable rename protocol
    (``sources.sinks.recover_compaction``). Row content is unchanged —
    only the file layout. Returns the post-compaction file count.
    """
    return sinks.compact_table(
        spark, table_dir, table, target_files_per_partition
    )
