"""Checkpointed sinks with exact resume + per-partition lineage metrics.

The reference resumes per case: an existing ``features_<idx>.csv``
short-circuits re-extraction (/root/reference/radiomics/scripts/segment.py:37-67).
The Spark-scale analog (SURVEY.md §2.1 "Per-case checkpoint sink/source"):

* every stage appends to a table (Iceberg when a catalog is configured,
  plain parquet dir otherwise — same append-only semantics);
* a resume run computes the **left-anti join** of input keys vs
  already-committed keys and processes only the remainder — a killed job
  rerun converges to the identical final table;
* every commit also appends a **lineage row** per partition (rows, bytes,
  min/max key timestamp) to ``<path>/_lineage`` so late-data recomputes can
  target exactly the affected partitions. The data write and the lineage
  read one local checkpoint of the stage output, so the stage runs once
  and the lineage describes exactly the committed rows; the checkpoint's
  blocks are released before ``append_stage`` returns.

Parquet's job-commit protocol makes each append atomic at task granularity,
so "committed" keys are exactly the keys of fully-written files.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def is_catalog_table(target: str) -> bool:
    """True if ``target`` names a catalog table (e.g. ``iceberg.db.tbl``)
    rather than a filesystem path."""
    return "/" not in target and target.count(".") >= 1


def write_table(df: DataFrame, target: str, mode: str = "append") -> None:
    """Format-gated sink: Iceberg ``writeTo`` (snapshot-committed, exactly
    the checkpoint discipline the north rule names) when ``target`` is a
    catalog table and the session has an Iceberg catalog configured; plain
    parquet dir otherwise (this container ships no Iceberg jars — the
    parquet path carries the same append-only resume semantics)."""
    if is_catalog_table(target):
        writer = df.writeTo(target)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
    else:
        df.write.mode(mode).parquet(target)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols,
    num_buckets: int = 64,
    sort_cols=None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table — the CO-LOCATED join strategy at 100 TB
    (SURVEY.md §2.3): two tables bucketed by the same key and bucket count
    sort-merge-join with NO Exchange on either side (asserted in
    tests/test_plans.py::test_bucketed_join_is_shuffle_free). ``sort_cols``
    additionally pre-sorts each bucket file so the SMJ skips its Sort.

    This sandbox uses the session-local metastore (spark-warehouse dir); a
    real deployment points the same code at HMS/Glue/Unity."""
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, target: str) -> DataFrame:
    return spark.table(target) if is_catalog_table(target) else spark.read.parquet(target)


def table_exists(spark: SparkSession, path: str) -> bool:
    try:
        spark.read.parquet(path).schema
        return True
    except Exception:
        return False


def partition_metrics(df: DataFrame, ts_col: str | None = None) -> DataFrame:
    """Per-partition lineage: partition id, row count, approx byte size,
    ts bounds. One narrow aggregation, no extra shuffle beyond the agg."""
    base = df.withColumn("__pid", F.spark_partition_id())
    aggs = [
        F.count("*").alias("rows"),
        F.sum(F.length(F.to_json(F.struct(*[F.col(c) for c in df.columns])))).alias(
            "approx_bytes"
        ),
    ]
    if ts_col is not None:
        aggs += [F.min(ts_col).alias("min_ts"), F.max(ts_col).alias("max_ts")]
    return base.groupBy("__pid").agg(*aggs).withColumnRenamed("__pid", "partition_id")


def _release(sc, site: str) -> None:
    """Free the blocks of every local checkpoint created under call site
    ``site``. ``df.unpersist()`` and ``catalog.clearCache()`` leave local
    checkpoint blocks in place; ``JavaRDD.unpersist`` frees them. A cache
    the caller persisted but had not yet filled is built under the same
    call site; it is no local checkpoint, so it stays."""
    for rdd in sc._jsc.getPersistentRDDs().values():
        r = rdd.rdd()
        if r.isLocallyCheckpointed() and r.creationSite().shortForm() == site:
            rdd.unpersist(False)


def append_stage(
    df: DataFrame,
    path: str,
    ts_col: str | None = None,
    write_lineage: bool = True,
    partition_by=None,
) -> None:
    """Append a stage output + its lineage snapshot. ``partition_by``
    hive-partitions the layout (e.g. by lang or date) so downstream reads
    with a predicate on those columns prune whole directories — asserted in
    tests/test_plans.py::test_partition_pruning.

    With lineage, the stage output is materialized once (an eager local
    checkpoint, which cuts the plan lineage) and both the data write and
    ``partition_metrics`` read that materialization, so the lineage
    describes exactly the committed rows. Traps of the alternatives:

    * ``df.persist()``: after the write Spark re-caches every cached plan
      that reads the written path (``recacheByPath``). A resumed stage
      reads ``path`` through its anti-join, so it re-caches as empty and
      the lineage misses the rows just committed.
    * ``localCheckpoint(eager=False)``: the Python operators of the stage
      then run inside the write's SQL execution, whose plan does not hold
      them, so their row metrics are lost. The eager form runs them in a
      "localCheckpoint" SQL execution that names them.

    The checkpoint's blocks are freed before returning, also when the
    write or the materialization raises. The RDDs the materialization
    persists are found by a call site unique to this call, which marks
    every RDD created while it is set on this thread."""
    if not write_lineage:
        _writer(df, partition_by).parquet(path)
        return
    sc = df.sparkSession.sparkContext
    site = f"append_stage {uuid.uuid4().hex}"
    prev = sc.getLocalProperty("callSite.short")
    try:
        sc.setLocalProperty("callSite.short", site)
        try:
            committed = df.localCheckpoint(eager=True)
        finally:
            sc.setLocalProperty("callSite.short", prev)
        _writer(committed, partition_by).parquet(path)
        metrics = partition_metrics(committed, ts_col).withColumn(
            "committed_at", F.lit(int(time.time())).cast("long")
        )
        metrics.write.mode("append").parquet(f"{path}/_lineage")
    finally:
        _release(sc, site)


def _writer(df: DataFrame, partition_by):
    w = df.write.mode("append")
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = w.partitionBy(*cols)
    return w


def processed_keys(spark: SparkSession, path: str, keys) -> DataFrame | None:
    """Distinct committed keys, or None if nothing committed yet. One read
    of ``path``: a ``table_exists`` check first would infer the parquet
    schema twice, one Spark job each."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    try:
        committed = spark.read.parquet(path)
    except AnalysisException:  # no such path, or no parquet files in it
        return None
    return committed.select(*keys).distinct()


def resume_transform(
    src: DataFrame,
    keys,
    path: str,
    transform,
    ts_col: str | None = None,
) -> DataFrame:
    """Process only keys not yet committed at ``path``; append; return the
    full committed table. Idempotent: rerun after a kill completes exactly
    the missing keys (exact resume).

    ``transform``: DataFrame → DataFrame, key columns preserved.
    """
    spark = src.sparkSession
    keys = [keys] if isinstance(keys, str) else list(keys)
    done = processed_keys(spark, path, keys)
    remaining = src if done is None else src.join(done, keys, "left_anti")
    # cheap emptiness probe: limit(1) avoids a full count
    if remaining.limit(1).count() > 0:
        append_stage(transform(remaining), path, ts_col=ts_col)
    return spark.read.parquet(path)


def recompute_affected_partitions(
    src: DataFrame,
    late: DataFrame,
    out_path: str,
    partition_col: str,
    transform,
) -> list:
    """Late-data recompute WITHOUT a transactional table (the MERGE-based
    plan stays gated on Iceberg jars): affected hive partitions = distinct
    partition values among the late rows; the transform re-runs on the
    source restricted to those partitions and dynamic partition overwrite
    rewrites ONLY those directories — untouched partitions keep their
    files byte-for-byte (asserted in tests/test_resume.py). Same targeting
    discipline `affected_partitions` provides from lineage, applied at the
    hive-partition level.

    The distinct-partition collect is a driver action over at most
    #partitions values — bounded and intentional (it selects the rewrite
    set). Returns the affected partition values."""
    vals = [r[0] for r in late.select(partition_col).distinct().collect()]
    if not vals:
        return []
    # NULL partition values (__HIVE_DEFAULT_PARTITION__) never match isin()
    # under SQL NULL semantics — target them explicitly instead of silently
    # leaving that partition stale
    non_null = [v for v in vals if v is not None]
    cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in vals):
        cond = cond | F.col(partition_col).isNull()
    out = transform(src.where(cond))
    (out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(out_path))
    return vals


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/_lineage")


def affected_partitions(
    spark: SparkSession, path: str, late_min_ts, late_max_ts
) -> DataFrame:
    """Late-data targeting: lineage rows whose [min_ts, max_ts] overlaps the
    late-arrival window — the partitions a MERGE/recompute must touch."""
    lin = read_lineage(spark, path)
    return lin.where(
        (F.col("max_ts") >= F.lit(late_min_ts)) & (F.col("min_ts") <= F.lit(late_max_ts))
    )
