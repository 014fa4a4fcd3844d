"""Checkpoint/resume: a killed job rerun converges to the identical final
table (SURVEY.md §5 resume test)."""

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyradiomics_spark.sources.sinks import (
    append_stage, processed_keys, resume_transform, read_lineage,
    affected_partitions, table_exists)


@pytest.fixture()
def tmppath():
    d = tempfile.mkdtemp(prefix="ckpt_")
    yield f"{d}/stage1"
    shutil.rmtree(d, ignore_errors=True)


def _src(spark, n=20):
    pdf = pd.DataFrame({
        "k": range(n),
        "ts": pd.to_datetime([f"2024-01-{1 + i % 9:02d}" for i in range(n)]),
        "x": [float(i) for i in range(n)]})
    return spark.createDataFrame(pdf)


def _transform(df):
    return df.withColumn("y", F.col("x") * 2)


def test_resume_completes_partial_run(spark, tmppath):
    src = _src(spark)
    # simulate a job killed after committing keys 0..9
    append_stage(_transform(src.where(F.col("k") < 10)), tmppath, ts_col="ts")
    assert processed_keys(spark, tmppath, "k").count() == 10

    final = resume_transform(src, "k", tmppath, _transform, ts_col="ts")
    out = final.toPandas().sort_values("k").reset_index(drop=True)
    assert out["k"].tolist() == list(range(20))
    assert (out["y"] == out["x"] * 2).all()


def test_resume_is_idempotent(spark, tmppath):
    src = _src(spark)
    t1 = resume_transform(src, "k", tmppath, _transform, ts_col="ts").toPandas()
    t2 = resume_transform(src, "k", tmppath, _transform, ts_col="ts").toPandas()
    assert len(t1) == len(t2) == 20
    a = t1.sort_values("k").reset_index(drop=True)
    b = t2.sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_lineage_written_and_targeting(spark, tmppath):
    src = _src(spark)
    resume_transform(src, "k", tmppath, _transform, ts_col="ts")
    lin = read_lineage(spark, tmppath).toPandas()
    assert lin["rows"].sum() == 20
    assert {"partition_id", "rows", "approx_bytes", "min_ts", "max_ts",
            "committed_at"} <= set(lin.columns)
    hit = affected_partitions(
        spark, tmppath, pd.Timestamp("2024-01-05"), pd.Timestamp("2024-01-06"))
    assert hit.count() >= 1
    miss = affected_partitions(
        spark, tmppath, pd.Timestamp("2030-01-01"), pd.Timestamp("2030-01-02"))
    assert miss.count() == 0


def test_lineage_hidden_from_data_reads(spark, tmppath):
    src = _src(spark)
    resume_transform(src, "k", tmppath, _transform, ts_col="ts")
    df = spark.read.parquet(tmppath)
    assert "partition_id" not in df.columns  # _lineage dir is invisible
    assert df.count() == 20


def test_commit_runs_transform_once(spark, tmppath):
    """A resumed commit runs its transform once per remaining row, and the
    lineage counts the rows the commit wrote. A stage output that is
    ``persist()``ed instead re-caches after the write from the new table
    (``recacheByPath``): its anti-join is then empty and so is the
    lineage."""
    src = _src(spark)
    append_stage(_transform(src.where(F.col("k") < 10)), tmppath, ts_col="ts")
    calls = spark.sparkContext.accumulator(0)

    @F.udf("double")
    def doubled(x):
        calls.add(1)
        return 2 * x

    final = resume_transform(
        src, "k", tmppath, lambda df: df.withColumn("y", doubled("x")),
        ts_col="ts")
    assert calls.value == 10
    committed = final.count()
    assert committed == 20
    lin = read_lineage(spark, tmppath).agg(F.sum("rows")).first()[0]
    assert lin == committed


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_append_stage_leaks_nothing(spark, tmp_path):
    """append_stage frees its materialization on return, also when the
    write or the materialization raises, and leaves the caller's caches
    alone, a cache it had to fill included."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    kept = _transform(_src(spark)).persist()
    unfilled = _transform(_src(spark, 7)).persist()
    try:
        kept.count()
        level = kept.storageLevel
        before = _persistent_rdds(spark)
        append_stage(kept, str(tmp_path / "ok"), ts_col="ts")
        assert _persistent_rdds(spark) == before
        assert kept.storageLevel == level
        assert spark.read.parquet(str(tmp_path / "ok")).count() == 20

        blocked = tmp_path / "file"
        blocked.write_text("not a directory")
        with pytest.raises(Py4JJavaError):
            append_stage(kept, str(blocked), ts_col="ts")
        assert _persistent_rdds(spark) == before

        @F.udf("double")
        def fails(x):
            raise ValueError("transform failed")

        with pytest.raises(PythonException):
            append_stage(_src(spark).withColumn("y", fails("x")),
                         str(tmp_path / "failed"))
        assert _persistent_rdds(spark) == before

        append_stage(unfilled, str(tmp_path / "filled"))
        assert _persistent_rdds(spark) == before + 1
        assert unfilled.is_cached
    finally:
        unfilled.unpersist()
        kept.unpersist()


def test_table_exists(spark, tmppath):
    assert not table_exists(spark, tmppath)
    append_stage(_transform(_src(spark, 3)), tmppath)
    assert table_exists(spark, tmppath)


def test_recompute_affected_partitions_only(spark, tmp_path):
    """Late-data recompute rewrites ONLY the affected hive partitions:
    values update for the late day, untouched days keep their files
    byte-for-byte, final table == full recompute."""
    import os
    from pyspark.sql import functions as F
    from pyradiomics_spark.sources.sinks import recompute_affected_partitions

    pdf = pd.DataFrame({
        "day": ["2024-01-01"] * 3 + ["2024-01-02"] * 3,
        "v": [1.0, 2.0, 3.0, 10.0, 20.0, 30.0]})
    src = spark.createDataFrame(pdf)

    def daily(df):
        return df.groupBy("day").agg(
            F.sum("v").alias("sum_v"), F.count("*").alias("n"))

    out = str(tmp_path / "daily")
    daily(src).write.partitionBy("day").parquet(out)

    def files_of(day):
        d = f"{out}/day={day}"
        return sorted((f, os.path.getmtime(f"{d}/{f}")) for f in os.listdir(d))

    before_day1 = files_of("2024-01-01")

    late = spark.createDataFrame(
        pd.DataFrame({"day": ["2024-01-02"], "v": [100.0]}))
    src2 = src.unionByName(late)
    touched = recompute_affected_partitions(src2, late, out, "day", daily)
    assert touched == ["2024-01-02"]

    # hive partition inference types 'day' as DATE on read-back
    got = (spark.read.parquet(out)
           .withColumn("day", F.col("day").cast("string"))
           .toPandas().set_index("day"))
    assert got.loc["2024-01-02", "sum_v"] == 160.0
    assert got.loc["2024-01-02", "n"] == 4
    assert got.loc["2024-01-01", "sum_v"] == 6.0
    # untouched partition: identical file listing + mtimes
    assert files_of("2024-01-01") == before_day1
    # no-op when nothing is late
    assert recompute_affected_partitions(
        src2, late.where("v < 0"), out, "day", daily) == []
