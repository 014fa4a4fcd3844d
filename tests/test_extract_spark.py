"""End-to-end extraction over Spark: the single mapInArrow arm vs
driver-side direct kernel calls on the same synthetic pages (golden
cross-check)."""

import numpy as np
import pandas as pd
import pytest

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.functions.text import text_to_intensity
from pyradiomics_spark.kernels import discretize, firstorder_features, glcm_features
from pyradiomics_spark.operators.features import (
    extract_features, melt_features, _extract_one, feature_columns)
from pyradiomics_spark.sources.pages import pages_pdf, pages_df, PAGES_SCHEMA


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(pages_pdf(12), schema=PAGES_SCHEMA).cache()


def test_extract_matches_local_kernels(spark, pages):
    out = extract_features(pages, settings=ExtractionSettings()).toPandas()
    src = pages_pdf(12)
    assert len(out) == len(src)  # one image type
    merged = src.merge(out, on=["url", "warc_ts"], how="inner")
    assert len(merged) == len(src)
    s = ExtractionSettings()
    for _, r in merged.head(20).iterrows():
        vals = text_to_intensity(r["text"]).astype(float)
        fo = firstorder_features(vals, s.bin_width)
        assert r["firstorder_Mean"] == pytest.approx(fo["Mean"])
        assert r["firstorder_Entropy"] == pytest.approx(fo["Entropy"])
        gl = glcm_features(discretize(vals, 25))
        assert r["glcm_Contrast"] == pytest.approx(gl["Contrast"])
        assert r["glcm_MCC"] == pytest.approx(gl["MCC"])


def test_extract_multiple_image_types(spark, pages):
    s = ExtractionSettings(image_types=("original", "square", "logarithm"))
    out = extract_features(pages, settings=s)
    cnt = out.groupBy("image_type").count().toPandas()
    assert set(cnt["image_type"]) == {"original", "square", "logarithm"}
    assert cnt["count"].nunique() == 1


def test_extract_empty_text_yields_nan(spark):
    pdf = pd.DataFrame({
        "url": ["u1"], "warc_ts": [pd.Timestamp("2024-01-01")],
        "html": [b""], "text": [""], "lang": ["en"]})
    df = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
    out = extract_features(df).toPandas()
    assert out["diag_n_tokens"].iloc[0] == 0
    assert np.isnan(out["firstorder_Mean"].iloc[0])


def test_melt_features(spark, pages):
    wide = extract_features(pages.limit(2))
    long = melt_features(wide).toPandas()
    ncols = len(feature_columns(ExtractionSettings()))
    assert len(long) == 2 * ncols
    assert set(long.columns) == {"url", "warc_ts", "image_type", "feature_name", "value"}


def test_distributed_pages_generator(spark):
    df = pages_df(spark, n_urls=30, partitions=4)
    pdf = df.toPandas().sort_values(["url", "warc_ts"]).reset_index(drop=True)
    loc = pages_pdf(30).sort_values(["url", "warc_ts"]).reset_index(drop=True)
    assert len(pdf) == len(loc)
    assert (pdf["text"] == loc["text"]).all()


def test_extraction_plan_is_shuffle_free(spark, pages):
    out = extract_features(pages)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle for per-doc extraction


@pytest.mark.parametrize("how", ["inner", "left_anti"])
def test_extraction_behind_join_runs_no_job_until_action(spark, pages, how):
    """Behind a join the split count is known only at run time: planning
    the extraction fires no Spark job, and the output equals the
    extraction of the same rows from a plain scan."""
    sc = spark.sparkContext
    keys = pages.select("url", "warc_ts").where("warc_ts < '2024-01-20'")
    joined = pages.join(keys, ["url", "warc_ts"], how)
    plain = spark.createDataFrame(joined.toPandas(), schema=PAGES_SCHEMA)

    def jobs(group):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    group = f"extract-behind-{how}"
    sc.setJobGroup(group, "extract_features behind a join")
    try:
        out = extract_features(joined)
        assert jobs(group) == 0
        got = out.toPandas()
        assert jobs(group) > 0  # the counter sees the action's jobs
    finally:
        sc._jsc.clearJobGroup()
    want = extract_features(plain).toPandas()
    assert len(got) == len(want) > 0
    order = ["url", "warc_ts"]
    pd.testing.assert_frame_equal(
        got.sort_values(order).reset_index(drop=True),
        want.sort_values(order).reset_index(drop=True))


def test_extraction_arrow_suspect_and_null_fallback(spark):
    """The mapInArrow arm must agree with the per-doc kernels even when a
    batch contains unicode-whitespace docs (the batch decodes through
    batch_text_to_intensity instead of the zero-copy buffer pass) or nulls
    (zero-length segments)."""
    from pyradiomics_spark.functions.text import text_to_intensity
    from pyradiomics_spark.operators.features import (_extract_one,
                                                      extract_features)

    rows = [("u1", "normal doc text here with several words"),
            ("u2", "nbsp\xa0joined words plus more"),
            ("u3", None),
            ("u4", "中文 文本 测试 ok fine")]
    df = spark.createDataFrame(rows, "url string, text string")
    st = ExtractionSettings(bin_width=1.0)
    out = extract_features(df, keys=("url",), settings=st).toPandas()
    assert len(out) == 4
    got = dict(zip(out.url, out.firstorder_Mean))
    for u, t in rows:
        feats = _extract_one(text_to_intensity(t or "").astype(float), st)
        want = feats.get("original:firstorder_Mean", float("nan"))
        if np.isnan(want):
            assert np.isnan(got[u]), u
        else:
            assert got[u] == pytest.approx(want, rel=1e-12), u


MIXED_ROWS = [("u1", "aa bbb c dddd ee fff aa bbb"),
              ("u2", "nbsp\xa0joined words plus more extra tokens"),
              ("u3", None),
              ("u4", ""),
              ("u5", "中文 文本 测试 ok fine again")]


def _reference_cells(rows, st):
    """Per-doc reference for extract_matrices: _cell_blocks over each
    document's own text_to_intensity."""
    from pyradiomics_spark.operators.matrices import MATRIX_CLASSES, _cell_blocks

    vals = [text_to_intensity(t or "", st.tokenizer, st.intensity_mode,
                              st.intensity_buckets).astype(np.float64)
            for _, t in rows]
    d, m, iv, jv, vv, av = _cell_blocks(vals, st, MATRIX_CLASSES)
    return pd.DataFrame({"url": np.array([u for u, _ in rows], dtype=object)[d],
                         "matrix": m, "i": iv, "j": jv, "value": vv,
                         "angle": av})


def _assert_cells_equal(got, want):
    key = ["url", "matrix", "i", "j", "angle"]
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(
        got[list(want.columns)].sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True))


def test_matrices_match_per_doc_reference(spark):
    """extract_matrices is cell-identical to the per-doc reference,
    including a unicode-whitespace batch, null and empty docs."""
    from pyradiomics_spark.operators.matrices import extract_matrices

    df = spark.createDataFrame(MIXED_ROWS, "url string, text string")
    st = ExtractionSettings(bin_width=1.0)
    got = extract_matrices(df, keys=("url",), settings=st).toPandas()
    _assert_cells_equal(got, _reference_cells(MIXED_ROWS, st))


def _single_arrow_arm(out):
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


NON_DEFAULT = pytest.mark.parametrize("st", [
    ExtractionSettings(bin_width=1.0, tokenizer="bpe_regex"),
    ExtractionSettings(bin_width=1.0, intensity_mode="hash_bucket"),
], ids=["bpe_regex", "hash_bucket"])


@NON_DEFAULT
def test_features_non_default_text_settings(spark, st):
    """A non-default tokenizer or intensity mode runs the same mapInArrow
    arm and equals the per-doc reference."""
    df = spark.createDataFrame(MIXED_ROWS, "url string, text string")
    out = extract_features(df, keys=("url",), settings=st)
    _single_arrow_arm(out)
    got = out.toPandas().set_index("url")
    assert len(got) == len(MIXED_ROWS)
    for u, t in MIXED_ROWS:
        vals = text_to_intensity(t or "", st.tokenizer, st.intensity_mode,
                                 st.intensity_buckets).astype(np.float64)
        one = _extract_one(vals, st)
        assert got.loc[u, "diag_n_tokens"] == one["diag_n_tokens"], u
        for c in feature_columns(st):
            want, g = one[f"original:{c}"], got.loc[u, c]
            if np.isnan(want):
                assert np.isnan(g), (u, c, g)
            else:
                assert g == pytest.approx(want, rel=1e-9, abs=1e-12), (u, c)


@NON_DEFAULT
def test_matrices_non_default_text_settings(spark, st):
    """extract_matrices under a non-default tokenizer or intensity mode:
    one mapInArrow arm, cells equal to the per-doc reference."""
    from pyradiomics_spark.operators.matrices import extract_matrices

    df = spark.createDataFrame(MIXED_ROWS, "url string, text string")
    out = extract_matrices(df, keys=("url",), settings=st)
    _single_arrow_arm(out)
    _assert_cells_equal(out.toPandas(), _reference_cells(MIXED_ROWS, st))


def test_pivot_wide_counts_and_fill(spark):
    from pyspark.sql import functions as F

    from pyradiomics_spark.operators.features import pivot_wide

    df = spark.createDataFrame(
        [("s1", "en", 10), ("s1", "en", 20), ("s1", "de", 5),
         ("s2", "en", 7)],
        ["source", "lang", "n"])
    out = pivot_wide(df, ("source",), "lang", "n",
                     values=("de", "en", "zh"), agg="sum",
                     fill_value=0, prefix="sum_")
    # conditional-agg form => ONE exchange (native pivot plans two, and
    # valueless pivot adds a hidden distinct+collect pre-job); grab the
    # plan before collect() so AQE doesn't print initial+final twice
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    got = {r.source: (r.sum_de, r.sum_en, r.sum_zh) for r in out.collect()}
    assert got == {"s1": (5, 30, 0), "s2": (0, 7, 0)}
    # out-of-domain pivot values are dropped, not smuggled in
    assert set(out.columns) == {"source", "sum_de", "sum_en", "sum_zh"}

    avg = pivot_wide(df, ("source",), "lang", "n", values=("en",),
                     agg="avg")
    assert {r.source: r.en for r in avg.collect()} == {"s1": 15.0, "s2": 7.0}

    import pytest as _pt
    with _pt.raises(ValueError, match="agg"):
        pivot_wide(df, ("source",), "lang", "n", values=("en",), agg="p99")
    with _pt.raises(ValueError, match="values"):
        pivot_wide(df, ("source",), "lang", "n", values=())
