"""Voxel-mode (per-position) feature maps: numpy kernel vs the fully
relational collect_list-window form, plus edge truncation semantics."""

import numpy as np
import pandas as pd
import pytest

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.operators.voxel import rolling_texture, _rolling_maps


def test_rolling_maps_brute():
    levels = np.array([1, 2, 1, 3, 3, 1])
    ent, uni, con = _rolling_maps(levels, radius=1)
    # pos 0 window [1,2]: p=.5/.5 → entropy 1, uniformity .5, contrast mean((2-1)²)=1
    assert ent[0] == pytest.approx(1.0, abs=1e-9)
    assert uni[0] == pytest.approx(0.5)
    assert con[0] == pytest.approx(1.0)
    # pos 4 window [3,3,1]: p=2/3,1/3
    p = np.array([2 / 3, 1 / 3])
    assert ent[4] == pytest.approx(float(-(p * np.log2(p)).sum()), abs=1e-6)
    # flat window → entropy 0, uniformity 1
    flat_ent, flat_uni, _ = _rolling_maps(np.array([5, 5, 5]), radius=1)
    assert flat_uni[1] == 1.0
    assert flat_ent[1] == pytest.approx(0.0, abs=1e-9)


def test_rolling_texture_matches_relational(spark):
    from pyspark.sql import functions as F, Window

    pdf = pd.DataFrame({
        "doc_id": [1] * 6 + [2] * 3,
        "text": ["a bb a ccc ccc a".replace(" ", " ")] * 6 + ["dd dd e"] * 3})
    # one row per doc is the real shape:
    pdf = pdf.drop_duplicates("doc_id").reset_index(drop=True)
    df = spark.createDataFrame(pdf)
    out = rolling_texture(
        df, keys=("doc_id",), radius=2,
        settings=ExtractionSettings(bin_width=1.0)).toPandas()

    # relational twin: explode tokens → collect_list window → HOF entropy
    t = df.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).where(F.col("tok") != "").withColumn("tok_len", F.length("tok"))
    w = Window.partitionBy("doc_id")
    lv = t.withColumn(
        "level", (F.col("tok_len") - F.min("tok_len").over(w) + 1).cast("int"))
    frame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-2, 2)
    with_lst = lv.withColumn("lst", F.collect_list("level").over(frame))
    n = F.size("lst")
    p_of = lambda v: F.size(F.filter(F.col("lst"), lambda x: x == v)) / n  # noqa: E731
    ent = -F.aggregate(
        F.transform(F.array_distinct("lst"), lambda v: p_of(v) * F.log2(p_of(v))),
        F.lit(0.0), lambda acc, x: acc + x)
    rel = with_lst.select("doc_id", "pos", ent.alias("rel_entropy")).toPandas()

    m = out.merge(rel, on=["doc_id", "pos"])
    assert len(m) == len(out) > 0
    np.testing.assert_allclose(
        m["roll_entropy"].to_numpy(), m["rel_entropy"].to_numpy(), atol=1e-9)


def _check_per_window(got, docs, settings, radius):
    """Every map row in ``got`` (indexed by url, pos) equals the per-doc
    kernels over its ±radius window of the doc-globally discretized
    sequence. Returns the number of features checked."""
    from pyradiomics_spark.functions.text import text_to_intensity
    from pyradiomics_spark.kernels import (
        discretize, firstorder_features, glcm_features, glrlm_features,
        glszm_features, gldm_features, ngtdm_features)

    checked = positions = 0
    for url, text in docs:
        vals = text_to_intensity(
            text or "", settings.tokenizer, settings.intensity_mode,
            settings.intensity_buckets).astype(np.float64)
        if vals.size == 0:  # no positions, no rows
            continue
        levels = discretize(vals, settings.bin_width)
        for p in range(vals.size):
            lo, hi = max(0, p - radius), min(vals.size, p + radius + 1)
            wv, wl = vals[lo:hi], levels[lo:hi]
            row = got.loc[(url, p)]
            positions += 1
            fo = firstorder_features(wv, discretized=wl)
            glcm = glcm_features(wl)
            glrlm = glrlm_features(wl)
            glszm = glszm_features(wl)
            ngtdm = ngtdm_features(wl)
            gldm = gldm_features(wl)
            for cls, feats in (("firstorder", fo), ("glcm", glcm),
                               ("glrlm", glrlm), ("glszm", glszm),
                               ("ngtdm", ngtdm), ("gldm", gldm)):
                for f, expect in feats.items():
                    val = row[f"{cls}_{f}"]
                    if np.isnan(expect):
                        assert np.isnan(val), (url, p, cls, f, val)
                    else:
                        assert val == pytest.approx(expect, rel=1e-9, abs=1e-12), (
                            url, p, cls, f)
                    checked += 1
    assert len(got) == positions
    return checked


def test_voxel_feature_maps_match_per_window_kernels(spark):
    """voxel_feature_maps == the per-doc kernels applied to each ±r window
    of the doc-globally discretized sequence (binImage-once semantics)."""
    from pyradiomics_spark.operators.voxel import voxel_feature_maps

    texts = ["aa bbb c dddd ee fff g", "xxxx yy z", "mm mm mm"]
    pdf = pd.DataFrame({
        "url": [f"u{i}" for i in range(len(texts))],
        "warc_ts": pd.to_datetime(["2024-01-01"] * len(texts)),
        "text": texts})
    df = spark.createDataFrame(pdf)
    settings = ExtractionSettings(bin_width=1.0)
    radius = 1
    out = voxel_feature_maps(
        df, keys=("url", "warc_ts"), radius=radius, settings=settings
    ).toPandas().set_index(["url", "pos"]).sort_index()

    docs = [(f"u{i}", t) for i, t in enumerate(texts)]
    assert _check_per_window(out, docs, settings, radius) > 1000


@pytest.mark.parametrize("settings", [
    ExtractionSettings(bin_width=1.0, tokenizer="bpe_regex"),
    ExtractionSettings(bin_width=1.0, intensity_mode="hash_bucket"),
], ids=["bpe_regex", "hash_bucket"])
def test_voxel_feature_maps_non_default_text_settings(spark, settings):
    """A non-default tokenizer or intensity mode runs the single
    mapInArrow arm, including a unicode-space doc, a null and an empty
    doc, and the maps equal the per-window kernels."""
    from pyradiomics_spark.operators.voxel import voxel_feature_maps

    docs = [("u1", "aa bbb c, dddd ee fff g"),
            ("u2", "nbsp\xa0joined words plus more"),
            ("u3", None),
            ("u4", ""),
            ("u5", "中文 文本 测试 ok fine")]
    df = spark.createDataFrame(docs, "url string, text string")
    out = voxel_feature_maps(df, keys=("url",), radius=1, settings=settings)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
    got = out.toPandas().set_index(["url", "pos"]).sort_index()
    assert _check_per_window(got, docs, settings, 1) > 1000


def test_voxel_feature_maps_chunked_equals_unchunked(spark):
    """voxelBatch analog (base.py:202-221): a tiny voxel_batch that forces
    many kernel slices must produce byte-identical maps to one big call."""
    from pyradiomics_spark.operators.voxel import voxel_feature_maps

    texts = ["aa bbb c dddd ee fff g hh iii", "xxxx yy z qq rrr", "mm mm mm"]
    pdf = pd.DataFrame({
        "url": [f"u{i}" for i in range(len(texts))],
        "warc_ts": pd.to_datetime(["2024-01-01"] * len(texts)),
        "text": texts})
    df = spark.createDataFrame(pdf)
    big = voxel_feature_maps(
        df, radius=2, settings=ExtractionSettings(bin_width=1.0)
    ).toPandas().sort_values(["url", "pos"]).reset_index(drop=True)
    small = voxel_feature_maps(
        df, radius=2,
        settings=ExtractionSettings(bin_width=1.0, voxel_batch=3)
    ).toPandas().sort_values(["url", "pos"]).reset_index(drop=True)
    assert len(big) == len(small) > 0
    pd.testing.assert_frame_equal(big, small)


def test_voxel_batch_and_start_level_validation():
    with pytest.raises(ValueError):
        ExtractionSettings(voxel_batch=-1)
    with pytest.raises(ValueError):
        # unbounded start level is an a-trous memory bomb
        ExtractionSettings(wavelet_start_level=40)
    ExtractionSettings(wavelet_start_level=8, voxel_batch=1024)  # ok
