"""Tests for the JVM-native (SQL) DDSketch build path."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from sketches_rust_spark.functions.ddsketch_spark import (
    SketchConfig,
    ddsketch_aggregate,
    make_quantile_udf,
)
from sketches_rust_spark.functions.ddsketch_sql import (
    ddsketch_aggregate_sql,
    ddsketch_histogram,
    ddsketch_quantiles_sql,
)
from sketches_rust_spark.kernel.sketch import DDSketch

CFG = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0)
CFG_COLLAPSING = SketchConfig("logarithmic_collapsing_lowest_dense", 0.01, 64)


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_sql_build_estimates_match_python_build(spark, documents):
    """SQL-path and pandas-path sketches must agree within alpha (1-ulp ln
    differences may flip boundary values to adjacent buckets, so byte
    identity is not required — estimate equality within alpha is)."""
    df = documents.withColumn("v", F.length("text").cast("double"))
    sql_blobs = {r["lang"]: bytes(r["sketch"])
                 for r in ddsketch_aggregate_sql(df, "v", ["lang"], CFG).collect()}
    py_blobs = {r["lang"]: bytes(r["sketch"])
                for r in ddsketch_aggregate(df, "v", ["lang"], CFG).collect()}
    assert set(sql_blobs) == set(py_blobs)
    alpha = CFG.new().index_mapping.relative_accuracy
    for lang in sql_blobs:
        a = DDSketch.decode(sql_blobs[lang])
        b = DDSketch.decode(py_blobs[lang])
        assert a.get_count() == b.get_count()
        for q in (0.0, 0.25, 0.5, 0.9, 0.99, 1.0):
            va, vb = a.get_value_at_quantile(q), b.get_value_at_quantile(q)
            assert abs(va - vb) <= 2 * alpha * abs(vb), (lang, q, va, vb)


def test_sql_quantiles_match_blob_quantiles(spark, documents):
    df = documents.withColumn("v", F.length("text").cast("double"))
    qs = {"p50": 0.5, "p99": 0.99}
    direct = {r["lang"]: (r["p50"], r["p99"])
              for r in ddsketch_quantiles_sql(df, "v", ["lang"], qs, CFG).collect()}
    blobs = ddsketch_aggregate_sql(df, "v", ["lang"], CFG)
    via_blob = {
        r["lang"]: (r["p50"], r["p99"])
        for r in blobs.select(
            "lang",
            make_quantile_udf(0.5)("sketch").alias("p50"),
            make_quantile_udf(0.99)("sketch").alias("p99"),
        ).collect()
    }
    assert set(direct) == set(via_blob)
    for lang in direct:
        for a, b in zip(direct[lang], via_blob[lang]):
            # same bucket; JVM exp vs numpy exp may differ in the last ulp
            assert abs(a - b) <= 1e-12 * abs(b), (lang, a, b)


def test_sql_histogram_counts_exact(spark, documents):
    df = documents.withColumn("v", F.length("text").cast("double"))
    hist = ddsketch_histogram(df, "v", ["lang"], CFG)
    got = {r["lang"]: r["n"] for r in
           hist.groupBy("lang").agg(F.sum("c").cast("long").alias("n")).collect()}
    want = {r["lang"]: r["n"] for r in
            df.groupBy("lang").agg(F.count("v").alias("n")).collect()}
    assert got == want


def test_sql_build_negative_and_zero(spark):
    import pandas as pd
    pdf = pd.DataFrame({"v": [-5.0, -1.0, 0.0, 0.0, 2.0, 1000.0, None, float("nan")]})
    df = spark.createDataFrame(pdf)
    rows = ddsketch_aggregate_sql(df, "v", [], CFG).collect()
    sk = DDSketch.decode(bytes(rows[0]["sketch"]))
    assert sk.get_count() == 6.0
    assert sk.zero_count == 2.0
    assert abs(sk.get_value_at_quantile(0.0) - -5.0) / 5.0 <= 0.011


def test_sql_build_collapsing_cap(spark, documents):
    """Collapsing preset enforces the bucket cap in the blob-assembly stage."""
    df = documents.withColumn("v", F.length("text").cast("double"))
    rows = ddsketch_aggregate_sql(df, "v", [], CFG_COLLAPSING).collect()
    sk = DDSketch.decode(bytes(rows[0]["sketch"]))
    pos = sk.positive_value_store
    assert (pos.get_max_index() - pos.get_min_index() + 1) <= 64


def test_sql_plan_is_native_hash_aggregate(spark, documents):
    """The per-row path must be whole-stage-codegen HashAggregate with a
    partial_count before the shuffle, and no Python eval anywhere."""
    df = documents.withColumn("v", F.length("text").cast("double"))
    hist = ddsketch_histogram(df, "v", ["lang"], CFG)
    plan = hist._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert "Python" not in plan     # no per-row Python anywhere
    assert "PushedFilters: [IsNotNull" in plan  # filter reached the scan
    assert "ReadSchema: struct<text:string,lang:string>" in plan  # pruned scan


def test_weighted_histogram_matches_pandas_weighted_build(spark):
    """LOG weighted build (Tungsten sum(weight)) must agree with the kernel's
    accept_many(weights) within alpha, and count must equal the weight sum."""
    import pandas as pd

    from sketches_rust_spark.functions.ddsketch_spark import (
        ddsketch_aggregate_weighted,
    )
    from sketches_rust_spark.kernel.sketch import DDSketch as K

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "g": rng.integers(0, 3, 5000).astype(str),
        "v": np.exp(rng.normal(4, 1.5, 5000)),
        "w": rng.integers(1, 10, 5000).astype(np.float64),
    })
    # sprinkle dropped weights: null, NaN, zero, negative
    pdf.loc[0, "w"] = None
    pdf.loc[1, "w"] = float("nan")
    pdf.loc[2, "w"] = 0.0
    pdf.loc[3, "w"] = -2.0
    df = spark.createDataFrame(pdf)

    rows = ddsketch_aggregate_weighted(df, "v", "w", ["g"], CFG).collect()
    alpha = CFG.new().index_mapping.relative_accuracy
    for r in rows:
        sk = DDSketch.decode(bytes(r["sketch"]))
        sub = pdf[pdf["g"] == r["g"]]
        ref = K.preset(CFG.preset, CFG.relative_accuracy, CFG.max_num_bins)
        ref.accept_many(sub["v"].to_numpy(np.float64),
                        sub["w"].to_numpy(np.float64, na_value=np.nan))
        assert sk.get_count() == pytest.approx(ref.get_count())
        for q in (0.1, 0.5, 0.9, 0.99):
            va = sk.get_value_at_quantile(q)
            vb = ref.get_value_at_quantile(q)
            assert abs(va - vb) <= 2 * alpha * abs(vb), (r["g"], q, va, vb)


def test_weighted_histogram_plan_is_native(spark, documents):
    """The weighted build's per-row path must be a Tungsten hash aggregate
    with map-side partial_sum(weight) — no raw-row shuffle, no Python."""
    df = documents.select(
        "lang",
        F.length("text").cast("double").alias("v"),
        (F.col("n_chars") % 5 + 1).cast("double").alias("w"))
    hist = ddsketch_histogram(df, "v", ["lang"], CFG, weight_col="w")
    plan = hist._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "partial_sum" in plan   # map-side combine of weights
    assert "Python" not in plan


def test_weighted_quantiles_sql_partition_invariant(spark):
    """Weighted quantile walk result must not depend on partitioning
    (mergeability evidence for the histogram path)."""
    import pandas as pd

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "v": np.exp(rng.normal(4, 1.5, 3000)),
        "w": rng.integers(1, 6, 3000).astype(np.float64),
    })
    df1 = spark.createDataFrame(pdf).repartition(1)
    df17 = spark.createDataFrame(pdf).repartition(17)
    qs = {"p50": 0.5, "p99": 0.99}
    a = ddsketch_quantiles_sql(df1, "v", [], qs, CFG, weight_col="w").collect()[0]
    b = ddsketch_quantiles_sql(df17, "v", [], qs, CFG, weight_col="w").collect()[0]
    assert (a["p50"], a["p99"]) == (b["p50"], b["p99"])


def test_walk_collapsing_preset_matches_blob_path(spark, documents):
    """Collapsing presets ride the JVM walk via the relational collapse fold
    (one window clamp + re-aggregate). Must (a) actually trigger the cap on
    this data — low quantiles fold into the floor bucket — and (b) equal the
    blob path (store-side clamp) exactly, since both bucket JVM-side."""
    from sketches_rust_spark.functions.ddsketch_sql import (
        blobs_from_histogram, ddsketch_histogram)

    df = documents.withColumn("v", F.length("text").cast("double"))
    qs = {"p01": 0.01, "p10": 0.1, "p50": 0.5, "p99": 0.99}
    walked = {r["lang"]: [r[n] for n in qs]
              for r in ddsketch_quantiles_sql(df, "v", ["lang"], qs,
                                              CFG_COLLAPSING).collect()}
    unbounded = {r["lang"]: [r[n] for n in qs]
                 for r in ddsketch_quantiles_sql(df, "v", ["lang"], qs,
                                                 CFG).collect()}
    # (a) the 64-bin cap folds the low tail: p01 must differ from unbounded
    assert any(walked[g][0] != unbounded[g][0] for g in walked)
    # (b) exact agreement with blobs built from the same JVM histogram
    # (store-side collapse in blobs_from_histogram vs the window fold)
    blobs = blobs_from_histogram(
        ddsketch_histogram(df, "v", ["lang"], CFG_COLLAPSING),
        ["lang"], CFG_COLLAPSING)
    via_blob = {
        r["lang"]: [r[n] for n in qs]
        for r in blobs.select(
            "lang", *[make_quantile_udf(q)("sketch").alias(n)
                      for n, q in qs.items()]).collect()}
    for g, vals in walked.items():
        assert vals == pytest.approx(via_blob[g], abs=1e-9), g


def test_weighted_collapsing_walk_matches_blob_path(spark, documents):
    """Weighted inserts AND a collapsing preset together: the window collapse
    fold runs over the sum(weight) histogram and must equal blobs built from
    the same histogram (store-side clamp) exactly."""
    from sketches_rust_spark.functions.ddsketch_sql import (
        blobs_from_histogram, ddsketch_histogram)

    df = (documents
          .withColumn("v", F.length("text").cast("double"))
          .withColumn("w", (F.col("doc_id") % 4 + 1).cast("double")))
    qs = {"p01": 0.01, "p50": 0.5, "p99": 0.99}
    walked = {r["lang"]: [r[n] for n in qs]
              for r in ddsketch_quantiles_sql(df, "v", ["lang"], qs,
                                              CFG_COLLAPSING,
                                              weight_col="w").collect()}
    blobs = blobs_from_histogram(
        ddsketch_histogram(df, "v", ["lang"], CFG_COLLAPSING, weight_col="w"),
        ["lang"], CFG_COLLAPSING)
    via_blob = {
        r["lang"]: [r[n] for n in qs]
        for r in blobs.select(
            "lang", *[make_quantile_udf(q)("sketch").alias(n)
                      for n, q in qs.items()]).collect()}
    for g, vals in walked.items():
        assert vals == pytest.approx(via_blob[g], abs=1e-9), g


def test_stats_collapsing_preset_matches_blob_extremes(spark, documents):
    """ddsketch_stats_sql with a collapsing preset: min_est must be the
    representative of the FOLDED floor bucket (not the raw min bucket),
    matching the blob path's get_min."""
    from sketches_rust_spark.functions.ddsketch_sql import (
        ddsketch_aggregate_sql, ddsketch_stats_sql)
    from sketches_rust_spark.kernel.sketch import DDSketch

    df = documents.withColumn("v", F.length("text").cast("double"))
    stats = {r["lang"]: (r["cnt"], r["min_est"], r["max_est"])
             for r in ddsketch_stats_sql(df, "v", ["lang"],
                                         CFG_COLLAPSING).collect()}
    blobs = {r["lang"]: bytes(r["sketch"])
             for r in ddsketch_aggregate_sql(df, "v", ["lang"],
                                             CFG_COLLAPSING).collect()}
    for g, (cnt, mn, mx) in stats.items():
        sk = DDSketch.decode(blobs[g])
        assert cnt == sk.get_count()
        assert mn == pytest.approx(sk.get_min(), abs=1e-9)
        assert mx == pytest.approx(sk.get_max(), abs=1e-9)


def test_weighted_logcubic_falls_back_to_pandas_build(spark):
    """Non-LOG presets can't ride the SQL histogram; the pandas fallback
    must still produce correct weighted counts."""
    import pandas as pd

    from sketches_rust_spark.functions.ddsketch_spark import (
        SketchConfig as SC, ddsketch_aggregate_weighted)

    pdf = pd.DataFrame({"v": [1.0, 10.0, 100.0], "w": [2.0, 3.0, 5.0]})
    df = spark.createDataFrame(pdf)
    cfg = SC("unbounded_dense", 0.01, 0)  # LogCubic mapping
    rows = ddsketch_aggregate_weighted(df, "v", "w", [], cfg).collect()
    sk = DDSketch.decode(bytes(rows[0]["sketch"]))
    assert sk.get_count() == 10.0

    # integral weights plus null, NaN, 0 and negative weights (and a null
    # value): each group's blob is byte-equal to one kernel accept_many over
    # its rows, rows_in is the accepted weight sum, and a group whose every
    # weight is invalid vanishes
    nan = float("nan")
    data = [("a", 1.0, 2.0), ("a", 10.0, 3.0), ("a", 100.0, 5.0),
            ("a", 7.5, None), ("a", 3.0, nan), ("a", 42.0, 0.0),
            ("a", 9.0, -1.0), ("a", None, 4.0),
            ("b", -5.0, 1.0), ("b", 0.0, 2.0), ("b", 2.5, 3.0),
            ("c", 8.0, -2.0), ("c", 8.0, nan)]
    df = spark.createDataFrame(data, "g string, v double, w double")

    def kernel(sub):
        sk = cfg.new()
        sk.accept_many(np.array([nan if v is None else v for _, v, _ in sub]),
                       np.array([nan if w is None else w for _, _, w in sub]))
        return sk.encode()

    got = {r["g"]: (bytes(r["sketch"]), r["rows_in"]) for r in
           ddsketch_aggregate_weighted(df, "v", "w", ["g"], cfg).collect()}
    assert got == {"a": (kernel([r for r in data if r[0] == "a"]), 10),
                   "b": (kernel([r for r in data if r[0] == "b"]), 6)}
    total = ddsketch_aggregate_weighted(df, "v", "w", [], cfg).collect()
    assert [(bytes(r["sketch"]), r["rows_in"]) for r in total] == [(kernel(data), 16)]


def test_quantile_oracle_rejects_collapse_without_max_bins():
    import pytest

    from sketches_rust_spark.functions.oracle import ddsketch_quantile_oracle_sql

    with pytest.raises(ValueError, match="max_bins"):
        ddsketch_quantile_oracle_sql(
            "t", "v", [], {"p50": 0.5}, 0.01, collapse="lowest")
    with pytest.raises(ValueError, match="max_bins"):
        ddsketch_quantile_oracle_sql(
            "t", "v", [], {"p50": 0.5}, 0.01, collapse="highest", max_bins=0)
