"""Spark-level DDSketch aggregation tests.

End-to-end over driver-provided parquet (sf0.001): two-level partial+final
sketch aggregation, salted-vs-unsalted identity, partition-count invariance,
SQL UDF surface, and error bounds vs exact quantiles.
"""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sketches_rust_spark.functions.ddsketch_spark import (
    SketchConfig,
    build_partials,
    ddsketch_aggregate,
    ddsketch_aggregate_salted,
    make_quantile_udf,
    register_sql_functions,
)

CFG = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0)


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def exact_ddsketch_estimate(values: np.ndarray, q: float, cfg: SketchConfig = CFG) -> float:
    """Single-node kernel estimate: Spark must reproduce this exactly."""
    sk = cfg.new()
    sk.accept_many(values)
    return sk.get_value_at_quantile(q)


def test_grouped_aggregate_matches_kernel(spark, documents):
    """The distributed two-level plan must give byte-identical blobs to a
    single-threaded kernel build over the same rows (unbounded store)."""
    result = ddsketch_aggregate(
        documents.withColumn("text_len", F.length("text")),
        "text_len", ["lang"], CFG,
    )
    got = {r["lang"]: bytes(r["sketch"]) for r in result.collect()}

    pdf = documents.select("lang", F.length("text").alias("text_len")).toPandas()
    for lang, sub in pdf.groupby("lang"):
        sk = CFG.new()
        sk.accept_many(sub["text_len"].to_numpy(dtype=np.float64))
        assert got[lang] == sk.encode(), f"blob mismatch for lang={lang}"


def test_partition_count_invariance(spark, documents):
    df = documents.withColumn("text_len", F.length("text"))
    blobs = []
    for parts in (1, 3, 7):
        r = ddsketch_aggregate(df.repartition(parts), "text_len", ["lang"], CFG)
        blobs.append({row["lang"]: bytes(row["sketch"]) for row in r.collect()})
    assert blobs[0] == blobs[1] == blobs[2]


def test_salted_equals_unsalted(spark, documents):
    df = documents.withColumn("text_len", F.length("text"))
    plain = ddsketch_aggregate(df, "text_len", ["lang"], CFG)
    salted = ddsketch_aggregate_salted(df, "text_len", ["lang"], CFG,
                                       num_salts=8, salt_from="doc_id")
    a = {r["lang"]: bytes(r["sketch"]) for r in plain.collect()}
    b = {r["lang"]: bytes(r["sketch"]) for r in salted.collect()}
    assert a == b


def test_global_aggregate_and_quantile_udf(spark, documents):
    df = documents.withColumn("text_len", F.length("text"))
    agg = ddsketch_aggregate(df, "text_len", [], CFG)
    p99 = make_quantile_udf(0.99)
    row = agg.select(p99("sketch").alias("p99"), "rows_in").collect()[0]

    vals = df.select("text_len").toPandas()["text_len"].to_numpy(dtype=np.float64)
    assert row["rows_in"] == len(vals)
    assert row["p99"] == exact_ddsketch_estimate(vals, 0.99)
    srt = np.sort(vals)
    exact = srt[int(0.99 * (len(srt) - 1))]
    assert abs(row["p99"] - exact) / exact <= CFG.new().index_mapping.relative_accuracy * 1.0000001


def test_sql_surface(spark, documents):
    register_sql_functions(spark, CFG)
    df = documents.withColumn("text_len", F.length("text"))
    build_partials(df, "text_len", ["lang"], CFG).createOrReplaceTempView("partials")
    out = spark.sql(
        """
        SELECT lang,
               ddsketch_count(sk) AS cnt,
               ddsketch_quantile(sk, 0.5) AS p50,
               ddsketch_min(sk) AS mn,
               ddsketch_max(sk) AS mx,
               ddsketch_avg(sk) AS avg
        FROM (SELECT lang, ddsketch_merge(sketch) AS sk FROM partials GROUP BY lang)
        ORDER BY lang
        """
    ).toPandas()

    exact = (
        documents.select("lang", F.length("text").alias("v"))
        .groupBy("lang")
        .agg(F.count("v").alias("cnt"), F.min("v").alias("mn"),
             F.max("v").alias("mx"), F.avg("v").alias("avg"))
        .orderBy("lang")
        .toPandas()
    )
    alpha = CFG.new().index_mapping.relative_accuracy
    assert (out["cnt"].to_numpy() == exact["cnt"].to_numpy()).all()
    np.testing.assert_allclose(out["mn"], exact["mn"], rtol=alpha)
    np.testing.assert_allclose(out["mx"], exact["mx"], rtol=alpha)
    np.testing.assert_allclose(out["avg"], exact["avg"], rtol=alpha)


def test_sql_build_udaf(spark, documents):
    register_sql_functions(spark, CFG)
    documents.createOrReplaceTempView("docs")
    out = spark.sql(
        """
        SELECT lang, ddsketch_quantile(ddsketch_build(CAST(length(text) AS DOUBLE)), 0.9) AS p90
        FROM docs GROUP BY lang ORDER BY lang
        """
    ).toPandas()
    pdf = documents.select("lang", F.length("text").alias("v")).toPandas()
    for _, row in out.iterrows():
        vals = pdf[pdf["lang"] == row["lang"]]["v"].to_numpy(dtype=np.float64)
        assert row["p90"] == exact_ddsketch_estimate(vals, 0.9)


def test_null_values_ignored(spark):
    """Null values stay out of the sketch, but the DDSketch entry points
    count their rows in rows_in."""
    pdf = pd.DataFrame({"k": ["a", "a", "b"], "v": [1.0, None, 3.0]})
    df = spark.createDataFrame(pdf)
    agg = ddsketch_aggregate(df, "v", ["k"], CFG)
    rows = {r["k"]: r for r in agg.collect()}
    from sketches_rust_spark.kernel.sketch import DDSketch
    assert DDSketch.decode(bytes(rows["a"]["sketch"])).get_count() == 1.0
    assert DDSketch.decode(bytes(rows["b"]["sketch"])).get_count() == 1.0
    assert rows["a"]["rows_in"] == 2
    assert rows["b"]["rows_in"] == 1
    salted = {r["k"]: r["rows_in"] for r in ddsketch_aggregate_salted(
        df, "v", ["k"], CFG, num_salts=4).collect()}
    assert salted == {"a": 2, "b": 1}
