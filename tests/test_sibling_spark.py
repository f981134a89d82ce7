"""Spark-level tests for sibling-sketch aggregation."""

import hashlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from sketches_rust_spark.functions.sketch_udafs import (
    bloom_adapter,
    bloom_might_contain,
    cms_adapter,
    cms_point_estimate,
    hll_adapter,
    hll_estimate,
    kll_adapter,
    kll_quantile,
    register_sibling_sql,
    sketch_aggregate,
    tdigest_adapter,
    tdigest_quantile,
)
from sketches_rust_spark.kernel.hll import HyperLogLog


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_hll_by_type_matches_exact_within_bound(spark, events):
    agg = sketch_aggregate(events, F.xxhash64("user_id"), ["event_type"],
                           hll_adapter(p=14))
    got = {r["event_type"]: r["est"] for r in
           agg.select("event_type", hll_estimate("sketch").alias("est")).collect()}
    exact = {r["event_type"]: r["n"] for r in
             events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    rse = HyperLogLog(14).relative_standard_error()
    for k, n in exact.items():
        assert abs(got[k] - n) / n <= 4 * rse, (k, got[k], n)


def test_hll_partition_invariance(spark, events):
    blobs = []
    for parts in (1, 5):
        agg = sketch_aggregate(events.repartition(parts), F.xxhash64("user_id"),
                               ["event_type"], hll_adapter(p=12))
        blobs.append({r["event_type"]: bytes(r["sketch"]) for r in agg.collect()})
    assert blobs[0] == blobs[1]  # register-max merge is exactly invariant


def test_cms_heavy_hitter_bound(spark, events):
    agg = sketch_aggregate(events, F.xxhash64("event_type"), [],
                           cms_adapter(depth=5, width=4096))
    row = agg.select("sketch", "rows_in").collect()[0]
    exact = dict(events.groupBy("event_type").count().collect())
    blob_df = spark.createDataFrame(
        [(row["sketch"], t) for t in exact], ["sketch", "t"]
    ).withColumn("h", F.xxhash64("t"))
    est = {r["t"]: r["est"] for r in blob_df.select(
        "t", cms_point_estimate("sketch", "h").alias("est")).collect()}
    n = row["rows_in"]
    for t, c in exact.items():
        assert c <= est[t] <= c + np.e / 4096 * n + 1


def test_bloom_membership(spark, events):
    agg = sketch_aggregate(events.where("event_type = 'purchase'"),
                           F.xxhash64("user_id"), [],
                           bloom_adapter(m_bits=1 << 18, k=7))
    blob = agg.collect()[0]["sketch"]
    probe = events.select("user_id", F.xxhash64("user_id").alias("h")).distinct() \
        .withColumn("member", F.lit(None).cast("boolean"))
    pdf = probe.select("user_id", "h").toPandas()
    purchasers = {r["user_id"] for r in
                  events.where("event_type = 'purchase'").select("user_id").distinct().collect()}
    checks = spark.createDataFrame(pdf).withColumn("blob", F.lit(bytes(blob)))
    got = {r["user_id"]: r["m"] for r in checks.select(
        "user_id", bloom_might_contain("blob", "h").alias("m")).collect()}
    # zero false negatives
    assert all(got[u] for u in purchasers)
    non = [u for u in got if u not in purchasers]
    if non:
        fpr = sum(got[u] for u in non) / len(non)
        assert fpr <= 0.05


@pytest.mark.parametrize("adapter,qudf", [
    (tdigest_adapter(200.0), tdigest_quantile),
    (kll_adapter(200), kll_quantile),
])
def test_quantile_sketches_rank_error(spark, events, adapter, qudf):
    agg = sketch_aggregate(events, F.col("value").cast("double"), ["event_type"],
                           adapter)
    got = agg.select("event_type", qudf("sketch", F.lit(0.9)).alias("p90")).collect()
    pdf = events.select("event_type", "value").toPandas()
    for r in got:
        vals = np.sort(pdf[pdf["event_type"] == r["event_type"]]["value"].to_numpy())
        rank = np.searchsorted(vals, r["p90"]) / len(vals)
        assert abs(rank - 0.9) <= 0.05, (r["event_type"], rank)


def test_sibling_sql_surface(spark, events):
    register_sibling_sql(spark, hll_p=14)
    agg = sketch_aggregate(events, F.xxhash64("user_id"), ["event_type"],
                           hll_adapter(p=14))
    agg.createOrReplaceTempView("hll_partials")
    out = spark.sql("""
        SELECT hll_estimate(hll_merge(sketch)) AS est FROM hll_partials
    """).collect()[0]["est"]
    exact = events.select("user_id").distinct().count()
    assert abs(out - exact) / exact <= 4 * HyperLogLog(14).relative_standard_error()


def test_kmv_distinct_and_intersection_vs_exact(spark, events):
    """KMV through the two-level Spark aggregation: per-type estimates
    within the error band, partition-invariant blobs, and the intersection
    estimate close to the exact overlap of two groups' user sets."""
    from sketches_rust_spark.functions.sketch_udafs import (
        kmv_adapter, kmv_estimate, kmv_intersection)
    from sketches_rust_spark.kernel.kmv import KMV

    agg = sketch_aggregate(events, F.col("user_id"), ["event_type"],
                           kmv_adapter(256, hash_mode="splitmix"))
    got = {r["event_type"]: r["est"] for r in
           agg.select("event_type", kmv_estimate("sketch").alias("est")).collect()}
    exact = {r["event_type"]: r["n"] for r in
             events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    rse = KMV(256).relative_standard_error()
    for k, n in exact.items():
        assert abs(got[k] - n) / n <= 5 * rse, (k, got[k], n)

    # partition invariance: the retained bottom-k set is a pure function of
    # the distinct hash set
    blobs = []
    for parts in (1, 5):
        a = sketch_aggregate(events.repartition(parts), F.col("user_id"),
                             ["event_type"], kmv_adapter(128, "splitmix"))
        blobs.append({r["event_type"]: bytes(r["sketch"]) for r in a.collect()})
    assert blobs[0] == blobs[1]

    # intersection of two types' user sets vs exact overlap
    types = sorted(exact)[:2]
    both = agg.where(F.col("event_type").isin(types)).agg(
        F.first(F.when(F.col("event_type") == types[0], F.col("sketch")),
                ignorenulls=True).alias("sa"),
        F.first(F.when(F.col("event_type") == types[1], F.col("sketch")),
                ignorenulls=True).alias("sb"))
    est = both.select(kmv_intersection("sa", "sb").alias("c")).collect()[0]["c"]
    true_common = (events.where(F.col("event_type") == types[0])
                   .select("user_id").distinct()
                   .join(events.where(F.col("event_type") == types[1])
                         .select("user_id").distinct(), "user_id")
                   .count())
    if true_common:
        assert abs(est - true_common) / true_common < 0.5  # loose: small k


def test_multi_family_aggregate_blobs_equal_single_family(spark, events):
    """The one-pass multi-family build (shared scan + shared Python partial
    stage) must produce byte-identical per-(family, group) blobs to the
    per-family sketch_aggregate builds it replaced (all four kernels are
    order-insensitive)."""
    from sketches_rust_spark.functions.sketch_udafs import (
        kmv_adapter, multi_family_aggregate)

    ev = events.select(F.col("event_type").alias("_g"),
                       F.col("user_id").cast("long").alias("_id"))
    restricted = F.col("_g").isin(["purchase", "click"])
    fams = {
        "hll": (hll_adapter(p=12, hash_mode="splitmix"), restricted),
        "kmv": (kmv_adapter(64, hash_mode="splitmix"), restricted),
        "cms": (cms_adapter(3, 512, "splitmix"), None),
        "bloom": (bloom_adapter(1 << 12, 3, "splitmix"), restricted),
    }
    multi = multi_family_aggregate(ev, "_id", ["_g"], fams)
    got = {(r["family"], r["_g"]): (bytes(r["sketch"]), r["rows_in"])
           for r in multi.collect()}

    singles = {
        "hll": sketch_aggregate(ev.where(restricted), "_id", ["_g"],
                                hll_adapter(p=12, hash_mode="splitmix")),
        "kmv": sketch_aggregate(ev.where(restricted), "_id", ["_g"],
                                kmv_adapter(64, hash_mode="splitmix")),
        "cms": sketch_aggregate(ev, "_id", ["_g"],
                                cms_adapter(3, 512, "splitmix")),
        "bloom": sketch_aggregate(ev.where(restricted), "_id", ["_g"],
                                  bloom_adapter(1 << 12, 3, "splitmix")),
    }
    want = {}
    for fam, agg in singles.items():
        for r in agg.collect():
            want[(fam, r["_g"])] = (bytes(r["sketch"]), r["rows_in"])
    assert got == want


# sha256 of t-digest / KLL blobs over a fixed three-partition input (each
# partition is two Arrow batches, 10,000 and 5,000 rows, at the default
# batch size).
# Both kernels' bytes depend on how a group's rows are split into update
# calls and in which order the calls come, so the digests pin the engine's
# one-update-per-(batch, group) sequence as well as the kernels.
_ORDER_SENSITIVE_PINS = {
    ("tdigest", (0,)): "0ca346c7636f1dc2903cf6a3f925f397df4c8908e5be7912c0bd12b8c7da96c5",
    ("tdigest", (1,)): "3ed5846f6083ff874e0a21b7b58f73d86eda335231720d531f058c1ecd038c7a",
    ("tdigest", (2,)): "64df5f0a7984960a3fa714b73014b0f1e8aa94ea7898fe389cca1bd102f4c335",
    ("tdigest", (3,)): "55a1c91d252171b0fc9c6be4faaf9cda51c2b5d8ada39e6bdb04cc3e1d9f4322",
    ("tdigest", ()): "5e5acfdf0de9c7793d2e5619b2d74cfb26217336cf655e2ca909e1584ccd6f4f",
    ("kll", (0,)): "ad0fed650b34840d7f5fca93344df1dd6ace58a68ebe0a8d72b1e359a45d2a33",
    ("kll", (1,)): "b989cf22401408fef21a77256e6d4309f3bb4aba8e8a3ea7952230c0cb7223a1",
    ("kll", (2,)): "23e0b483f950d7dd7c33e5a32cb7e74c44843668d7ca33f30f22ea8bf33c94a5",
    ("kll", (3,)): "2438cca9346e0cf8a824aaa1a8a3d812994f6c58be269825ace0a7d5d7676e63",
    ("kll", ()): "36c34e5f7935c7dc89dde86453ee05846942057417f4f99da4ebe1e71abe8bf5",
}


def _digests(rows, keys):
    return {(r["family"], tuple(r[k] for k in keys)):
            (hashlib.sha256(bytes(r["sketch"])).hexdigest(), r["rows_in"])
            for r in rows}


@pytest.mark.parametrize("keys", [["g"], []])
def test_order_sensitive_blobs_pinned(spark, keys):
    """t-digest and KLL blobs equal the pinned digests through both
    sketch_aggregate and multi_family_aggregate (the two families sharing
    one pass)."""
    from sketches_rust_spark.functions.sketch_udafs import multi_family_aggregate

    df = spark.range(45000, numPartitions=3).select(
        (F.col("id") % 4).alias("g"),
        (((F.col("id") * 7919) % 10007).cast("double") / 7.0 - 300.0).alias("v"))
    adapters = {"tdigest": tdigest_adapter(100.0), "kll": kll_adapter(64)}
    want = {(fam, key): (digest, 45000 // 4 if keys else 45000)
            for (fam, key), digest in _ORDER_SENSITIVE_PINS.items()
            if len(key) == len(keys)}

    single = {}
    for fam, adapter in adapters.items():
        rows = sketch_aggregate(df, "v", keys, adapter).withColumn(
            "family", F.lit(fam)).collect()
        single |= _digests(rows, keys)
    multi = _digests(multi_family_aggregate(
        df, "v", keys, {f: (a, None) for f, a in adapters.items()}).collect(), keys)
    assert single == want
    assert multi == want


def test_sibling_rows_in_drops_null_inputs(spark):
    """Sibling entry points drop rows whose input is null before the
    partial, so rows_in never counts them (unlike the DDSketch entry
    points, which count every row)."""
    from sketches_rust_spark.functions.sketch_udafs import multi_family_aggregate

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 3.0), ("b", None), ("c", None)],
        "k string, v double")
    single = {r["k"]: r["rows_in"]
              for r in sketch_aggregate(df, "v", ["k"], kll_adapter(64)).collect()}
    multi = {(r["family"], r["k"]): r["rows_in"]
             for r in multi_family_aggregate(df, "v", ["k"], {
                 "kll": (kll_adapter(64), None),
                 "tdigest": (tdigest_adapter(50.0), F.col("k") == "b")}).collect()}
    assert single == {"a": 1, "b": 1}
    assert multi == {("kll", "a"): 1, ("kll", "b"): 1, ("tdigest", "b"): 1}
