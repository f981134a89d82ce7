"""Plan shape of every two-level sketch entry point.

Each plan has exactly one partial ``MapInPandas`` with no Exchange between
it and the scan, so no raw row is ever shuffled; the only Exchanges move
blobs, and no entry point has more of them than its budget.
"""

import pytest

from pyspark.sql import functions as F

from sketches_rust_spark.functions.ddsketch_spark import (
    SketchConfig,
    build_partials,
    ddsketch_aggregate,
    ddsketch_aggregate_salted,
    ddsketch_aggregate_weighted,
    merge_partials,
)
from sketches_rust_spark.functions.sketch_udafs import (
    cms_adapter,
    hll_adapter,
    kll_adapter,
    multi_family_aggregate,
    sketch_aggregate,
    tdigest_adapter,
)

CFG = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0)
CUBIC = SketchConfig("unbounded_dense", 0.01, 0)  # weighted LogCubic: engine path

# entry point -> (function of the input frame, max Exchanges)
ENTRY_POINTS = {
    "build_partials": (
        lambda d: build_partials(d, "v", ["lang"], CFG), 0),
    "merge_partials": (
        lambda d: merge_partials(build_partials(d, "v", ["lang"], CFG), ["lang"], CFG), 1),
    "ddsketch_aggregate": (
        lambda d: ddsketch_aggregate(d, "v", ["lang"], CFG), 1),
    "ddsketch_aggregate_global": (
        lambda d: ddsketch_aggregate(d, "v", [], CFG), 1),
    "ddsketch_aggregate_salted": (
        lambda d: ddsketch_aggregate_salted(d, "v", ["lang"], CFG,
                                            num_salts=8, salt_from="doc_id"), 1),
    "ddsketch_aggregate_weighted": (
        lambda d: ddsketch_aggregate_weighted(d, "v", "w", ["lang"], CUBIC), 1),
    "sketch_aggregate": (
        lambda d: sketch_aggregate(d, "v", ["lang"], tdigest_adapter()), 1),
    "multi_family_aggregate": (
        lambda d: multi_family_aggregate(d, "doc_id", ["lang"], {
            "hll": (hll_adapter(12, "splitmix"), F.col("v") > 100),
            "cms": (cms_adapter(3, 512, "splitmix"), None),
            "kll": (kll_adapter(64), None)}), 1),
}


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .withColumn("v", F.length("text").cast("double"))
            .withColumn("w", (F.col("doc_id") % 3).cast("double")))


@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
def test_partial_reads_scan_without_exchange(documents, entry):
    build, max_exchanges = ENTRY_POINTS[entry]
    plan = build(documents)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    partial = [i for i, line in enumerate(lines) if "MapInPandas" in line]
    assert len(partial) == 1, plan
    # the plans are linear chains: everything below the partial is its input
    below = lines[partial[0] + 1:]
    assert any("FileScan" in line for line in below), plan
    assert not any("Exchange" in line for line in below), plan
    assert sum("Exchange" in line for line in lines) <= max_exchanges, plan
