"""JVM-native DDSketch build: bucket in SQL, aggregate in Tungsten.

The scalable build path. For the LOG index mapping, the DDSketch bucket index
is a closed-form expression (trunc rule over ln(v)*multiplier — SURVEY.md §8
N1), so bucketing + counting compiles to a whole-stage-codegen hash aggregate:

    df.groupBy(keys, side, idx).count()

* per-row work is entirely JVM-side (no Arrow boundary, no Python);
* Catalyst inserts the map-side partial aggregate, so the shuffle carries at
  most (#groups x #distinct-buckets) rows — bounded by the sketch's bucket
  count (~2k per group at alpha=0.01), NOT the input row count;
* key skew is absorbed by the partial aggregate: a zipfian hot group still
  reduces to <= #buckets rows per map task before the shuffle.

Python then assembles the reference-wire-format blob from each group's tiny
histogram (rows crossing the boundary = buckets, not input rows), or skips
blobs entirely and computes the quantile walk with window functions.

Parity note: JVM ln/exp may differ from numpy's by 1 ulp, which can flip a
value sitting within ~1e-13 of a bucket boundary into the adjacent bucket.
The DDSketch alpha guarantee is unaffected (adjacent buckets of a boundary
value are both within alpha); byte-identity with the Python build path is
therefore not guaranteed, only estimate-equality within alpha (tested).

The LogCubic mapping needs f64 bit extraction, which Spark SQL lacks — use
the pandas-UDAF path in ddsketch_spark.py for LogCubic.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ..kernel.mapping import LOG
from ..kernel.sketch import DDSketch
from .ddsketch_spark import SketchConfig
from .engine import ROWS_COL, SKETCH_COL, _key_fields

_LOG_PRESETS = {
    "logarithmic_collapsing_lowest_dense",
    "logarithmic_collapsing_highest_dense",
    "logarithmic_unbounded_size_dense_store",
}


def _require_log_mapping(config: SketchConfig) -> DDSketch:
    if config.preset not in _LOG_PRESETS:
        raise ValueError(
            f"SQL build path supports only LOG-mapping presets {_LOG_PRESETS}; "
            f"got {config.preset}. Use ddsketch_aggregate (pandas path) for LogCubic.")
    return config.new()


def bucket_columns(value: Column, config: SketchConfig) -> tuple[Column, Column]:
    """(side, idx) expressions implementing accept-routing + the index trunc
    rule with built-in functions only (spec sketch.rs:38-56,
    index_mapping/mod.rs:171-178)."""
    proto = _require_log_mapping(config)
    m = proto.index_mapping
    v = value.cast("double")
    min_idx = float(proto.min_indexed_value)
    side = (F.when(v > min_idx, F.lit(1))
             .when(v < -min_idx, F.lit(-1))
             .otherwise(F.lit(0)))
    x = F.log(F.abs(v)) * F.lit(m.multiplier) + F.lit(m.index_offset)
    idx_raw = F.when(x >= 0, x.cast("long")).otherwise((x - F.lit(1.0)).cast("long"))
    idx = F.when(side == 0, F.lit(0)).otherwise(idx_raw)
    return side, idx


def value_guard(value: Column, config: SketchConfig) -> Column:
    """Rows the sketch accepts: non-null, finite, |v| <= max_indexed_value."""
    proto = _require_log_mapping(config)
    v = value.cast("double")
    return (v.isNotNull() & ~F.isnan(v)
            & (F.abs(v) <= F.lit(proto.max_indexed_value))
            & (F.abs(v) != F.lit(float("inf"))))


def ddsketch_histogram(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    config: SketchConfig = SketchConfig("logarithmic_collapsing_lowest_dense", 0.01, 2048),
    weight_col: str | None = None,
) -> DataFrame:
    """(keys..., side, idx, c): the sketch as a relational histogram, computed
    by a native hash aggregate. This IS the partial+final aggregation — done
    by Tungsten with map-side combine, no UDF in the per-row path.

    weight_col: optional per-row insert weight (weighted accept semantics —
    null/NaN/non-positive weights drop the row, matching
    DDSketch.accept_many). c becomes sum(weight) instead of count, still a
    single Tungsten partial_sum before the only exchange — no raw rows ever
    shuffle.
    """
    keys = list(keys)
    v = F.col(value_col)
    side, idx = bucket_columns(v, config)
    filtered = df.where(value_guard(v, config))
    if weight_col is None:
        c = F.count(F.lit(1)).cast("double")
    else:
        w = F.col(weight_col).cast("double")
        filtered = filtered.where(w.isNotNull() & ~F.isnan(w) & (w > 0))
        c = F.sum(w)
    return (
        filtered
        .groupBy(*keys, side.alias("side"), idx.alias("idx"))
        .agg(c.alias("c"))
    )


def blobs_from_histogram(
    hist: DataFrame,
    keys: Sequence[str] = (),
    config: SketchConfig = SketchConfig("logarithmic_collapsing_lowest_dense", 0.01, 2048),
) -> DataFrame:
    """Assemble reference-wire-format sketch blobs from histogram rows.

    Only (#groups x #buckets) rows cross the Arrow boundary here. Collapsing
    presets apply their bucket cap inside the store exactly as a direct build
    would (order-insensitive collapse, see kernel/store.py).
    """
    keys = list(keys)
    out_schema = StructType(
        _key_fields(hist, keys)
        + [StructField(SKETCH_COL, BinaryType(), False),
           StructField(ROWS_COL, LongType(), False)]
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = config.new()
        side = pdf["side"].to_numpy(np.int64)
        idx = pdf["idx"].to_numpy(np.int64)
        c = pdf["c"].to_numpy(np.float64)
        pos = side == 1
        if pos.any():
            sk.positive_value_store.add_many(idx[pos], c[pos])
        neg = side == -1
        if neg.any():
            sk.negative_value_store.add_many(idx[neg], c[neg])
        zero = side == 0
        if zero.any():
            sk.zero_count += float(c[zero].sum())
        head = {k: pdf[k].iloc[0] for k in keys}
        head[SKETCH_COL] = sk.encode()
        head[ROWS_COL] = int(c.sum())
        return pd.DataFrame([head], columns=keys + [SKETCH_COL, ROWS_COL])

    if keys:
        return hist.groupBy(*keys).applyInPandas(assemble, schema=out_schema)
    return hist.groupBy(F.lit(1).alias("_g")).applyInPandas(assemble, schema=out_schema)


def ddsketch_aggregate_sql(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    config: SketchConfig = SketchConfig("logarithmic_collapsing_lowest_dense", 0.01, 2048),
    weight_col: str | None = None,
) -> DataFrame:
    """Native-speed sketch aggregation: histogram in Tungsten, blob in Python.
    Same output contract as ddsketch_aggregate: (keys..., sketch, rows_in).
    With weight_col, rows_in is the (integral part of the) total inserted
    weight — i.e. the sketch count, matching DDSketch.get_count()."""
    return blobs_from_histogram(
        ddsketch_histogram(df, value_col, keys, config, weight_col), keys, config)


def collapse_histogram(
    hist: DataFrame,
    keys: Sequence[str],
    config: SketchConfig,
) -> DataFrame:
    """Apply a collapsing preset's bucket cap relationally: clamp idx into
    the kept index range per (group, side) with ONE window over the bounded
    histogram (<= #buckets rows per group), then re-aggregate the folded
    buckets. No-op for unbounded presets.

    This equals DenseStore._clamp_batch applied to the whole group at once
    (the order-insensitive collapse the blob build performs — reference
    semantics /root/reference/src/store/collapsing_lowest.rs:83-122 with the
    sticky-collapse order dependence removed, proven equivalent in
    tests/test_store.py): collapsing-lowest keeps the top max_num_bins index
    RANGE per store, folding lower buckets into floor = max_idx - bins + 1;
    collapsing-highest mirrors it. The two stores (side = +-1) collapse
    independently, exactly like the sketch's positive/negative stores; the
    zero bucket is untouched."""
    if "collapsing" not in config.preset:
        return hist
    from pyspark.sql import Window

    mb = config.max_num_bins
    keys = list(keys)
    w = Window.partitionBy(*keys, "side")
    if "lowest" in config.preset:
        floor = F.max("idx").over(w) - F.lit(mb - 1)
        clamped = F.greatest(F.col("idx"), floor)
    else:
        ceil = F.min("idx").over(w) + F.lit(mb - 1)
        clamped = F.least(F.col("idx"), ceil)
    new_idx = F.when(F.col("side") == 0, F.col("idx")).otherwise(clamped)
    return (hist.withColumn("idx", new_idx)
            .groupBy(*keys, "side", "idx").agg(F.sum("c").alias("c")))


def ddsketch_stats_sql(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: SketchConfig = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0),
    round_digits: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Fully-JVM sketch statistics from the histogram: exact count plus
    estimated sum/avg/min/max (spec sketch.rs:70-133 semantics: min/max are
    the representative values of the extreme buckets). Collapsing presets
    apply their bucket-cap fold first (collapse_histogram), matching the
    blob path exactly."""
    proto = _require_log_mapping(config)
    m = proto.index_mapping
    keys = list(keys)
    hist = collapse_histogram(
        ddsketch_histogram(df, value_col, keys, config, weight_col),
        keys, config)
    bucket_value = (
        F.when(F.col("side") == 0, F.lit(0.0))
        .otherwise(F.col("side") * F.exp(F.col("idx") / F.lit(m.multiplier))
                   * F.lit(1.0 + m.relative_accuracy))
    )
    valued = hist.select(*keys, F.col("c"), bucket_value.alias("bv"))

    def rnd(col):
        return F.round(col, round_digits) if round_digits is not None else col

    aggs = [
        F.sum("c").cast("bigint").alias("cnt"),
        rnd(F.sum(F.col("bv") * F.col("c"))).alias("sum_est"),
        rnd(F.sum(F.col("bv") * F.col("c")) / F.sum("c")).alias("avg_est"),
        rnd(F.min("bv")).alias("min_est"),
        rnd(F.max("bv")).alias("max_est"),
    ]
    if keys:
        return valued.groupBy(*keys).agg(*aggs)
    return valued.agg(*aggs)


def ddsketch_aggregate_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    keys: Sequence[str] = (),
    config: SketchConfig = SketchConfig("logarithmic_collapsing_lowest_dense", 0.01, 2048),
) -> DataFrame:
    """One-pass multi-feature sketching: sketches for every column in
    ``value_cols``, grouped by ``keys``, from a single scan.

    ``stack()`` unpivots the features to (feature, value) rows inside the
    same whole-stage-codegen pipeline, so N features cost one scan + N times
    the bucketing arithmetic — not N jobs. Output: (feature, keys...,
    sketch, rows_in).
    """
    keys = list(keys)
    n = len(value_cols)
    stack_args = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    unpivoted = df.selectExpr(
        *keys, f"stack({n}, {stack_args}) AS (feature, _v)"
    )
    return ddsketch_aggregate_sql(unpivoted, "_v", ["feature"] + keys, config)


def ddsketch_quantiles_sql(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    quantiles: dict[str, float],
    config: SketchConfig = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0),
    round_digits: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Fully-JVM DDSketch quantiles: histogram + window-function bucket walk.

    No Python anywhere — the entire plan is Catalyst-optimizable. Walk order:
    negative store by descending index, zero bucket, positive store ascending;
    first bucket whose cumulative count exceeds rank = q*(n-1) (spec
    sketch.rs:135-171). Representative value = lower_bound*(1+ra).

    weight_col: weighted quantiles — rank runs over cumulative weight. The
    whole weighted build stays in Tungsten (sum(weight) partial aggregate);
    no raw row ever crosses a shuffle or the Arrow boundary.

    Collapsing presets (the reference's headline bounded-memory factories,
    spec sketch.rs:298-337) apply their bucket-cap fold relationally first
    (collapse_histogram) — the walk then runs over the collapsed histogram
    and matches the blob+UDF path exactly, still with zero Python operators.
    """
    keys = list(keys)
    hist = collapse_histogram(
        ddsketch_histogram(df, value_col, keys, config, weight_col),
        keys, config)
    return histogram_quantiles(hist, keys, quantiles, config, round_digits)


def histogram_quantiles(
    hist: DataFrame,
    keys: Sequence[str],
    quantiles: dict[str, float],
    config: SketchConfig,
    round_digits: int | None = None,
) -> DataFrame:
    """The window quantile walk over an EXISTING histogram DataFrame of
    (keys..., side, idx, c) — e.g. one produced by ddsketch_histogram, a
    persisted histogram table, or a streaming windowed aggregate. The walk
    input is bounded (<= #buckets rows per group), so every window here is
    small by construction."""
    from pyspark.sql import Window

    proto = _require_log_mapping(config)
    m = proto.index_mapping
    keys = list(keys)

    walk_order = F.col("side").asc(), F.when(
        F.col("side") == -1, -F.col("idx")).otherwise(F.col("idx")).asc()
    # ungrouped: the window input is the bounded histogram (<= #buckets
    # rows, ~2k at alpha=0.01), so a single-reducer window is fine by
    # construction. pmod(idx, 1) is a constant-valued but non-foldable
    # partition key (a bare literal gets constant-folded away and WindowExec
    # then logs its "No Partition Defined" warning on every run).
    part = list(keys) if keys else [F.pmod(F.col("idx"), F.lit(1))]
    w_cum = Window.partitionBy(*part).orderBy(*walk_order)
    w_all = Window.partitionBy(*part)

    bucket_value = (
        F.when(F.col("side") == 0, F.lit(0.0))
        .otherwise(F.col("side") * F.exp(F.col("idx") / F.lit(m.multiplier))
                   * F.lit(1.0 + m.relative_accuracy))
    )
    walked = hist.select(
        *keys,
        bucket_value.alias("bv"),
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    aggs = []
    for name, q in quantiles.items():
        est = F.min(F.when(F.col("cum") > F.lit(q) * (F.col("n") - 1), F.col("bv")))
        if round_digits is not None:
            est = F.round(est, round_digits)
        aggs.append(est.alias(name))
    if keys:
        return walked.groupBy(*keys).agg(*aggs)
    return walked.agg(*aggs)
