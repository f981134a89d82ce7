"""Spark integration for DDSketch: mergeable aggregation as pandas/Arrow UDAFs.

Design (idiomatic Spark, SURVEY.md §1.5/§3):

* **two-level build** — DDSketch is one adapter of the shared engine
  (``engine.py``): ``mapInPandas`` partials over the scan partitions (one
  vectorized ``route_batch`` per Arrow batch, ``apply_routed`` once per
  group at the end of the partition), then a ``groupBy(keys).applyInPandas``
  blob merge. No shuffle of raw rows, ever.
* **weighted variant** — the same engine with the weight as a second
  adapter input (LogCubic presets; LOG presets take the JVM-native path in
  ``ddsketch_sql.py``). ``ddsketch_aggregate_salted`` is kept as a name for
  ``ddsketch_aggregate``: the map-side partial leaves a salt nothing to
  spread.
* **scalar extraction** — pandas UDFs over the blob column
  (``ddsketch_quantile/count/sum/min/max/avg``), registered for SQL.

The blob column is the reference wire format byte-for-byte
(/root/reference/src/sketch.rs:223-293), so sketches round-trip between this
engine, sketches-rust, and sketches-java.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf
from pyspark.sql.types import DoubleType

from ..kernel.sketch import DDSketch
from .engine import (
    SketchAdapter,
    deferred_adapter,
    merge_aggregate,
    merge_udaf,
    partial_aggregate,
    two_level_aggregate,
)


@dataclass(frozen=True)
class SketchConfig:
    """Sketch parameters, fixed per aggregation (the 'schema' of the sketch).

    preset: one of DDSketch.PRESETS (factory names mirroring the reference's
    six constructors, spec sketch.rs:297-414).
    """

    preset: str = "logarithmic_collapsing_lowest_dense"
    relative_accuracy: float = 0.01
    max_num_bins: int = 2048

    def new(self) -> DDSketch:
        return DDSketch.preset(self.preset, self.relative_accuracy, self.max_num_bins)


DEFAULT_CONFIG = SketchConfig()


def _ddsketch_adapter(config: SketchConfig) -> SketchAdapter:
    """Deferred build: per batch ONE vectorized log/route pass
    (``route_batch``); per group only (side, idx) slices are kept, and bucket
    counts are materialized once per group at the end of the partition
    (``apply_routed``) — no per-batch-per-group store bookkeeping. The
    deferred state is ~9 bytes/row of the partition, bounded by the Arrow
    partition size, not the table size."""
    router = config.new()  # only for route_batch parameters
    return deferred_adapter(
        "ddsketch", config.new,
        lambda pdf: router.route_batch(
            pdf["_in"].to_numpy(dtype=np.float64, na_value=np.nan)),
        DDSketch.apply_routed)


def build_partials(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    config: SketchConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Level-1 partial aggregation: per-partition, per-group sketch blobs.

    Runs as ``mapInPandas`` so nothing is shuffled; the output has at most
    ``num_partitions * num_groups`` rows of (keys..., sketch, rows_in).
    Column pruning: only ``keys + [value_col]`` are selected, so the parquet
    scan never reads unrelated columns. rows_in counts every row, null
    values included.
    """
    keys = list(keys)
    narrow = df.select(*keys, F.col(value_col).cast("double").alias("_in"))
    return partial_aggregate(narrow, keys, {"ddsketch": _ddsketch_adapter(config)})


def merge_partials(
    partials: DataFrame,
    keys: Sequence[str] = (),
    config: SketchConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Level-2 final merge: fold blob rows per group into one blob.

    ``decode_and_merge_with`` streams bins straight into the receiving store
    (decode *is* merge, spec store/mod.rs:92-141) — no intermediate sketches.
    """
    return merge_aggregate(partials, keys, {"ddsketch": _ddsketch_adapter(config)})


def ddsketch_aggregate(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    config: SketchConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Two-level sketch aggregation: (keys..., sketch, rows_in), one row per
    group. The only shuffle moves serialized blobs, never raw rows."""
    return merge_partials(build_partials(df, value_col, keys, config), keys, config)


def ddsketch_aggregate_weighted(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    keys: Sequence[str] = (),
    config: SketchConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Weighted sketch build: each row contributes ``weight`` to its bucket.

    The reference's accept_with_count *ignores* its count argument (quirk Q1,
    spec sketch.rs:38-56); this implements the documented weighted semantics
    (non-positive/NaN weights dropped).

    LOG presets ride the native histogram path: bucket + sum(weight) as a
    Tungsten hash aggregate (map-side partial_sum, shuffle bounded by
    groups x buckets — no raw row ever crosses the shuffle or the Arrow
    boundary), then blob assembly over the tiny histogram. LogCubic presets
    (bucket math not SQL-expressible) run the two-level engine with the
    weight as a second adapter input: still no raw-row shuffle, but every
    row crosses the Arrow boundary; prefer LOG at scale.
    """
    from .ddsketch_sql import _LOG_PRESETS, ddsketch_aggregate_sql

    keys = list(keys)
    if config.preset in _LOG_PRESETS:
        return ddsketch_aggregate_sql(df, value_col, keys, config,
                                      weight_col=weight_col)
    narrow = df.select(*keys,
                       F.col(value_col).cast("double").alias("_in"),
                       F.col(weight_col).cast("double").alias("_w"))
    # same contract as the SQL path: invalid weights drop JVM-side, so a
    # group whose every row is dropped vanishes on BOTH branches, and
    # rows_in is the accepted weight sum (== sketch count) on both
    narrow = narrow.where(F.col("_w").isNotNull() & ~F.isnan("_w")
                          & (F.col("_w") > 0))
    adapter = deferred_adapter(
        "ddsketch", config.new,
        lambda pdf: (pdf["_in"].to_numpy(np.float64, na_value=np.nan),
                     pdf["_w"].to_numpy(np.float64, na_value=np.nan)),
        DDSketch.accept_many,
        # round, don't truncate: fractional weight sums (weights are
        # doubles) would otherwise report up to 1 low per group
        count=lambda sk: int(round(sk.get_count())))
    return two_level_aggregate(narrow, keys, {"ddsketch": adapter})


def ddsketch_aggregate_salted(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: SketchConfig = DEFAULT_CONFIG,
    num_salts: int = 16,
    salt_from: str | None = None,
) -> DataFrame:
    """``ddsketch_aggregate`` under its older salted name. The level-1
    partial already combines map-side, so one group reaches level 2 as one
    blob per scan partition whatever its skew and a salt would spread
    nothing. ``num_salts`` and ``salt_from`` are kept for callers; they
    cannot change the result or the plan."""
    return ddsketch_aggregate(df, value_col, keys, config)


# ---------------------------------------------------------------------------
# Scalar extraction UDFs (blob -> statistic), usable in DataFrame and SQL.
# ---------------------------------------------------------------------------

def _decode(blob) -> DDSketch:
    return DDSketch.decode(bytes(blob))


def make_quantile_udf(quantile: float):
    @pandas_udf(DoubleType())
    def q(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else _decode(b).get_value_at_quantile(quantile)
             for b in blobs],
            dtype="float64",
        )
    return q


def _stat_udf(stat: str):
    @pandas_udf(DoubleType())
    def s(blobs: pd.Series) -> pd.Series:
        out = []
        for b in blobs:
            if b is None:
                out.append(None)
                continue
            sk = _decode(b)
            out.append(getattr(sk, f"get_{stat}")())
        return pd.Series(out, dtype="float64")
    return s


ddsketch_count = _stat_udf("count")
ddsketch_sum = _stat_udf("sum")
ddsketch_min = _stat_udf("min")
ddsketch_max = _stat_udf("max")
ddsketch_avg = _stat_udf("average")


@pandas_udf(DoubleType())
def ddsketch_quantile(blobs: pd.Series, quantiles: pd.Series) -> pd.Series:
    out = []
    for b, q in zip(blobs, quantiles):
        out.append(None if b is None else _decode(b).get_value_at_quantile(float(q)))
    return pd.Series(out, dtype="float64")


def make_merge_udaf(config: SketchConfig = DEFAULT_CONFIG):
    """GROUPED_AGG pandas UDF: SQL-composable blob merge —
    ``SELECT lang, ddsketch_merge(sketch) FROM partials GROUP BY lang``."""
    return merge_udaf(config.new)


def make_build_udaf(config: SketchConfig = DEFAULT_CONFIG):
    """GROUPED_AGG pandas UDF building a sketch from raw values in SQL.

    NOTE: unlike ddsketch_aggregate this shuffles raw rows (Spark cannot
    partial-aggregate a black-box UDAF); prefer ddsketch_aggregate at scale.
    Provided for SQL ergonomics on small/medium groups.
    """
    def build(values: pd.Series) -> bytes:
        sk = config.new()
        sk.accept_many(values.to_numpy(dtype=np.float64, na_value=np.nan))
        return sk.encode()
    return pandas_udf(build, "binary", PandasUDFType.GROUPED_AGG)


def register_sql_functions(spark: SparkSession, config: SketchConfig = DEFAULT_CONFIG) -> None:
    """Register the sketch function surface for ``spark.sql`` use."""
    spark.udf.register("ddsketch_quantile", ddsketch_quantile)
    spark.udf.register("ddsketch_count", ddsketch_count)
    spark.udf.register("ddsketch_sum", ddsketch_sum)
    spark.udf.register("ddsketch_min", ddsketch_min)
    spark.udf.register("ddsketch_max", ddsketch_max)
    spark.udf.register("ddsketch_avg", ddsketch_avg)
    spark.udf.register("ddsketch_merge", make_merge_udaf(config))
    spark.udf.register("ddsketch_build", make_build_udaf(config))

