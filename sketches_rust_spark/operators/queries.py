"""Named engine queries + matching DuckDB oracle SQL.

Each query here is a (spark, sf_dir) -> DataFrame callable surfaced through
``__spark_entry__.queries()``; ``ORACLES`` holds the equivalent ANSI SQL the
driver runs via DuckDB on the same parquet tables. Column names and rounding
are kept identical on both sides so the driver's order-insensitive value-hash
comparison matches.

DDSketch queries use the LOG layout so the oracle can replicate the bucket
math in SQL (LogCubic needs f64 bit extraction, which SQL lacks); the
LogCubic path is covered by kernel golden vectors and Spark-level tests
instead.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ddsketch_spark import (
    SketchConfig,
    ddsketch_aggregate,
    ddsketch_avg,
    ddsketch_count,
    ddsketch_max,
    ddsketch_min,
    ddsketch_sum,
    make_quantile_udf,
)
from ..functions.ddsketch_sql import (
    ddsketch_quantiles_sql,
    ddsketch_stats_sql,
)
from ..functions.oracle import (
    ROUND_DIGITS,
    ddsketch_quantile_oracle_sql,
    ddsketch_stats_oracle_sql,
)

ALPHA = 0.01


def _cfg(alpha: float = ALPHA) -> SketchConfig:
    return SketchConfig("logarithmic_unbounded_size_dense_store", alpha, 0)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def sketch_quantile_query(
    table: str,
    value_expr: str,
    groups: list[str],
    quantiles: dict[str, float],
    alpha: float = ALPHA,
    path: str = "sql",
):
    """Quantile query. path='sql' (default): fully-JVM histogram + window
    walk — the scalable plan. path='pandas': blob UDAF pipeline (kept under
    test for parity; required for LogCubic presets)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, table).select(
            *groups, F.expr(value_expr).cast("double").alias("_v")
        )
        if path == "sql":
            return ddsketch_quantiles_sql(df, "_v", groups, quantiles,
                                          _cfg(alpha), round_digits=ROUND_DIGITS)
        agg = ddsketch_aggregate(df, "_v", groups, _cfg(alpha))
        cols = [
            F.round(make_quantile_udf(q)("sketch"), ROUND_DIGITS).alias(name)
            for name, q in quantiles.items()
        ]
        return agg.select(*groups, *cols)

    return run


def sketch_stats_query(table: str, value_expr: str, groups: list[str],
                       alpha: float = ALPHA, path: str = "sql"):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, table).select(
            *groups, F.expr(value_expr).cast("double").alias("_v")
        )
        if path == "sql":
            return ddsketch_stats_sql(df, "_v", groups, _cfg(alpha),
                                      round_digits=ROUND_DIGITS)
        agg = ddsketch_aggregate(df, "_v", groups, _cfg(alpha))
        return agg.select(
            *groups,
            ddsketch_count("sketch").cast("bigint").alias("cnt"),
            F.round(ddsketch_sum("sketch"), ROUND_DIGITS).alias("sum_est"),
            F.round(ddsketch_avg("sketch"), ROUND_DIGITS).alias("avg_est"),
            F.round(ddsketch_min("sketch"), ROUND_DIGITS).alias("min_est"),
            F.round(ddsketch_max("sketch"), ROUND_DIGITS).alias("max_est"),
        )

    return run


def hll_query(table: str, id_expr: str, groups: list[str], p: int = 14):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.sketch_udafs import hll_adapter, hll_estimate, sketch_aggregate
        df = load(spark, sf_dir, table).select(
            *groups, F.expr(id_expr).cast("long").alias("_id"))
        agg = sketch_aggregate(df, "_id", groups, hll_adapter(p=p, hash_mode="splitmix"))
        return agg.select(*groups, F.round(hll_estimate("sketch"), 2).alias("est"))
    return run



def kmv_query(table: str, id_expr: str, groups: list[str], k: int = 256):
    """KMV / bottom-k theta sketch distinct estimate per group — the
    distinct-count sketch that ALSO supports set intersections (which HLL
    cannot); retained hashes are SplitMix64, so the oracle rebuilds the
    identical bottom-k set in SQL."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.sketch_udafs import (
            kmv_adapter, kmv_estimate, sketch_aggregate)
        df = load(spark, sf_dir, table).select(
            *groups, F.expr(id_expr).cast("long").alias("_id"))
        agg = sketch_aggregate(df, "_id", groups,
                               kmv_adapter(k, hash_mode="splitmix"))
        return agg.select(*groups, F.round(kmv_estimate("sketch"), 2).alias("est"))
    return run


def kmv_intersection_query(table: str, id_expr: str, group_col: str,
                           group_a: str, group_b: str, k: int = 256):
    """Set-intersection estimate between two groups' id sets via theta
    sketches: one pass builds both groups' KMV sketches (two-level, no
    raw-row shuffle), a conditional-first pivot puts the two blobs on one
    row, and the intersection UDF scales the common retained hashes below
    the shared theta. Exact DuckDB replica of the whole computation."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.sketch_udafs import (
            kmv_adapter, kmv_intersection, sketch_aggregate)
        df = (load(spark, sf_dir, table)
              .where(F.col(group_col).isin([group_a, group_b]))
              .select(F.col(group_col).alias("_g"),
                      F.expr(id_expr).cast("long").alias("_id")))
        agg = sketch_aggregate(df, "_id", ["_g"],
                               kmv_adapter(k, hash_mode="splitmix"))
        both = agg.agg(
            F.first(F.when(F.col("_g") == group_a, F.col("sketch")),
                    ignorenulls=True).alias("_sa"),
            F.first(F.when(F.col("_g") == group_b, F.col("sketch")),
                    ignorenulls=True).alias("_sb"))
        return both.select(
            F.round(kmv_intersection("_sa", "_sb"), 2).alias("est_common"))
    return run


def kmv_difference_query(table: str, id_expr: str, group_col: str,
                         group_a: str, group_b: str, k: int = 256):
    """Set-difference estimate |A ∖ B| between two groups' id sets — the
    remaining theta-sketch set operation (union = merge, intersection
    above): one pass builds both KMV sketches, the difference UDF counts
    retained A hashes below the common theta absent from B and scales.
    Exact DuckDB replica of the whole computation."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.sketch_udafs import (
            kmv_adapter, kmv_difference, sketch_aggregate)
        df = (load(spark, sf_dir, table)
              .where(F.col(group_col).isin([group_a, group_b]))
              .select(F.col(group_col).alias("_g"),
                      F.expr(id_expr).cast("long").alias("_id")))
        agg = sketch_aggregate(df, "_id", ["_g"],
                               kmv_adapter(k, hash_mode="splitmix"))
        both = agg.agg(
            F.first(F.when(F.col("_g") == group_a, F.col("sketch")),
                    ignorenulls=True).alias("_sa"),
            F.first(F.when(F.col("_g") == group_b, F.col("sketch")),
                    ignorenulls=True).alias("_sb"))
        return both.select(
            F.round(kmv_difference("_sa", "_sb"), 2).alias("est_diff"))
    return run





def ddsketch_sql_surface_query(table: str, value_expr: str, group_col: str,
                               quantiles: dict[str, float],
                               alpha: float = ALPHA):
    """End-to-end SQL composition: partial blobs as a temp view, final
    merge + quantile extraction written in plain spark.sql with the
    registered ddsketch_merge / ddsketch_quantile functions."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.ddsketch_spark import (
            build_partials, register_sql_functions)
        cfg = _cfg(alpha)
        register_sql_functions(spark, cfg)
        df = load(spark, sf_dir, table).select(
            group_col, F.expr(value_expr).cast("double").alias("_v"))
        build_partials(df, "_v", [group_col], cfg).createOrReplaceTempView(
            "ddsketch_sql_parts")
        qcols = ", ".join(
            f"round(ddsketch_quantile(ddsketch_merge(sketch), {q!r}), "
            f"{ROUND_DIGITS}) AS {name}" for name, q in quantiles.items())
        return spark.sql(
            f"SELECT {group_col}, {qcols} FROM ddsketch_sql_parts "
            f"GROUP BY {group_col}")
    return run


def _probe_df(spark: SparkSession, probes: list[int]):
    import numpy as np
    from ..kernel.bits import splitmix64
    hashes = splitmix64(np.array(probes, dtype=np.uint64)).view(np.int64)
    return spark.createDataFrame(
        [(int(p), int(h)) for p, h in zip(probes, hashes)], ["probe", "_h"])


def cms_probe_query(table: str, id_expr: str, probes: list[int],
                    depth: int = 5, width: int = 4096, where: str = ""):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.sketch_udafs import (
            cms_adapter, cms_point_estimate, sketch_aggregate)
        df = load(spark, sf_dir, table)
        if where:
            df = df.where(where)
        df = df.select(F.expr(id_expr).cast("long").alias("_id"))
        agg = sketch_aggregate(df, "_id", [], cms_adapter(depth, width, "splitmix"))
        return (_probe_df(spark, probes)
                .crossJoin(F.broadcast(agg.select("sketch")))
                .select("probe", cms_point_estimate("sketch", "_h").alias("est")))
    return run


def bloom_probe_query(table: str, id_expr: str, probes: list[int],
                      m_bits: int = 1 << 18, k: int = 7, where: str = ""):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.sketch_udafs import (
            bloom_adapter, bloom_might_contain, sketch_aggregate)
        df = load(spark, sf_dir, table)
        if where:
            df = df.where(where)
        df = df.select(F.expr(id_expr).cast("long").alias("_id"))
        agg = sketch_aggregate(df, "_id", [], bloom_adapter(m_bits, k, "splitmix"))
        return (_probe_df(spark, probes)
                .crossJoin(F.broadcast(agg.select("sketch")))
                .select("probe", bloom_might_contain("sketch", "_h").alias("member")))
    return run


def quantile_rank_check_query(kind: str, table: str, value_expr: str,
                              groups: list[str], quantiles: dict[str, float],
                              bound: float):
    """Hard driver signal for order-dependent quantile sketches (t-digest /
    KLL): the estimates themselves cannot be reproduced in SQL (centroid
    merging / compaction depends on input order), so the query emits
    *provably deterministic* derived columns instead — the exact per-group
    row count and, per quantile, a rank-containment boolean computed against
    the raw data in the same plan:

        #(v < est)/n <= q + bound  AND  #(v <= est)/n >= q - bound

    The DuckDB oracle asserts cnt exactly and the booleans as TRUE, so a
    sketch whose rank error exceeds ``bound`` flips the hash red. Estimate
    accuracy at tighter tolerances is covered by pytest (0.02/0.025)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.sketch_udafs import (
            kll_adapter, kll_quantile, sketch_aggregate,
            tdigest_adapter, tdigest_quantile)
        if kind == "tdigest":
            adapter, qudf = tdigest_adapter(), tdigest_quantile
        else:
            adapter, qudf = kll_adapter(), kll_quantile
        # the narrow input feeds BOTH the sketch build and the exact rank
        # recount — two scans by design, NOT cached: measured at sf0.1, the
        # column-pruned parquet re-scan is ~free while .cache() costs more
        # (kll 1.06s uncached vs 1.23-6.1s cached; the InMemoryRelation
        # write + storage reads lose to the vectorized parquet reader)
        df = (load(spark, sf_dir, table)
              .select(*groups, F.expr(value_expr).cast("double").alias("_v"))
              .where(F.col("_v").isNotNull()))
        agg = sketch_aggregate(df, "_v", groups, adapter)
        ests = agg.select(
            *groups, *[qudf("sketch", F.lit(q)).alias(f"_e_{name}")
                       for name, q in quantiles.items()])
        # one estimate row per group -> broadcast join back onto the raw rows
        joined = df.join(F.broadcast(ests), on=groups)
        n = F.count(F.lit(1))
        aggs = [n.cast("bigint").alias("cnt")]
        for name, q in quantiles.items():
            lt = F.sum((F.col("_v") < F.col(f"_e_{name}")).cast("double"))
            leq = F.sum((F.col("_v") <= F.col(f"_e_{name}")).cast("double"))
            ok = ((leq / n >= F.lit(q - bound)) & (lt / n <= F.lit(q + bound)))
            aggs.append(ok.alias(f"{name}_ok"))
        return joined.groupBy(*groups).agg(*aggs)
    return run


def quantile_rank_check_oracle_sql(table: str, value_expr: str,
                                   groups: list[str],
                                   quantiles: dict[str, float]) -> str:
    gsel = ", ".join(groups)
    oks = ", ".join(f"TRUE AS {name}_ok" for name in quantiles)
    return f"""
SELECT {gsel}, CAST(count(*) AS BIGINT) AS cnt, {oks}
FROM {table}
WHERE {value_expr} IS NOT NULL
GROUP BY {gsel}
"""


def quantile_sql_merge_rank_check_query(kind: str, table: str,
                                        value_expr: str, groups: list[str],
                                        quantiles: dict[str, float],
                                        bound: float, n_splits: int = 4):
    """The LAST merge surface under a hard signal: t-digest / KLL blobs
    merged THROUGH spark.sql (the registered <kind>_merge GROUPED_AGG UDF).
    Estimates from order-dependent sketches cannot be SQL-replicated, so —
    as in quantile_rank_check_query — the query emits exact per-group counts
    plus rank-containment booleans for the MERGED sketch's estimates. A
    merge that corrupted state (dropped centroids, mis-folded compactors)
    would push the rank error past ``bound`` and flip the hash red. The
    per-group sketches are deliberately split n_splits ways first (salt on
    the value hash) so the SQL merge folds real partials, not one blob."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.sketch_udafs import (
            kll_adapter, register_sibling_sql, sketch_aggregate,
            tdigest_adapter)
        register_sibling_sql(spark)
        adapter = tdigest_adapter() if kind == "tdigest" else kll_adapter()
        df = (load(spark, sf_dir, table)
              .select(*groups, F.expr(value_expr).cast("double").alias("_v"))
              .where(F.col("_v").isNotNull()))
        salted = df.withColumn(
            "_split", F.pmod(F.xxhash64("_v"), F.lit(n_splits)))
        parts = sketch_aggregate(salted, "_v", [*groups, "_split"], adapter)
        view = f"{kind}_sql_merge_parts"
        parts.createOrReplaceTempView(view)
        gsel = ", ".join(groups)
        qcols = ", ".join(
            f"{kind}_quantile({kind}_merge(sketch), CAST({q!r} AS DOUBLE)) "
            f"AS _e_{name}" for name, q in quantiles.items())
        ests = spark.sql(
            f"SELECT {gsel}, {qcols} FROM {view} GROUP BY {gsel}")
        joined = df.join(F.broadcast(ests), on=groups)
        n = F.count(F.lit(1))
        aggs = [n.cast("bigint").alias("cnt")]
        for name, q in quantiles.items():
            lt = F.sum((F.col("_v") < F.col(f"_e_{name}")).cast("double"))
            leq = F.sum((F.col("_v") <= F.col(f"_e_{name}")).cast("double"))
            ok = ((leq / n >= F.lit(q - bound)) & (lt / n <= F.lit(q + bound)))
            aggs.append(ok.alias(f"{name}_ok"))
        return joined.groupBy(*groups).agg(*aggs)
    return run


def weighted_quantile_query(table: str, value_expr: str, weight_expr: str,
                            groups: list[str], quantiles: dict[str, float],
                            alpha: float = ALPHA):
    """Weighted insert (documented semantics of the reference's
    accept_with_count, which itself ignores the weight — quirk Q1).
    Fully-JVM plan: bucket + sum(weight) Tungsten hash aggregate, then the
    window quantile walk over cumulative weight — no Python operator."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, table).select(
            *groups, F.expr(value_expr).alias("_v"), F.expr(weight_expr).alias("_w"))
        return ddsketch_quantiles_sql(df, "_v", groups, quantiles, _cfg(alpha),
                                      round_digits=ROUND_DIGITS, weight_col="_w")
    return run


def cubic_quantile_query(table: str, value_expr: str, groups: list[str],
                         quantiles: dict[str, float], alpha: float = ALPHA):
    """LogCubic mapping (bit-extraction log) through the pandas path,
    hash-pinned by the layout='cubic' DuckDB oracle (exact exponent /
    significand extraction via corrected floor(log2) + power-of-two
    division; see functions/oracle.py)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, table).select(
            *groups, F.expr(value_expr).cast("double").alias("_v"))
        cfg = SketchConfig("unbounded_dense", alpha, 0)
        agg = ddsketch_aggregate(df, "_v", groups, cfg)
        cols = [F.round(make_quantile_udf(q)("sketch"), ROUND_DIGITS).alias(name)
                for name, q in quantiles.items()]
        return agg.select(*groups, *cols)
    return run


def cubic_bound_check_query(table: str, value_expr: str, groups: list[str],
                            quantiles: dict[str, float],
                            alpha: float = ALPHA):
    """Hard driver signal for the LogCubic mapping (bucket math not
    SQL-expressible): DDSketch guarantees |est - x| <= alpha*x where x is
    the value at rank i = floor(q*(n-1)) + 1. Therefore, for positive data:

        count(v <= est/(1-2a)) >= i   (x <= est/(1-a) <= est/(1-2a))
        count(v <  est/(1+2a)) <  i   (x >= est/(1+a) >= est/(1+2a))

    Both counts are exact and computable against the raw rows in the same
    plan; the oracle pins cnt and asserts the booleans TRUE. A broken cubic
    interpolation (wrong bucket boundaries) would be far outside 2*alpha
    and flip the hash red."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # two scans by design, NOT cached — the column-pruned parquet
        # re-scan beats cache materialization (see quantile_rank_check_query)
        df = (load(spark, sf_dir, table)
              .select(*groups, F.expr(value_expr).cast("double").alias("_v"))
              .where(F.col("_v").isNotNull() & (F.col("_v") > 0)))
        cfg = SketchConfig("unbounded_dense", alpha, 0)  # LogCubic mapping
        agg = ddsketch_aggregate(df, "_v", groups, cfg)
        ests = agg.select(
            *groups, *[make_quantile_udf(q)("sketch").alias(f"_e_{name}")
                       for name, q in quantiles.items()])
        joined = df.join(F.broadcast(ests), on=groups)
        n = F.count(F.lit(1))
        aggs = [n.cast("bigint").alias("cnt")]
        for name, q in quantiles.items():
            est = F.col(f"_e_{name}")
            rank_i = F.floor(F.lit(q) * (n - 1)) + 1
            leq_hi = F.sum((F.col("_v") <= est / F.lit(1 - 2 * alpha)).cast("long"))
            lt_lo = F.sum((F.col("_v") < est / F.lit(1 + 2 * alpha)).cast("long"))
            aggs.append(((leq_hi >= rank_i) & (lt_lo < rank_i)).alias(f"{name}_ok"))
        return joined.groupBy(*groups).agg(*aggs)
    return run


def cubic_bound_check_oracle_sql(table: str, value_expr: str,
                                 groups: list[str],
                                 quantiles: dict[str, float]) -> str:
    gsel = ", ".join(groups)
    oks = ", ".join(f"TRUE AS {name}_ok" for name in quantiles)
    return f"""
SELECT {gsel}, CAST(count(*) AS BIGINT) AS cnt, {oks}
FROM {table}
WHERE {value_expr} IS NOT NULL AND {value_expr} > 0
GROUP BY {gsel}
"""


def pipeline_quality_dedup_sketch_query(threshold: float = 0.9,
                                        quantiles: dict[str, float] | None = None,
                                        alpha: float = ALPHA):
    """End-to-end training-data pipeline composition under ONE oracle:
    quality-score every document (scan-speed built-ins), keep docs above
    threshold, exact-dedup the survivors (min doc_id per distinct text),
    then per-lang DDSketch length quantiles on the JVM walk. Demonstrates
    the engine's stages composing into the shape a real corpus-curation
    pipeline runs — filter and dedup feed the sketch without ever leaving
    the declarative plan."""
    qs = quantiles or {"p50": 0.5, "p99": 0.99}

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .dedup import exact_dedup
        from .text import quality_score
        docs = load(spark, sf_dir, "documents")
        good = docs.where(quality_score(F.col("text")) >= threshold)
        kept = exact_dedup(good)
        df = kept.select("lang", F.length("text").cast("double").alias("_v"))
        return ddsketch_quantiles_sql(df, "_v", ["lang"], qs, _cfg(alpha),
                                      round_digits=ROUND_DIGITS)
    return run


def _pipeline_quality_dedup_subquery(threshold: float) -> str:
    """DuckDB subquery replicating quality filter + exact dedup exactly
    (same unrounded double arithmetic as text.quality_score)."""
    return f"""(
WITH feat AS (
  SELECT doc_id, lang, text,
         length(text) AS n,
         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
           / greatest(length(text), 1) AS pr,
         length(replace(text, ' ', ''))::DOUBLE
           / greatest(len(string_split(text, ' ')), 1) AS mtl
  FROM documents
),
good AS (
  SELECT doc_id, lang, text FROM feat
  WHERE ((CASE WHEN n BETWEEN 100 AND 20000 THEN 1.0
               WHEN n >= 20 THEN 0.5 ELSE 0.0 END)
       + (CASE WHEN pr <= 0.1 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END))
      / 3.0 >= {threshold!r}
),
keep AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(text))
SELECT g.lang, g.text FROM good g JOIN keep USING (doc_id))"""


def salted_quantile_query(table: str, value_expr: str, groups: list[str],
                          quantiles: dict[str, float], alpha: float = ALPHA,
                          num_salts: int = 16):
    """Grouped build through ddsketch_aggregate_salted, which is
    ddsketch_aggregate (the map-side partial leaves a salt nothing to
    spread), so the SAME unsalted quantile oracle pins it."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.ddsketch_spark import ddsketch_aggregate_salted
        df = load(spark, sf_dir, table).select(
            *groups, F.expr(value_expr).cast("double").alias("_v"))
        agg = ddsketch_aggregate_salted(df, "_v", groups, _cfg(alpha),
                                        num_salts=num_salts)
        cols = [F.round(make_quantile_udf(q)("sketch"), ROUND_DIGITS).alias(n)
                for n, q in quantiles.items()]
        return agg.select(*groups, *cols)
    return run


def multi_feature_query(quantiles: dict[str, float], alpha: float = ALPHA):
    """One-pass multi-feature sketching (ddsketch_aggregate_multi): N
    features unpivot via stack() inside the same whole-stage-codegen
    pipeline, so 3 features cost ONE scan of documents, not 3 jobs —
    the call a real feature pipeline makes most. Output: per (feature,
    lang) quantiles from the resulting blobs."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.ddsketch_sql import ddsketch_aggregate_multi
        df = load(spark, sf_dir, "documents").select(
            "lang",
            F.length("text").cast("double").alias("text_len"),
            F.size(F.split("text", " ")).cast("double").alias("n_tokens"),
            F.col("n_chars").cast("double").alias("n_chars"))
        agg = ddsketch_aggregate_multi(
            df, ["text_len", "n_tokens", "n_chars"], ["lang"], _cfg(alpha))
        cols = [F.round(make_quantile_udf(q)("sketch"), ROUND_DIGITS).alias(n)
                for n, q in quantiles.items()]
        return agg.select("feature", "lang", *cols)
    return run


def multi_feature_oracle_sql(quantiles: dict[str, float],
                             alpha: float = ALPHA) -> str:
    exprs = {"text_len": "length(text)",
             "n_tokens": "len(string_split(text, ' '))",
             "n_chars": "n_chars"}
    parts = [
        f"SELECT '{feat}' AS feature, * FROM ("
        + ddsketch_quantile_oracle_sql("documents", expr, ["lang"],
                                       quantiles, alpha)
        + ")"
        for feat, expr in exprs.items()
    ]
    return " UNION ALL ".join(parts)


# sf-independent row count for the input_hint pages table: the driver's
# oracle SQL is a fixed string, so the table it reads must not depend on
# sf_dir. Scale coverage for this pipeline lives in scripts/scaling_worker.py
# (extract_pages job) and BENCH/BASELINE.md, not in the correctness fixture.
PAGES_ROWS = 20_000

_PAGE_FEATURES = ["text_len", "token_count", "html_bytes"]


def pages_features_query(quantiles: dict[str, float], alpha: float = ALPHA,
                         num_rows: int = PAGES_ROWS):
    """The north-star pipeline on the EXACT input_hint table shape
    (url, warc_ts, html binary, text, lang): extract text FROM THE RAW HTML
    (operators/extraction.py), compute the three flagship features
    (extracted text length, whitespace token count, html byte size), and
    sketch them per lang in one scan (stack unpivot + JVM histogram path).

    Both extraction engines run (long format, `engine` column): the DuckDB
    oracle computes the same features from the fixture's STORED ``text``
    column, so a value-hash match proves the input_hint per-row invariant —
    byte-identical extracted text per url — end-to-end through the sketch,
    for the whole-stage-codegen chain AND the Arrow pandas-UDF parser seam."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.ddsketch_sql import ddsketch_aggregate_multi
        from ..sources.pages import pages_table
        from .extraction import page_features
        pages = pages_table(spark, num_rows)
        cols = [F.round(make_quantile_udf(q)("sketch"), ROUND_DIGITS).alias(n)
                for n, q in quantiles.items()]
        parts = []
        for eng in ("jvm", "pandas"):
            feats = page_features(pages, engine=eng, keep_cols=("lang",))
            agg = ddsketch_aggregate_multi(
                feats, _PAGE_FEATURES, ["lang"], _cfg(alpha))
            parts.append(agg.select(F.lit(eng).alias("engine"),
                                    "feature", "lang", *cols))
        return parts[0].unionByName(parts[1])
    return run


def pages_features_oracle_sql(quantiles: dict[str, float],
                              alpha: float = ALPHA,
                              num_rows: int = PAGES_ROWS) -> str:
    from ..sources.pages import pages_parquet_path
    src = f"read_parquet('{pages_parquet_path(num_rows)}')"
    exprs = {"text_len": "length(text)",
             "token_count": "len(string_split(text, ' '))",
             "html_bytes": "octet_length(html)"}
    parts = [
        f"SELECT '{eng}' AS engine, '{feat}' AS feature, * FROM ("
        + ddsketch_quantile_oracle_sql(src, expr, ["lang"], quantiles, alpha)
        + ")"
        for eng in ("jvm", "pandas") for feat, expr in exprs.items()
    ]
    return " UNION ALL ".join(parts)


def sketch_stats_surface_query(docs_q, events_q):
    """Both get_count/sum/avg/min/max stats proofs (documents text length;
    events centered two-sided values) in one long-format result —
    consolidation for the driver's 50-row correctness cap (see
    multimodal_all_query); each sub-proof is unchanged."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = docs_q(spark, sf_dir).select(
            F.lit("docs_textlen").alias("src"), F.col("lang").alias("key"),
            "cnt", "sum_est", "avg_est", "min_est", "max_est")
        b = events_q(spark, sf_dir).select(
            F.lit("events_centered").alias("src"),
            F.col("event_type").alias("key"),
            "cnt", "sum_est", "avg_est", "min_est", "max_est")
        return a.unionByName(b)
    return run


def sketch_stats_surface_oracle_sql(alpha: float = ALPHA) -> str:
    a = ddsketch_stats_oracle_sql("documents", "length(text)", ["lang"], alpha)
    b = ddsketch_stats_oracle_sql("events", "value - 100.0", ["event_type"], alpha)
    return f"""
WITH sub_a AS ({a}), sub_b AS ({b})
SELECT 'docs_textlen' AS src, lang AS key, cnt, sum_est, avg_est, min_est, max_est FROM sub_a
UNION ALL
SELECT 'events_centered' AS src, event_type AS key, cnt, sum_est, avg_est, min_est, max_est FROM sub_b
"""


def collapsed_quantile_query(table: str, value_expr: str, groups: list[str],
                             quantiles: dict[str, float],
                             alpha: float = ALPHA, max_bins: int = 64):
    """The reference's headline bounded-memory preset
    (logarithmic_collapsing_lowest_dense, spec sketch.rs:298-337) on the
    fully-JVM plan: histogram -> one-window collapse fold -> quantile walk,
    zero Python operators. max_bins is chosen small enough that the cap
    TRIGGERS on this data (low quantiles land in the folded floor bucket),
    so the oracle pins the collapse math itself, not just the walk."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, table).select(
            *groups, F.expr(value_expr).cast("double").alias("_v"))
        cfg = SketchConfig("logarithmic_collapsing_lowest_dense", alpha, max_bins)
        return ddsketch_quantiles_sql(df, "_v", groups, quantiles, cfg,
                                      round_digits=ROUND_DIGITS)
    return run


def streaming_quantile_query(table: str, value_expr: str, key: str,
                             quantiles: dict[str, float],
                             alpha: float = ALPHA, n_files: int = 4):
    """Structured Streaming under the hard oracle: replays the table through
    ``stream_sketch_partials`` (availableNow + maxFilesPerTrigger=1 ->
    several real micro-batches appending partial blobs), then INJECTS a
    duplicate copy of one batch's partial rows into the sink — simulating
    the retry a foreachBatch sink can see (at-least-once) — and merges with
    ``merged_stream_result``. The (keys, batch_id) dedup is what makes the
    final quantiles equal the batch oracle; without it the duplicated batch
    would double-count and flip the hash red."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from ..streaming.sketch_stream import (
            merged_stream_result, scoped_shuffle_partitions,
            stream_sketch_partials, stream_state_partitions)

        base = tempfile.mkdtemp(prefix="sketch_stream_q_")
        in_dir, sink, ckpt = f"{base}/in", f"{base}/sink", f"{base}/ckpt"
        cfg = _cfg(alpha)
        df = load(spark, sf_dir, table).select(
            key, F.expr(value_expr).cast("double").alias("_v"))
        df.repartition(n_files).write.mode("overwrite").parquet(in_dir)
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        # micro-batch-sized shuffle partitions for the replay (the session
        # value is scan-sized; see stream_state_partitions) — results are
        # partition-count-invariant (deterministic per-batch histograms)
        with scoped_shuffle_partitions(
                spark, stream_state_partitions(in_dir, n_files)):
            q = stream_sketch_partials(stream, "_v", [key], cfg, sink, ckpt)
            q.awaitTermination()
        # staged input + checkpoint are no longer needed once the stream has
        # drained; the SINK must outlive this call (the returned DataFrame
        # reads it lazily on the caller's action)
        import shutil
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        # duplicate-batch injection (retry simulation): re-append the first
        # micro-batch's partial rows verbatim
        parts = spark.read.parquet(sink)
        min_b = parts.agg(F.min("batch_id")).collect()[0][0]
        (parts.where(F.col("batch_id") == min_b)
         .write.mode("append").parquet(sink))
        merged = merged_stream_result(spark, sink, [key], cfg)
        cols = [F.round(make_quantile_udf(qv)("sketch"), ROUND_DIGITS).alias(n)
                for n, qv in quantiles.items()]
        return merged.select(key, *cols)
    return run


def stateful_streaming_query(table: str, value_expr: str, key: str,
                             quantile: float = 0.99, alpha: float = ALPHA,
                             n_files: int = 4):
    """The custom stateful operator (applyInPandasWithState; per-key state =
    the serialized sketch blob) under the hard oracle: replay the table in
    several availableNow micro-batches through stateful_sketch_stream into a
    memory sink (update mode emits the running (key, count, estimate) each
    batch), then keep each key's final state — the row with the maximum
    count. DDSketch is order-insensitive (a histogram), so the final
    estimate equals the batch build no matter how the stream was batched,
    and the plain batch quantile oracle pins it exactly."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from ..streaming.sketch_stream import (
            scoped_shuffle_partitions, stateful_sketch_stream,
            stream_state_partitions)

        base = tempfile.mkdtemp(prefix="sketch_stateful_q_")
        in_dir, ckpt = f"{base}/in", f"{base}/ckpt"
        cfg = _cfg(alpha)
        df = load(spark, sf_dir, table).select(
            key, F.expr(value_expr).cast("double").alias("_v"))
        df.repartition(n_files).write.mode("overwrite").parquet(in_dir)
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        running = stateful_sketch_stream(stream, "_v", key, cfg,
                                         quantile=quantile)
        sink_name = f"stateful_sketch_{abs(hash(base)) % (1 << 30)}"
        # micro-batch-sized state-store partition count (the per-key sketch
        # state is order-insensitive, so the result is partition-invariant)
        with scoped_shuffle_partitions(
                spark, stream_state_partitions(in_dir, n_files)):
            q = (running.writeStream.format("memory").queryName(sink_name)
                 .outputMode("update")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        # final state per key = the update row with the maximum count
        # (counts grow monotonically batch over batch)
        out = (spark.table(sink_name)
               .groupBy(F.col("key").alias(key))
               .agg(F.max("count").cast("bigint").alias("cnt"),
                    F.round(F.max_by("estimate", "count"),
                            ROUND_DIGITS).alias("est")))
        return out
    return run


def stateful_streaming_oracle_sql(table: str, value_expr: str, key: str,
                                  quantile: float,
                                  alpha: float = ALPHA) -> str:
    q = ddsketch_quantile_oracle_sql(table, value_expr, [key],
                                     {"est": quantile}, alpha)
    return f"""
WITH q AS ({q}),
c AS (
  SELECT {key}, CAST(count(*) AS BIGINT) AS cnt
  FROM {table}
  WHERE {value_expr} IS NOT NULL AND isfinite(CAST({value_expr} AS DOUBLE))
  GROUP BY {key}
)
SELECT q.{key}, c.cnt, q.est FROM q JOIN c USING ({key})
"""


def windowed_streaming_query(table: str, value_expr: str, key: str,
                             ts_col: str, quantiles: dict[str, float],
                             alpha: float = ALPHA, n_files: int = 4,
                             watermark: str = "90 days"):
    """The watermarked tumbling-window streaming aggregation under the hard
    oracle: replay the table through windowed_sketch_histogram (state-store
    groupBy(window, key, side, idx)) in availableNow micro-batches, take the
    final (max) count per histogram cell from the update-mode sink, and walk
    quantiles per (day, key) with histogram_quantiles — the SAME walk the
    batch path uses, so the per-day batch oracle pins it.

    The staged replay splits files randomly in time, so the watermark is set
    wider than the table's time span (nothing drops and the result is
    deterministic = the batch answer); watermark *lateness* semantics are
    exercised in tests/test_streaming.py, where arrival order is controlled."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import shutil
        import tempfile

        from ..functions.ddsketch_sql import histogram_quantiles
        from ..streaming.sketch_stream import (
            scoped_shuffle_partitions, stream_state_partitions,
            windowed_sketch_histogram)

        base = tempfile.mkdtemp(prefix="sketch_windowed_q_")
        in_dir, ckpt = f"{base}/in", f"{base}/ckpt"
        cfg = _cfg(alpha)
        # watermarks require TIMESTAMP (with zone); the fixture stores NTZ.
        # The cast reinterprets in the session timezone — UTC here, so day
        # windows line up with the oracle's timezone-naive date_trunc.
        df = load(spark, sf_dir, table).select(
            F.col(ts_col).cast("timestamp").alias(ts_col),
            key, F.expr(value_expr).cast("double").alias("_v"))
        df.repartition(n_files).write.mode("overwrite").parquet(in_dir)
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        hist_stream = windowed_sketch_histogram(
            stream, "_v", [key], cfg, ts_col=ts_col,
            window_duration="1 day", watermark=watermark)
        sink = f"windowed_hist_{abs(hash(base)) % (1 << 30)}"
        # micro-batch-sized state-store partition count (exact counts per
        # histogram cell are partition-invariant)
        with scoped_shuffle_partitions(
                spark, stream_state_partitions(in_dir, n_files)):
            q = (hist_stream.writeStream.format("memory").queryName(sink)
                 .outputMode("update").option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        shutil.rmtree(base, ignore_errors=True)
        # final histogram = max count per cell (streaming counts only grow)
        final = (spark.table(sink)
                 .groupBy(F.date_format(F.col("window.start"),
                                        "yyyy-MM-dd").alias("day"),
                          F.col(key), "side", "idx")
                 .agg(F.max("c").alias("c")))
        return histogram_quantiles(final, ["day", key], quantiles, cfg,
                                   ROUND_DIGITS)
    return run


def per_day_quantile_query():
    """Per-day grouped sketching (the north star's date_trunc('day', warc_ts)
    capability) over the events stream table."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, "events").select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.col("value").cast("double").alias("_v"))
        return ddsketch_quantiles_sql(df, "_v", ["day"], {"p50": 0.5, "p99": 0.99},
                                      _cfg(), round_digits=ROUND_DIGITS)
    return run


def text_features_query():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .text import repetition_stats, text_features
        df = load(spark, sf_dir, "documents")
        return repetition_stats(text_features(df)).select(
            "doc_id", "text_len", "n_tokens", "n_subtokens", "punct_ratio",
            "mean_token_len", "quality", "lang_pred", "fingerprint",
            "dup_line_frac", "dup_token_frac", "top_ngram_char_frac")
    return run


def winnow_fingerprint_query(k: int = 8, w: int = 16):
    """Rolling-hash + winnowing document fingerprints (SIGMOD'03): any
    shared substring of length >= w + k - 1 guarantees a shared fingerprint.
    Summary columns per doc; exact DuckDB oracle replays the byte math."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .text import winnow_fingerprints
        fp = winnow_fingerprints(load(spark, sf_dir, "documents"), k=k, w=w)
        return fp.select(F.col("_id").alias("doc_id"),
                         "n_fp", "fp_min", "fp_max", "fp_xor")
    return run


def exact_dup_stats_query():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .dedup import exact_dup_stats
        return exact_dup_stats(load(spark, sf_dir, "documents"))
    return run



def minhash_lsh_query(num_perm: int = 16, shingle_k: int = 3,
                      bands: int = 8, rows_per_band: int = 2,
                      id_limit: int = 1500):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .dedup import (lsh_candidate_pairs, minhash_jaccard_estimate,
                            minhash_signatures)
        df = load(spark, sf_dir, "documents").where(F.col("doc_id") < id_limit)
        sigs = minhash_signatures(df, num_perm=num_perm, shingle_k=shingle_k)
        cand = lsh_candidate_pairs(sigs, bands, rows_per_band)
        return minhash_jaccard_estimate(sigs, cand)
    return run


def ann_ivf_query(probe_ids: list[int], k: int = 10,
                  n_centroids: int = 16, n_probe: int = 4):
    """IVF (inverted-file) ANN: probe only the n_probe nearest centroid
    lists. Deterministic centroid seeds + fold cosine -> exact oracle."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .similarity import ivf_topk, make_probes
        emb = load(spark, sf_dir, "embeddings")
        probes = make_probes(spark, emb, probe_ids)
        return ivf_topk(emb, probes, k=k, n_centroids=n_centroids,
                        n_probe=n_probe)
    return run


def embedding_near_dup_query(threshold: float = 0.4, nbits: int = 6,
                             dim: int = 64, multi_probe: int = 1):
    """Embedding-cosine near-dup pairs via the bucketed (LSH Hamming-ball)
    self-join — the dedup flavor for vector columns."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .similarity import embedding_near_dup_pairs
        return embedding_near_dup_pairs(
            load(spark, sf_dir, "embeddings"), threshold, dim=dim,
            nbits=nbits, multi_probe=multi_probe)
    return run


def incremental_simhash_query(max_hamming: int = 3, n_blocks: int = 6,
                              new_mod: int = 10, new_rem: int = 7):
    """Incremental TEXT dedup against a persisted simhash signature table
    (the companion to dedup_incremental_new_shard's embedding variant):
    the corpus text is NEVER rescanned — only its 16-byte/doc (_id,
    simhash) table is read (plan-asserted in tests) — and only the new
    shard pays a text pass. Output: surviving new-shard doc_ids."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from .dedup import incremental_simhash_filter, simhash_signatures
        docs = load(spark, sf_dir, "documents")
        corpus = docs.where(F.pmod(F.col("doc_id"), F.lit(new_mod)) != new_rem)
        shard = docs.where(F.pmod(F.col("doc_id"), F.lit(new_mod)) == new_rem)
        # one-time corpus signature persist, cached per (session, sf_dir)
        # exactly like incremental_dedup_query's corpus table
        key = (id(spark), sf_dir, "simhash", new_mod, new_rem)
        sig_dir = _PERSISTED_CORPORA.get(key)
        if sig_dir is None or not os.path.isdir(sig_dir):
            sig_dir = tempfile.mkdtemp(prefix="inc_simhash_sigs_") + "/sigs"
            simhash_signatures(corpus).write.mode("overwrite").parquet(sig_dir)
            _PERSISTED_CORPORA[key] = sig_dir
        return incremental_simhash_filter(
            shard, spark.read.parquet(sig_dir),
            max_hamming=max_hamming, n_blocks=n_blocks)
    return run


def contamination_query(min_common: int = 6, shingle_k: int = 3,
                        eval_mod: int = 20, eval_rem: int = 1):
    """Benchmark-contamination detection: flag corpus docs sharing
    >= min_common shingles with any eval item. The evalset is a
    deterministic slice of the documents fixture (doc_id % eval_mod ==
    eval_rem) standing in for a held-out benchmark; the eval side is
    BROADCAST so the corpus never shuffles (plan-asserted in
    tests/test_pipeline_ops.py)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .dedup import contamination_pairs
        docs = load(spark, sf_dir, "documents")
        evalset = (docs.where(F.pmod(F.col("doc_id"), F.lit(eval_mod))
                              == eval_rem)
                   .select(F.col("doc_id").alias("item_id"), "text"))
        return contamination_pairs(docs, evalset, min_common=min_common,
                                   shingle_k=shingle_k)
    return run


def incremental_dedup_query(threshold: float = 0.3, nbits: int = 6,
                            dim: int = 64, multi_probe: int = 1,
                            new_mod: int = 10, new_rem: int = 7):
    """The daily-ingest dedup shape: a NEW shard (vec_id % new_mod ==
    new_rem) deduped against the ALREADY-PERSISTED corpus signature table
    (write_partitioned_signatures: corpus + precomputed LSH signatures,
    partitioned by signature) WITHOUT rescanning corpus rows outside the
    buckets the shard probes — the corpus scan is partition-pruned to the
    shard's probe buckets (plan-asserted in tests/test_partition_pruning.py).
    Output: surviving new-shard vec_ids."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from .similarity import (incremental_near_dup_filter,
                                 write_partitioned_signatures)
        emb = load(spark, sf_dir, "embeddings")
        corpus = emb.where(F.pmod(F.col("vec_id"), F.lit(new_mod)) != new_rem)
        shard = emb.where(F.pmod(F.col("vec_id"), F.lit(new_mod)) == new_rem)
        # one-time corpus persist, CACHED PER (session, sf_dir): at scale
        # this table already exists and amortizes over every daily shard —
        # re-running the query (bench remeasure, driver retries) must reuse
        # it, not persist (and leak) another copy
        key = (id(spark), sf_dir, "emb", new_mod, new_rem, dim, nbits)
        table = _PERSISTED_CORPORA.get(key)
        if table is None or not spark.catalog.tableExists(table):
            base = tempfile.mkdtemp(prefix="inc_dedup_corpus_")
            table = f"inc_dedup_corpus_{abs(hash(base)) % (1 << 30)}"
            write_partitioned_signatures(corpus, f"{base}/corpus", table,
                                         "embedding", dim=dim, nbits=nbits)
            _PERSISTED_CORPORA[key] = table
        return incremental_near_dup_filter(
            shard, spark.table(table), threshold, dim=dim, nbits=nbits,
            multi_probe=multi_probe)
    return run


# (session id, sf_dir, params) -> persisted corpus table/path, so repeated
# executions of the incremental-dedup queries reuse one persist per session
_PERSISTED_CORPORA: dict[tuple, str] = {}


def simhash_pairs_query(max_hamming: int = 3, n_blocks: int | None = 6):
    """n_blocks=6 (Manku multi-block, C(6,3)=20 keys of ~32 bits) is the
    scale-safe blocking: single-block 16-bit buckets emit ~92 candidates per
    true pair at sf0.1 and go quadratic at 10^9 docs. Blocking is lossless
    (pigeonhole), so the all-pairs oracle is unchanged."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .dedup import simhash_near_pairs, simhash_signatures
        sigs = simhash_signatures(load(spark, sf_dir, "documents"))
        return (simhash_near_pairs(sigs, max_hamming, n_blocks=n_blocks)
                .select("id_a", "id_b",
                        F.col("hamming").cast("long").alias("hamming")))
    return run


def keep_canonical_query(max_hamming: int = 3, n_blocks: int | None = 6):
    """End-to-end near-dup removal: simhash near-dup graph -> connected
    components -> keep the canonical (min-id) member. Round 6: components
    run on the COLLAPSED signature graph (dedup_keep_canonical_simhash),
    which is provably component-equivalent to clustering the expanded doc
    pair graph (same-signature groups are cliques; see the operator
    docstring) — the quadratic doc-pair expansion is never materialized.
    n_blocks=6: see simhash_pairs_query (lossless, ~50x fewer candidates)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .dedup import dedup_keep_canonical_simhash
        df = load(spark, sf_dir, "documents")
        return dedup_keep_canonical_simhash(
            df, max_hamming, n_blocks=n_blocks).select("doc_id")
    return run


def multimodal_all_query(every_nth: int = 2, factor: int = 2):
    """All four multimodal stages (image features, audio features, video
    frame sampling, image resize) melted into ONE long-format result so the
    whole multimodal surface fits a single driver row. The driver's
    correctness artifact records at most 50 queries (CORRECTNESS_r03 held
    exactly the first 50 of 53 registered, in registration order), so the
    four per-stage queries are consolidated; each stage is still oracled
    per-row at full fidelity — the melt loses nothing.

    Schema: (stage, media_id, metric, dval, sval); sval = '' where a stage
    has no string metric (no NULLs, keeping the driver hash unambiguous)."""

    def melt(df: DataFrame, stage: str, id_col: str,
             dcols: list[str]) -> DataFrame:
        kvs = [F.struct(F.lit(c).alias("metric"),
                        F.col(c).cast("double").alias("dval"))
               for c in dcols]
        return df.select(
            F.lit(stage).alias("stage"), F.col(id_col).alias("media_id"),
            F.explode(F.array(*kvs)).alias("kv")
        ).select("stage", "media_id", F.col("kv.metric").alias("metric"),
                 F.col("kv.dval").alias("dval"), F.lit("").alias("sval"))

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .multimodal import (decode_audio_features, decode_image_features,
                                 encode_ppm_rgb, encode_wav_pcm8,
                                 media_from_documents, resize_images,
                                 sample_video_frames)
        docs = load(spark, sf_dir, "documents")
        # REAL codec path: write genuine P6 PPM images, parse them back
        # (fake=False) — header dims + padded-raster brightness + container
        # size pin that a real image container was written and parsed
        img = decode_image_features(
            encode_ppm_rgb(media_from_documents(docs)), fake=False).select(
            "media_id", F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.round("mean_luma", 9).alias("mean_luma"), "n_bytes")
        # REAL codec path: write genuine RIFF/WAVE containers, demux them
        # with stdlib wave (fake=False) — the oracle's +44-byte n_bytes and
        # frame-count duration pin that real containers were round-tripped
        aud = decode_audio_features(
            encode_wav_pcm8(media_from_documents(docs, "audio")),
            fake=False).select(
            "media_id", F.round("duration_s", 9).alias("duration_s"),
            F.round("mean_amp", 9).alias("mean_amp"), "n_bytes")
        frames = sample_video_frames(
            media_from_documents(docs, "video"), every_nth=every_nth,
            fake=True).select(
            F.lit("frame_sample").alias("stage"),
            F.col("media_id"),
            F.col("frame_idx").cast("string").alias("metric"),
            F.length("frame").cast("double").alias("dval"),
            F.md5("frame").alias("sval"))
        rez = resize_images(
            media_from_documents(docs), factor=factor, fake=True).select(
            F.lit("image_resize").alias("stage"),
            F.col("media_id"),
            F.lit("resized").alias("metric"),
            F.col("out_bytes").cast("double").alias("dval"),
            F.md5("resized").alias("sval"))
        return (melt(img, "image_features", "media_id",
                     ["width", "height", "mean_luma", "n_bytes"])
                .unionByName(melt(aud, "audio_features", "media_id",
                                  ["duration_s", "mean_amp", "n_bytes"]))
                .unionByName(frames)
                .unionByName(rez))
    return run


def multimodal_all_oracle_sql(every_nth: int = 2, factor: int = 2) -> str:
    from .multimodal import (audio_features_oracle_sql,
                             frame_sample_oracle_sql,
                             resize_images_oracle_sql)

    def melt_sql(inner: str, stage: str, pairs: list[str]) -> str:
        arms = " UNION ALL ".join(
            f"SELECT '{stage}' AS stage, media_id, '{c}' AS metric, "
            f"CAST({c} AS DOUBLE) AS dval, '' AS sval FROM sub_{stage}"
            for c in pairs)
        return f"sub_{stage} AS ({inner})", arms

    from .multimodal import _WAV_PCM8_HEADER_BYTES, ppm_image_features_oracle_sql

    img_cte, img_sel = melt_sql(ppm_image_features_oracle_sql("documents"),
                                "image_features",
                                ["width", "height", "mean_luma", "n_bytes"])
    aud_cte, aud_sel = melt_sql(
        audio_features_oracle_sql(
            "documents", container_overhead=_WAV_PCM8_HEADER_BYTES),
        "audio_features", ["duration_s", "mean_amp", "n_bytes"])
    frm = frame_sample_oracle_sql("documents", every_nth=every_nth)
    rez = resize_images_oracle_sql("documents", factor=factor)
    return f"""
WITH {img_cte},
{aud_cte},
sub_frames AS ({frm}),
sub_resize AS ({rez})
{img_sel}
UNION ALL {aud_sel}
UNION ALL SELECT 'frame_sample' AS stage, media_id,
       CAST(frame_idx AS VARCHAR) AS metric,
       CAST(frame_bytes AS DOUBLE) AS dval, frame_md5 AS sval
FROM sub_frames
UNION ALL SELECT 'image_resize' AS stage, media_id, 'resized' AS metric,
       CAST(out_bytes AS DOUBLE) AS dval, resized_md5 AS sval
FROM sub_resize
"""


def sketch_sql_union_surface_query(table: str, id_expr: str, group_col: str,
                                   group_vals: list[str],
                                   cms_probes: list[int],
                                   bloom_probes: list[int],
                                   hll_p: int = 14, kmv_k: int = 256,
                                   cms_depth: int = 5, cms_width: int = 2048,
                                   bloom_m: int = 1 << 17, bloom_k: int = 5):
    """The four sibling-sketch SQL-merge-surface proofs (hll/kmv/cms/bloom
    blobs merged through the registered GROUPED_AGG UDFs inside spark.sql)
    in ONE long-format result — consolidation for the driver's 50-row
    correctness cap (see multimodal_all_query). Each sub-proof's SQL merge
    is unchanged; scalar estimates carry probe = -1.

    Round 6: the four per-family partial builds share ONE scan + ONE Python
    partial stage (multi_family_aggregate) instead of four of each — the
    per-(family, group) blobs are byte-identical to the per-family builds
    (order-insensitive kernels, blob equality pinned in
    tests/test_sibling_spark.py), and the materialized partials table
    (localCheckpoint; one tiny row per family x group) feeds the four temp
    views so the four spark.sql merges don't re-run the build."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.sketch_udafs import (
            bloom_adapter, cms_adapter, hll_adapter, kmv_adapter,
            multi_family_aggregate, register_sibling_sql)
        register_sibling_sql(spark, hll_p=hll_p, kmv_k=kmv_k,
                             cms_depth=cms_depth, cms_width=cms_width,
                             bloom_m=bloom_m, bloom_k=bloom_k)
        ev = load(spark, sf_dir, table).select(
            F.col(group_col).alias("_g"),
            F.expr(id_expr).cast("long").alias("_id"))
        restricted = F.col("_g").isin(group_vals)
        fams = {
            "hll": (hll_adapter(p=hll_p, hash_mode="splitmix"), restricted),
            "kmv": (kmv_adapter(kmv_k, hash_mode="splitmix"), restricted),
            "cms": (cms_adapter(cms_depth, cms_width, "splitmix"), None),
            "bloom": (bloom_adapter(bloom_m, bloom_k, "splitmix"), restricted),
        }
        parts = multi_family_aggregate(ev, "_id", ["_g"], fams).localCheckpoint()
        for fam in ("hll", "kmv", "cms", "bloom"):
            (parts.where(F.col("family") == fam).drop("family")
             .createOrReplaceTempView(f"{fam}_union_parts"))
        h = spark.sql(
            "SELECT round(hll_estimate(hll_merge(sketch)), 2) AS est "
            "FROM hll_union_parts")
        k = spark.sql(
            "SELECT round(kmv_estimate(kmv_merge(sketch)), 2) AS est "
            "FROM kmv_union_parts")
        _probe_df(spark, cms_probes).createOrReplaceTempView("cms_union_probes")
        c = spark.sql(
            "SELECT p.probe, cms_point_estimate(m.sk, p._h) AS est "
            "FROM (SELECT cms_merge(sketch) AS sk FROM cms_union_parts) m "
            "CROSS JOIN cms_union_probes p")
        _probe_df(spark, bloom_probes).createOrReplaceTempView("bloom_union_probes")
        b = spark.sql(
            "SELECT p.probe, bloom_might_contain(m.sk, p._h) AS member "
            "FROM (SELECT bloom_merge(sketch) AS sk FROM bloom_union_parts) m "
            "CROSS JOIN bloom_union_probes p")
        return (
            h.select(F.lit("hll").alias("sketch"),
                     F.lit(-1).cast("long").alias("probe"),
                     F.col("est").cast("double").alias("val"))
            .unionByName(k.select(
                F.lit("kmv").alias("sketch"),
                F.lit(-1).cast("long").alias("probe"),
                F.col("est").cast("double").alias("val")))
            .unionByName(c.select(
                F.lit("cms").alias("sketch"),
                F.col("probe").cast("long").alias("probe"),
                F.col("est").cast("double").alias("val")))
            .unionByName(b.select(
                F.lit("bloom").alias("sketch"),
                F.col("probe").cast("long").alias("probe"),
                F.when(F.col("member"), 1.0).otherwise(0.0).alias("val"))))
    return run


def sketch_sql_union_surface_oracle_sql(hll_sql: str, kmv_sql: str,
                                        cms_sql: str, bloom_sql: str) -> str:
    return f"""
WITH sub_hll AS ({hll_sql}), sub_kmv AS ({kmv_sql}),
sub_cms AS ({cms_sql}), sub_bloom AS ({bloom_sql})
SELECT 'hll' AS sketch, CAST(-1 AS BIGINT) AS probe, CAST(est AS DOUBLE) AS val FROM sub_hll
UNION ALL SELECT 'kmv' AS sketch, CAST(-1 AS BIGINT) AS probe, CAST(est AS DOUBLE) AS val FROM sub_kmv
UNION ALL SELECT 'cms' AS sketch, CAST(probe AS BIGINT) AS probe, CAST(est AS DOUBLE) AS val FROM sub_cms
UNION ALL SELECT 'bloom' AS sketch, CAST(probe AS BIGINT) AS probe,
       CASE WHEN member THEN 1.0 ELSE 0.0 END AS val FROM sub_bloom
"""


def merged_rank_checks_query(tdigest_q, kll_q):
    """Both order-dependent sketches' SQL-merge rank-check proofs (t-digest
    over events, KLL over lineitem) in one result — consolidation for the
    driver's 50-row correctness cap; the per-kind checks are unchanged."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = tdigest_q(spark, sf_dir).select(
            F.lit("tdigest").alias("kind"),
            F.col("event_type").alias("grp"),
            "cnt", "p50_ok", "p90_ok", "p99_ok")
        k = kll_q(spark, sf_dir).select(
            F.lit("kll").alias("kind"),
            F.col("l_returnflag").alias("grp"),
            "cnt", "p50_ok", "p90_ok", "p99_ok")
        return t.unionByName(k)
    return run


def merged_rank_checks_oracle_sql() -> str:
    t = quantile_rank_check_oracle_sql("events", "value", ["event_type"], _P503)
    k = quantile_rank_check_oracle_sql("lineitem", "l_extendedprice",
                                       ["l_returnflag"], _P503)
    return f"""
WITH sub_t AS ({t}), sub_k AS ({k})
SELECT 'tdigest' AS kind, event_type AS grp, cnt, p50_ok, p90_ok, p99_ok FROM sub_t
UNION ALL
SELECT 'kll' AS kind, l_returnflag AS grp, cnt, p50_ok, p90_ok, p99_ok FROM sub_k
"""


def topk_exact_surface_query(lang_q, partkey_q):
    """Both exact pruned top-k proofs in one long-format result (50-row
    driver cap; see multimodal_all_query): (kind, item-as-string, cnt,
    rank). Each sub-proof unchanged.

    The two proofs read different tables and drive independent pruning
    loops (cache + per-round collect each), so they run from a 2-thread
    pool (guide §2.6: the second proof's jobs back-fill executors idled by
    the first's driver round-trips and stage tails). Results are combined
    exactly as before; each proof's output is unchanged."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(lang_q, spark, sf_dir)
            fb = pool.submit(partkey_q, spark, sf_dir)
            ra, rb = fa.result(), fb.result()
        a = ra.select(
            F.lit("langs").alias("kind"), F.col("item").cast("string").alias("item"),
            "cnt", "rank")
        b = rb.select(
            F.lit("partkeys").alias("kind"), F.col("item").cast("string").alias("item"),
            "cnt", "rank")
        return a.unionByName(b)
    return run


def topk_exact_surface_oracle_sql(lang_sql: str, partkey_sql: str) -> str:
    return f"""
WITH sub_l AS ({lang_sql}), sub_p AS ({partkey_sql})
SELECT 'langs' AS kind, CAST(item AS VARCHAR) AS item, cnt, rank FROM sub_l
UNION ALL
SELECT 'partkeys' AS kind, CAST(item AS VARCHAR) AS item, cnt, rank FROM sub_p
"""


def ann_topk_surface_query(exact_q, lsh_q, ivf_q):
    """All three ANN strategies (exact brute-force, hyperplane LSH, IVF)
    over the same probes in one long-format result (50-row driver cap):
    (method, probe_id, vec_id, score, rank). Each sub-proof unchanged."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        parts = [q(spark, sf_dir).select(
            F.lit(m).alias("method"), "probe_id", "vec_id", "score", "rank")
            for m, q in (("exact", exact_q), ("lsh", lsh_q), ("ivf", ivf_q))]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    return run


def ann_topk_surface_oracle_sql(exact_sql: str, lsh_sql: str,
                                ivf_sql: str) -> str:
    return f"""
WITH sub_e AS ({exact_sql}), sub_l AS ({lsh_sql}), sub_i AS ({ivf_sql})
SELECT 'exact' AS method, probe_id, vec_id, score, rank FROM sub_e
UNION ALL SELECT 'lsh' AS method, probe_id, vec_id, score, rank FROM sub_l
UNION ALL SELECT 'ivf' AS method, probe_id, vec_id, score, rank FROM sub_i
"""


def cms_topk_query(table: str, item_expr: str, k: int,
                   depth: int = 5, width: int = 8192):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .topk import topk_cms
        return topk_cms(load(spark, sf_dir, table), item_expr, k,
                        depth=depth, width=width)
    return run


def ann_topk_query(probe_ids: list[int], k: int = 10):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .similarity import brute_force_topk, make_probes
        emb = load(spark, sf_dir, "embeddings")
        probes = make_probes(spark, emb, probe_ids)
        return brute_force_topk(emb, probes, k=k)
    return run


def ann_lsh_query(probe_ids: list[int], k: int = 10, nbits: int = 6,
                  dim: int = 64):
    """Bucketed approximate search with an exact DuckDB oracle: the
    hyperplanes are SplitMix64 signs, so bucket assignment + scoring is
    fully SQL-reproducible. Recall vs exact top-k is covered in pytest."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .similarity import lsh_topk, make_probes
        emb = load(spark, sf_dir, "embeddings")
        probes = make_probes(spark, emb, probe_ids)
        return lsh_topk(emb, probes, k=k, nbits=nbits, dim=dim)
    return run


def pages_host_quantile_query(quantiles: dict[str, float],
                              alpha: float = ALPHA,
                              num_rows: int = PAGES_ROWS):
    """The north-star skew story on the input_hint shape: per-URL-HOST
    grouped sketching over ``pages`` (hosts are zipfian — the hottest host
    holds a few % of the corpus) on the JVM histogram path.

    Skew handling here is the histogram path's NATIVE map-side combine:
    partial_count aggregates on (host, side, idx) inside each task, so the
    hot host's rows collapse to at most ~max_bins histogram rows per task
    BEFORE the exchange — no reducer ever sees the hot host's raw rows.
    The blob path (ddsketch_aggregate) combines map-side too: its level-1
    partial emits one blob per (group, scan partition)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..sources.pages import pages_table
        pages = pages_table(spark, num_rows)
        feats = pages.select(
            F.split("url", "/").getItem(2).alias("host"),
            F.length("text").cast("double").alias("_v"))
        return ddsketch_quantiles_sql(feats, "_v", ["host"], quantiles,
                                      _cfg(alpha), round_digits=ROUND_DIGITS)
    return run


def pages_host_quantile_oracle_sql(quantiles: dict[str, float],
                                   alpha: float = ALPHA,
                                   num_rows: int = PAGES_ROWS) -> str:
    from ..sources.pages import pages_parquet_path
    src = (f"(SELECT split_part(url, '/', 3) AS host, text "
           f"FROM read_parquet('{pages_parquet_path(num_rows)}')) AS pages_src")
    return ddsketch_quantile_oracle_sql(src, "length(text)", ["host"],
                                        quantiles, alpha)


def kmv_surface_query(table: str, id_expr: str, group_col: str,
                      group_a: str, group_b: str, diff_q, k: int = 256):
    """All three KMV/theta proofs (per-group distinct, set intersection,
    set difference) in one long-format result — consolidation for the
    driver's 50-row correctness cap; each sub-proof unchanged.

    Round 6: the per-group distinct proof and the intersection proof derive
    from the SAME per-group sketch build (one scan + one Python partial
    stage instead of two): the per-group KMV sketches of ``group_a`` /
    ``group_b`` are identical whether or not the other groups' rows were
    pre-filtered away — grouping already routes them elsewhere — so the
    intersection of the two groups' blobs from the shared build is the
    same blob-level computation the standalone proof ran."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..functions.sketch_udafs import (
            kmv_adapter, kmv_estimate, kmv_intersection, sketch_aggregate)
        df = load(spark, sf_dir, table).select(
            F.col(group_col).alias("_g"),
            F.expr(id_expr).cast("long").alias("_id"))
        agg = sketch_aggregate(df, "_id", ["_g"],
                               kmv_adapter(k, hash_mode="splitmix"))
        # one tiny row per group; materialized once, read by both proofs
        agg = agg.localCheckpoint()
        a = agg.select(
            F.lit("by_event_type").alias("proof"),
            F.col("_g").alias("key"),
            F.round(kmv_estimate("sketch"), 2).cast("double").alias("est"))
        both = agg.agg(
            F.first(F.when(F.col("_g") == group_a, F.col("sketch")),
                    ignorenulls=True).alias("_sa"),
            F.first(F.when(F.col("_g") == group_b, F.col("sketch")),
                    ignorenulls=True).alias("_sb"))
        b = both.select(
            F.lit("common_users_purchase_click").alias("proof"),
            F.lit("-").alias("key"),
            F.round(kmv_intersection("_sa", "_sb"), 2)
             .cast("double").alias("est"))
        c = diff_q(spark, sf_dir).select(
            F.lit("diff_orderkeys_r_not_n").alias("proof"),
            F.lit("-").alias("key"),
            F.col("est_diff").cast("double").alias("est"))
        return a.unionByName(b).unionByName(c)
    return run


def kmv_surface_oracle_sql(by_type_sql: str, common_sql: str,
                           diff_sql: str) -> str:
    return f"""
WITH sub_a AS ({by_type_sql}), sub_b AS ({common_sql}), sub_c AS ({diff_sql})
SELECT 'by_event_type' AS proof, event_type AS key, CAST(est AS DOUBLE) AS est FROM sub_a
UNION ALL
SELECT 'common_users_purchase_click' AS proof, '-' AS key, CAST(est_common AS DOUBLE) AS est FROM sub_b
UNION ALL
SELECT 'diff_orderkeys_r_not_n' AS proof, '-' AS key, CAST(est_diff AS DOUBLE) AS est FROM sub_c
"""


def boilerplate_removal_query(max_line_df: int = 50):
    """Line-level boilerplate removal (operators/text.py) under an exact
    oracle. The fixture texts have no newlines, so the query plants two
    site-wide boilerplate lines on doc_id residue classes (each lands in
    ~25-33% of docs, far above max_line_df) while every doc keeps its
    unique body line; the oracle recomputes line doc-frequencies and the
    kept-line reconstruction arithmetic from scratch in SQL (split/unnest/
    count), so it stays exact even where base texts carry organic exact
    duplicates (sf0.1) whose body-line frequency might cross the cap."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .text import remove_boilerplate_lines
        d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        did = F.col("doc_id")
        t = F.concat(
            F.col("text"),
            F.when(did % 3 == 0,
                   F.lit("\nall rights reserved worldwide")).otherwise(F.lit("")),
            F.when(did % 4 == 1,
                   F.lit("\nsubscribe to our newsletter")).otherwise(F.lit("")))
        d2 = d.withColumn("text", t)
        out = remove_boilerplate_lines(d2, max_line_df)
        return out.groupBy("lang").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size(F.split("text", "\n"))).cast("bigint")
             .alias("lines_before"),
            F.sum("lines_kept").cast("bigint").alias("lines_kept"),
            F.sum(F.length("cleaned")).cast("bigint").alias("len_cleaned"))
    return run


def boilerplate_removal_oracle_sql(max_line_df: int = 50) -> str:
    # line doc-frequencies recomputed from scratch; kept-doc reconstruction
    # length = sum(len(line)) + (n_kept - 1) newlines, 0 if nothing kept
    return f"""
WITH base AS (
  SELECT doc_id, lang,
         text
         || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'all rights reserved worldwide' ELSE '' END
         || CASE WHEN doc_id % 4 = 1 THEN chr(10) || 'subscribe to our newsletter' ELSE '' END AS t
  FROM documents
),
lines AS (
  SELECT doc_id, lang, unnest(string_split(t, chr(10))) AS line FROM base
),
freq AS (
  SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line
),
kept AS (
  SELECT l.doc_id, l.line FROM lines l JOIN freq f USING (line)
  WHERE f.df <= {max_line_df}
),
per_doc AS (
  SELECT doc_id, count(*) AS n_kept,
         sum(length(line)) + count(*) - 1 AS len_clean
  FROM kept GROUP BY doc_id
)
SELECT b.lang,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(length(b.t) - length(replace(b.t, chr(10), '')) + 1) AS BIGINT) AS lines_before,
       CAST(sum(coalesce(p.n_kept, 0)) AS BIGINT) AS lines_kept,
       CAST(sum(coalesce(p.len_clean, 0)) AS BIGINT) AS len_cleaned
FROM base b LEFT JOIN per_doc p USING (doc_id)
GROUP BY b.lang
"""


def dedup_jaccard_surface_query(shingle_k: int = 3, threshold: float = 0.3,
                                capped_df: int = 5):
    """Both exact n-gram Jaccard configs (uncapped verification config;
    df-capped scale path) in one long-format result — consolidation for
    the driver's 50-row cap; each sub-proof unchanged.

    The two configs share ONE materialized per-doc-distinct shingle table
    (localCheckpoint), and each config's (possibly capped) table is
    materialized before its three uses (sizes + both self-join sides).
    Re-measured round 6 with interleaved A/B at sf0.1 (4 rounds each):
    shared-checkpoint median 4.17 s vs 4.89 s recompute, min 3.73 vs 4.69 —
    the round-3 persist()-based measurement that favored recompute does not
    hold for localCheckpoint, whose read path skips the cache-storage
    columnar round-trip. At scale the sharing also removes 4 of 6 shingle
    explode passes over the corpus."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .dedup import ngram_jaccard_pairs, shingle_hashes
        docs = load(spark, sf_dir, "documents")
        # hash-partition the materialized shingle table BY THE JOIN KEY:
        # the Python shingler inherits the scan's split count (2 tasks on
        # the small fixture file), and a broadcast self-join would expand
        # its quadratic per-shingle output at that parallelism (measured
        # sf1.0: 221 s vs 13 s). Partitioning by h lifts parallelism to at
        # least defaultParallelism AND lets the self-join and the df-cap
        # window reuse the checkpoint's partitioning outright; the floor
        # keeps the scan-proportional count when the corpus is large.
        n_parts = max(spark.sparkContext.defaultParallelism,
                      docs.rdd.getNumPartitions())
        sh = (shingle_hashes(docs, "doc_id", "text", shingle_k)
              .repartition(n_parts, "h").localCheckpoint())
        un = ngram_jaccard_pairs(docs, shingle_k=shingle_k,
                                 threshold=threshold, shingles=sh)
        cp = ngram_jaccard_pairs(docs, shingle_k=shingle_k,
                                 threshold=threshold,
                                 max_shingle_df=capped_df, shingles=sh,
                                 materialize=True)
        a = un.select(
            F.lit("uncapped").alias("variant"), "id_a", "id_b", "jaccard")
        b = cp.select(
            F.lit("capped").alias("variant"), "id_a", "id_b", "jaccard")
        return a.unionByName(b)
    return run


def dedup_jaccard_surface_oracle_sql(uncapped_sql: str,
                                     capped_sql: str) -> str:
    return f"""
WITH sub_u AS ({uncapped_sql}), sub_c AS ({capped_sql})
SELECT 'uncapped' AS variant, id_a, id_b, jaccard FROM sub_u
UNION ALL
SELECT 'capped' AS variant, id_a, id_b, jaccard FROM sub_c
"""


def url_canonicalize_query(num_rows: int = PAGES_ROWS):
    """URL canonicalization (operators/urls.py) under an exact
    planted-variant oracle. The pages fixture urls are already canonical,
    so the query derives a deterministic NOISY variant per doc-number
    residue class — uppercase scheme+host plus fragment (m=1), explicit
    :443 plus tracking-only query (m=2), shuffled kept-params plus gclid
    (m=3), untouched (m=0) — and canonicalizes it. Classes 0-2 must
    round-trip to EXACTLY the original url; class 3 to url + '?a=1&b=2'.
    The oracle computes those expectations with plain string arithmetic
    (no URL logic), so any over- or under-normalization breaks the hash."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..sources.pages import pages_table
        from .urls import canonicalize_url
        pages = pages_table(spark, num_rows)
        host = F.regexp_extract("url", r"^https://([^/]+)", 1)
        path = F.regexp_extract("url", r"^https://[^/]+(/.*)$", 1)
        m = F.regexp_extract("url", r"doc(\d+)$", 1).cast("bigint") % 4
        noisy = (
            F.when(m == 1, F.concat(F.lit("HTTPS://"), F.upper(host), path,
                                    F.lit("#sec")))
            .when(m == 2, F.concat(F.lit("https://"), host, F.lit(":443"),
                                   path,
                                   F.lit("?utm_source=news&utm_medium=em")))
            .when(m == 3, F.concat(F.col("url"), F.lit("?b=2&a=1&gclid=x")))
            .otherwise(F.col("url")))
        canon = canonicalize_url(noisy)
        d = pages.select(
            "lang",
            (noisy != canon).cast("long").alias("_changed"),
            (canon.eqNullSafe(F.col("url"))).cast("long").alias("_identity"),
            F.length(canon).alias("_len"))
        return d.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_changed").cast("bigint").alias("n_changed"),
            F.sum("_identity").cast("bigint").alias("n_identity"),
            F.sum("_len").cast("bigint").alias("sum_len_canonical"))
    return run


def url_canonicalize_oracle_sql(num_rows: int = PAGES_ROWS) -> str:
    from ..sources.pages import pages_parquet_path
    # class 3's canonical = url + '?a=1&b=2' (8 chars); everything else
    # round-trips to the original url exactly
    return f"""
WITH u AS (
  SELECT lang, url,
         CAST(regexp_extract(url, 'doc([0-9]+)$', 1) AS BIGINT) % 4 AS m
  FROM read_parquet('{pages_parquet_path(num_rows)}')
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN m IN (1, 2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN m = 3 THEN 0 ELSE 1 END) AS BIGINT) AS n_identity,
       CAST(sum(length(url) + CASE WHEN m = 3 THEN 8 ELSE 0 END) AS BIGINT) AS sum_len_canonical
FROM u
GROUP BY lang
"""


def pii_redaction_query():
    """PII redaction (operators/pii.py) under an EXACT oracle. The fixture
    text has no organic PII (no digits or '@', FIXTURES.md), so the query
    plants deterministic spans derived from doc_id — one email / phone /
    IPv4 / URL each on its own doc_id residue class — then redacts with the
    real regex pipeline. The oracle recomputes counts AND the exact
    post-redaction length arithmetic from the planting rule alone (zero
    regex on the oracle side): any regex over- or under-match shifts
    len_after and breaks the hash."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .pii import redact_pii
        d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        did = F.col("doc_id")
        inj = F.concat(
            F.col("text"),
            F.when(did % 7 == 0, F.concat(
                F.lit(" contact user"), did.cast("string"),
                F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.concat(
                F.lit(" call 555-123-"),
                F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.concat(
                F.lit(" from 10.0."), (did % 256).cast("string"),
                F.lit("."), ((did * 7) % 256).cast("string"))).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.concat(
                F.lit(" see https://example.org/p/"),
                did.cast("string"))).otherwise(F.lit("")),
        )
        red = redact_pii(d.withColumn("text", inj), "text")
        return red.groupBy("lang").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_email").cast("bigint").alias("emails"),
            F.sum("n_phone").cast("bigint").alias("phones"),
            F.sum("n_ipv4").cast("bigint").alias("ips"),
            F.sum("n_url").cast("bigint").alias("urls"),
            F.sum(F.length("text")).cast("bigint").alias("len_before"),
            F.sum(F.length("redacted")).cast("bigint").alias("len_after"))
    return run


def pii_redaction_oracle_sql() -> str:
    # span = the substring the regex must match exactly; the planted
    # lead-in words (' contact ', ' call ', ...) must SURVIVE redaction.
    # Replacement tokens: [EMAIL]=7 [PHONE]=7 [IP]=4 [URL]=5 chars.
    return """
WITH inj AS (
  SELECT lang,
    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS e,
    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS p,
    CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS i,
    CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS u,
    CASE WHEN doc_id % 7 = 0 THEN length('user' || CAST(doc_id AS VARCHAR) || '@example.com') ELSE 0 END AS se,
    CASE WHEN doc_id % 5 = 0 THEN 12 ELSE 0 END AS sp,
    CASE WHEN doc_id % 11 = 0 THEN length('10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)) ELSE 0 END AS si,
    CASE WHEN doc_id % 13 = 0 THEN length('https://example.org/p/' || CAST(doc_id AS VARCHAR)) ELSE 0 END AS su,
    length(text)
      + CASE WHEN doc_id % 7 = 0 THEN 9 ELSE 0 END   -- ' contact '
      + CASE WHEN doc_id % 5 = 0 THEN 6 ELSE 0 END   -- ' call '
      + CASE WHEN doc_id % 11 = 0 THEN 6 ELSE 0 END  -- ' from '
      + CASE WHEN doc_id % 13 = 0 THEN 5 ELSE 0 END  -- ' see '
      AS len_keep
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(e) AS BIGINT) AS emails,
       CAST(sum(p) AS BIGINT) AS phones,
       CAST(sum(i) AS BIGINT) AS ips,
       CAST(sum(u) AS BIGINT) AS urls,
       CAST(sum(len_keep + se + sp + si + su) AS BIGINT) AS len_before,
       CAST(sum(len_keep + 7 * e + 7 * p + 4 * i + 5 * u) AS BIGINT) AS len_after
FROM inj
GROUP BY lang
"""


def curation_stats_surface_query(rebalance_q, vocab_q):
    """Both single-scan curation dashboards (deterministic lang rebalance;
    vocabulary stats) in one long-format result — consolidation for the
    driver's 50-row correctness cap (see multimodal_all_query); m3 = -1
    where the sub-proof has only two metrics."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = rebalance_q(spark, sf_dir).select(
            F.lit("rebalance").alias("src"), F.col("lang"),
            F.col("n_total").cast("bigint").alias("m1"),
            F.col("n_kept").cast("bigint").alias("m2"),
            F.lit(-1).cast("bigint").alias("m3"))
        b = vocab_q(spark, sf_dir).select(
            F.lit("vocab").alias("src"), F.col("lang"),
            F.col("n_tokens").cast("bigint").alias("m1"),
            F.col("n_vocab").cast("bigint").alias("m2"),
            F.col("n_hapax").cast("bigint").alias("m3"))
        return a.unionByName(b)
    return run


def curation_stats_surface_oracle_sql(rebalance_sql: str,
                                      vocab_sql: str) -> str:
    return f"""
WITH sub_r AS ({rebalance_sql}), sub_v AS ({vocab_sql})
SELECT 'rebalance' AS src, lang, CAST(n_total AS BIGINT) AS m1,
       CAST(n_kept AS BIGINT) AS m2, CAST(-1 AS BIGINT) AS m3 FROM sub_r
UNION ALL
SELECT 'vocab' AS src, lang, CAST(n_tokens AS BIGINT) AS m1,
       CAST(n_vocab AS BIGINT) AS m2, CAST(n_hapax AS BIGINT) AS m3 FROM sub_v
"""


def curation_windows_surface_query(pack_q, chunk_q):
    """Both per-doc window-arithmetic proofs (context packing; overlapping
    chunking with exact-content hashes) in one long-format result —
    consolidation for the driver's 50-row correctness cap. key = the
    sub-proof's group key rendered as a string."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = pack_q(spark, sf_dir).select(
            F.lit("pack").alias("src"),
            # coalesce on BOTH sides (oracle uses the same): concat_ws
            # SKIPS null args while SQL || propagates NULL — a NULL lang
            # would silently diverge the keys otherwise
            F.concat_ws(":", F.coalesce(F.col("lang"), F.lit("")),
                        F.col("chunk").cast("string")).alias("key"),
            F.col("n_docs").cast("bigint").alias("m1"),
            F.col("sum_tokens").cast("bigint").alias("m2"),
            F.lit(-1).cast("bigint").alias("m3"))
        b = chunk_q(spark, sf_dir).select(
            F.lit("chunks").alias("src"),
            F.col("n_chunks").cast("string").alias("key"),
            F.col("n_docs").cast("bigint").alias("m1"),
            F.col("sum_chunk_tokens").cast("bigint").alias("m2"),
            F.col("sum_chunk_hash").cast("bigint").alias("m3"))
        return a.unionByName(b)
    return run


def curation_windows_surface_oracle_sql(pack_sql: str,
                                        chunk_sql: str) -> str:
    return f"""
WITH sub_p AS ({pack_sql}), sub_c AS ({chunk_sql})
SELECT 'pack' AS src, coalesce(lang, '') || ':' || CAST(chunk AS VARCHAR) AS key,
       CAST(n_docs AS BIGINT) AS m1, CAST(sum_tokens AS BIGINT) AS m2,
       CAST(-1 AS BIGINT) AS m3 FROM sub_p
UNION ALL
SELECT 'chunks' AS src, CAST(n_chunks AS VARCHAR) AS key,
       CAST(n_docs AS BIGINT) AS m1, CAST(sum_chunk_tokens AS BIGINT) AS m2,
       CAST(sum_chunk_hash AS BIGINT) AS m3 FROM sub_c
"""


_CMS_PROBES = list(range(40))
_BLOOM_PROBES = list(range(60))
_ANN_PROBES = [0, 1, 2, 3, 4]

_P503 = {"p50": 0.5, "p90": 0.9, "p99": 0.99}

DDSKETCH_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ddsketch_textlen_by_lang": sketch_quantile_query(
        "documents", "length(text)", ["lang"], _P503),
    "ddsketch_nchars_global": sketch_quantile_query(
        "documents", "n_chars", [], {"p50": 0.5, "p99": 0.99, "p999": 0.999}),
    "ddsketch_events_value_by_type": sketch_quantile_query(
        "events", "value", ["event_type"], {"p50": 0.5, "p95": 0.95, "p99": 0.99}),
    "ddsketch_events_centered_by_type": sketch_quantile_query(
        "events", "value - 100.0", ["event_type"], _P503),
    "ddsketch_price_by_returnflag": sketch_quantile_query(
        "lineitem", "l_extendedprice", ["l_returnflag"], {"p50": 0.5, "p99": 0.99}),
    "ddsketch_events_by_day": per_day_quantile_query(),
    "ddsketch_weighted_price_by_flag": weighted_quantile_query(
        "lineitem", "l_extendedprice", "l_quantity", ["l_returnflag"],
        {"p50": 0.5, "p99": 0.99}),
    "ddsketch_collapsed_quantiles": collapsed_quantile_query(
        "documents", "length(text)", ["lang"],
        {"p01": 0.01, "p10": 0.1, "p50": 0.5, "p99": 0.99}, max_bins=64),
    "ddsketch_multi_feature_quantiles": multi_feature_query(
        {"p50": 0.5, "p99": 0.99}),
    "ddsketch_salted_textlen_by_lang": salted_quantile_query(
        "documents", "length(text)", ["lang"], {"p50": 0.5, "p99": 0.99}),
    "pipeline_quality_dedup_sketch": pipeline_quality_dedup_sketch_query(),
    "ddsketch_cubic_textlen_by_lang": cubic_quantile_query(
        "documents", "length(text)", ["lang"], _P503),
    "ddsketch_cubic_bound_check": cubic_bound_check_query(
        "documents", "length(text)", ["lang"], _P503),
    # both stats proofs in one long-format result (50-row driver cap)
    "ddsketch_stats_surface": sketch_stats_surface_query(
        sketch_stats_query("documents", "length(text)", ["lang"]),
        sketch_stats_query("events", "value - 100.0", ["event_type"])),
    # the north-star pipeline on the input_hint pages shape: extract text
    # from raw html (both engines), sketch the 3 flagship features per lang;
    # the oracle reads the STORED text column -> hash match proves the
    # byte-identical-extraction invariant end-to-end
    "pages_extract_features_quantiles": pages_features_query(
        {"p50": 0.5, "p99": 0.99}),
    "ddsketch_textlen_by_lang_pandas_path": sketch_quantile_query(
        "documents", "length(text)", ["lang"], _P503, path="pandas"),
    "streaming_quantiles_events": streaming_quantile_query(
        "events", "value", "event_type", {"p50": 0.5, "p99": 0.99}),
    "streaming_stateful_running_p99": stateful_streaming_query(
        "events", "value", "event_type", quantile=0.99),
    "streaming_windowed_daily_quantiles": windowed_streaming_query(
        "events", "value", "event_type", "ts", {"p50": 0.5, "p99": 0.99}),
    "hll_users_by_event_type": hll_query("events", "user_id", ["event_type"], p=14),
    # all four sibling SQL-merge-surface proofs in one long-format result
    # (driver records at most 50 correctness rows; see multimodal_all_query);
    # the partial builds share one scan + one Python stage (round 6)
    "sketch_sql_union_surface": sketch_sql_union_surface_query(
        "events", "user_id", "event_type", ["purchase", "click"],
        _CMS_PROBES, _BLOOM_PROBES,
        hll_p=14, kmv_k=256, cms_depth=5, cms_width=2048,
        bloom_m=1 << 17, bloom_k=5),
    "ddsketch_sql_surface_quantiles": ddsketch_sql_surface_query(
        "documents", "length(text)", "lang", {"p50": 0.5, "p99": 0.99}),
    "hll_partkeys_by_returnflag": hll_query(
        "lineitem", "l_partkey", ["l_returnflag"], p=14),
    # all three KMV/theta proofs in one long-format result (50-row cap).
    # diff = orderkeys returned (R) but never shipped-intact (N): ~26% of
    # the R set, deep in the sampled regime (11k+ distinct vs k=256) — a
    # non-degenerate difference (user_id x event_type pairs all overlap
    # fully in this fixture, so they'd pin nothing)
    "kmv_surface": kmv_surface_query(
        "events", "user_id", "event_type", "purchase", "click",
        kmv_difference_query(
            "lineitem", "l_orderkey", "l_returnflag", "R", "N", k=256),
        k=256),
    # north-star skew story on the input_hint shape: per-url-host sketch
    # over pages on the JVM histogram path, whose map-side combine absorbs
    # the hot host natively (see the builder docstring for why not salting)
    "pages_host_textlen_quantiles": pages_host_quantile_query(
        {"p50": 0.5, "p99": 0.99}),
    "cms_user_event_counts": cms_probe_query(
        "events", "user_id", _CMS_PROBES, depth=5, width=4096),
    "bloom_purchase_users": bloom_probe_query(
        "events", "user_id", _BLOOM_PROBES, m_bits=1 << 18, k=7,
        where="event_type = 'purchase'"),
    "tdigest_value_by_event_type": quantile_rank_check_query(
        "tdigest", "events", "value", ["event_type"], _P503, bound=0.03),
    "kll_price_by_returnflag": quantile_rank_check_query(
        "kll", "lineitem", "l_extendedprice", ["l_returnflag"], _P503,
        bound=0.03),
    # t-digest + KLL SQL-merge rank checks in one result (50-row driver cap)
    "sketch_sql_merge_rank_checks": merged_rank_checks_query(
        quantile_sql_merge_rank_check_query(
            "tdigest", "events", "value", ["event_type"], _P503, bound=0.03),
        quantile_sql_merge_rank_check_query(
            "kll", "lineitem", "l_extendedprice", ["l_returnflag"], _P503,
            bound=0.03)),
    "text_features_documents": text_features_query(),
    "dedup_exact_stats": exact_dup_stats_query(),
    # both exact-Jaccard configs in one long-format result (50-row cap),
    # sharing one checkpointed shingle table (see the builder docstring)
    "dedup_jaccard_surface": dedup_jaccard_surface_query(
        shingle_k=3, threshold=0.3, capped_df=5),
    # line-level boilerplate removal under a from-scratch SQL oracle
    "text_boilerplate_removal": boilerplate_removal_query(),
    "dedup_minhash_lsh_pairs": minhash_lsh_query(),
    # all three ANN strategies over the same probes, one long-format
    # result (50-row driver cap; see multimodal_all_query)
    "ann_topk_surface": ann_topk_surface_query(
        ann_topk_query(_ANN_PROBES, k=10),
        ann_lsh_query(_ANN_PROBES, k=10),
        ann_ivf_query(_ANN_PROBES, k=10, n_centroids=16, n_probe=4)),
    # both exact pruned top-k proofs, one long-format result (50-row cap)
    # the multi-partition layout the pruning proof exercises is created
    # AFTER projecting to the item column: repartition() round-robins whole
    # rows, so repartitioning the full table would shuffle every column of
    # documents/lineitem to then count one (guide §2.3 "project before the
    # exchange"); the verified exact top-k is layout-invariant either way
    "topk_exact_surface": topk_exact_surface_query(
        (lambda spark, sf_dir: __import__(
            "sketches_rust_spark.operators.topk", fromlist=["topk_exact_pruned"]
        ).topk_exact_pruned(
            load(spark, sf_dir, "documents").select("lang").repartition(7),
            "lang", 5)),
        (lambda spark, sf_dir: __import__(
            "sketches_rust_spark.operators.topk", fromlist=["topk_exact_pruned"]
        ).topk_exact_pruned(
            load(spark, sf_dir, "lineitem").select("l_partkey").repartition(9),
            "l_partkey", 10, fudge=8))),
    "dedup_simhash_near_pairs": simhash_pairs_query(max_hamming=3),
    "dedup_embedding_cosine_pairs": embedding_near_dup_query(
        threshold=0.4, nbits=6, dim=64),
    "dedup_keep_canonical_docs": keep_canonical_query(max_hamming=3),
    "dedup_incremental_new_shard": incremental_dedup_query(
        threshold=0.3, nbits=6, dim=64),
    "dedup_incremental_simhash_text": incremental_simhash_query(
        max_hamming=3, n_blocks=6),
    "contamination_evalset_overlap": contamination_query(min_common=6),
    "topk_langs_cms": cms_topk_query("documents", "lang", 3),
    # all four multimodal stages in one long-format result (50-row cap)
    "multimodal_media_stages": multimodal_all_query(every_nth=2, factor=2),
    "text_winnow_fingerprints": winnow_fingerprint_query(),
    # corpus-curation operators (training-data pipeline shapes)
    # both single-scan curation dashboards in one long-format result
    # (50-row driver cap)
    "curation_stats_surface": curation_stats_surface_query(
        (lambda spark, sf_dir: __import__(
            "sketches_rust_spark.operators.curation",
            fromlist=["rebalance_stats"]
        ).rebalance_stats(load(spark, sf_dir, "documents"), _REBALANCE_FRACS)),
        (lambda spark, sf_dir: __import__(
            "sketches_rust_spark.operators.curation", fromlist=["vocab_stats"]
        ).vocab_stats(load(spark, sf_dir, "documents")))),
    # context packing + overlapping chunking (exact per-chunk content
    # hashes) in one long-format result (50-row driver cap)
    "curation_windows_surface": curation_windows_surface_query(
        (lambda spark, sf_dir: __import__(
            "sketches_rust_spark.operators.curation",
            fromlist=["pack_context_windows"]
        ).pack_context_windows(load(spark, sf_dir, "documents"), budget=2048)),
        (lambda spark, sf_dir: __import__(
            "sketches_rust_spark.operators.curation", fromlist=["chunk_stats"]
        ).chunk_stats(load(spark, sf_dir, "documents"),
                      chunk_tokens=24, overlap_tokens=8))),
    # PII redaction under an exact planted-span oracle (operators/pii.py)
    "pii_redaction_stats": pii_redaction_query(),
    # URL canonicalization under an exact planted-variant oracle
    "url_canonicalize_stats": url_canonicalize_query(),
}

# cap the dominant language at a quarter, lightly trim the next one —
# the deterministic-rebalancing driver fixture
_REBALANCE_FRACS = {"en": 0.25, "zh": 0.8}

from ..functions.sibling_oracle import (  # noqa: E402
    bloom_oracle_sql,
    cms_oracle_sql,
    hll_oracle_sql,
    kmv_difference_oracle_sql,
    kmv_intersection_oracle_sql,
    kmv_oracle_sql,
)
from .dedup import (  # noqa: E402
    contamination_oracle_sql,
    exact_dup_stats_oracle_sql,
    incremental_simhash_oracle_sql,
    keep_canonical_oracle_sql,
    minhash_lsh_oracle_sql,
    ngram_jaccard_oracle_sql,
    simhash_pairs_oracle_sql,
)
from .similarity import (  # noqa: E402
    brute_force_topk_oracle_sql,
    embedding_near_dup_oracle_sql,
    incremental_near_dup_oracle_sql,
    ivf_topk_oracle_sql,
    lsh_topk_oracle_sql,
)
from .curation import (  # noqa: E402
    chunk_stats_oracle_sql,
    pack_context_windows_oracle_sql,
    rebalance_stats_oracle_sql,
    vocab_stats_oracle_sql,
)
from .topk import topk_cms_oracle_sql as topk_cms_oracle  # noqa: E402
from .topk import topk_exact_oracle_sql as topk_oracle  # noqa: E402
from .text import (  # noqa: E402
    text_features_oracle_sql,
    winnow_fingerprints_oracle_sql,
)

DDSKETCH_ORACLES: dict[str, str] = {
    "ddsketch_textlen_by_lang": ddsketch_quantile_oracle_sql(
        "documents", "length(text)", ["lang"], _P503, ALPHA),
    "ddsketch_nchars_global": ddsketch_quantile_oracle_sql(
        "documents", "n_chars", [], {"p50": 0.5, "p99": 0.99, "p999": 0.999}, ALPHA),
    "ddsketch_events_value_by_type": ddsketch_quantile_oracle_sql(
        "events", "value", ["event_type"], {"p50": 0.5, "p95": 0.95, "p99": 0.99}, ALPHA),
    "ddsketch_events_centered_by_type": ddsketch_quantile_oracle_sql(
        "events", "value - 100.0", ["event_type"], _P503, ALPHA),
    "ddsketch_price_by_returnflag": ddsketch_quantile_oracle_sql(
        "lineitem", "l_extendedprice", ["l_returnflag"], {"p50": 0.5, "p99": 0.99}, ALPHA),
    "ddsketch_events_by_day": ddsketch_quantile_oracle_sql(
        "(SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, value FROM events)",
        "value", ["day"], {"p50": 0.5, "p99": 0.99}, ALPHA),
    "ddsketch_weighted_price_by_flag": ddsketch_quantile_oracle_sql(
        "lineitem", "l_extendedprice", ["l_returnflag"],
        {"p50": 0.5, "p99": 0.99}, ALPHA, weight_expr="l_quantity"),
    "ddsketch_collapsed_quantiles": ddsketch_quantile_oracle_sql(
        "documents", "length(text)", ["lang"],
        {"p01": 0.01, "p10": 0.1, "p50": 0.5, "p99": 0.99}, ALPHA,
        collapse="lowest", max_bins=64),
    "ddsketch_multi_feature_quantiles": multi_feature_oracle_sql(
        {"p50": 0.5, "p99": 0.99}),
    # salted == unsalted (lossless by mergeability): the plain oracle pins it
    "ddsketch_salted_textlen_by_lang": ddsketch_quantile_oracle_sql(
        "documents", "length(text)", ["lang"], {"p50": 0.5, "p99": 0.99},
        ALPHA),
    # pipeline composition: quality filter -> exact dedup -> per-lang sketch
    "pipeline_quality_dedup_sketch": ddsketch_quantile_oracle_sql(
        _pipeline_quality_dedup_subquery(0.9), "length(text)", ["lang"],
        {"p50": 0.5, "p99": 0.99}, ALPHA),
    # LogCubic IS SQL-expressible: IEEE exponent = corrected floor(log2),
    # exact power-of-two division for the significand, cubic + Cardano in
    # the kernel's op order (oracle.py layout='cubic'; index side verified
    # exactly against the kernel on 70k+ values incl. power-of-two edges)
    "ddsketch_cubic_textlen_by_lang": ddsketch_quantile_oracle_sql(
        "documents", "length(text)", ["lang"], _P503, ALPHA, layout="cubic"),
    # ddsketch_cubic_bound_check turns the alpha guarantee into
    # deterministic booleans the oracle can pin:
    "ddsketch_cubic_bound_check": cubic_bound_check_oracle_sql(
        "documents", "length(text)", ["lang"], _P503),
    "ddsketch_stats_surface": sketch_stats_surface_oracle_sql(ALPHA),
    # stored-text features vs Spark's extracted-from-html features: the
    # match IS the input_hint byte-identical-extraction proof
    "pages_extract_features_quantiles": pages_features_oracle_sql(
        {"p50": 0.5, "p99": 0.99}),
    "ddsketch_textlen_by_lang_pandas_path": ddsketch_quantile_oracle_sql(
        "documents", "length(text)", ["lang"], _P503, ALPHA),
    # streaming partials + retry-duplicate + merge-on-read must equal the
    # one-shot batch sketch (mergeability + (keys, batch_id) dedup)
    "streaming_quantiles_events": ddsketch_quantile_oracle_sql(
        "events", "value", ["event_type"], {"p50": 0.5, "p99": 0.99}, ALPHA),
    # stateful running sketch (state = blob): final per-key state must equal
    # the batch build (DDSketch is order-insensitive), cnt exact
    "streaming_stateful_running_p99": stateful_streaming_oracle_sql(
        "events", "value", "event_type", 0.99),
    # watermarked windowed streaming histogram == batch per-(day, type) build
    "streaming_windowed_daily_quantiles": ddsketch_quantile_oracle_sql(
        "(SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, "
        "event_type, value FROM events)",
        "value", ["day", "event_type"], {"p50": 0.5, "p99": 0.99}, ALPHA),
    "hll_users_by_event_type": hll_oracle_sql("events", "user_id", ["event_type"], 14),
    # SQL-merged per-group blobs == a build over the unioned groups' rows
    # (HLL register max / bottom-k union / counter additivity / bitset OR)
    "sketch_sql_union_surface": sketch_sql_union_surface_oracle_sql(
        hll_oracle_sql("events", "user_id", [], 14,
                       where="event_type IN ('purchase', 'click')"),
        kmv_oracle_sql("events", "user_id", [], 256,
                       where="event_type IN ('purchase', 'click')"),
        cms_oracle_sql("events", "user_id", _CMS_PROBES, depth=5, width=2048),
        bloom_oracle_sql("events", "user_id", _BLOOM_PROBES,
                         m_bits=1 << 17, k=5,
                         where="event_type IN ('purchase', 'click')")),
    "ddsketch_sql_surface_quantiles": ddsketch_quantile_oracle_sql(
        "documents", "length(text)", ["lang"], {"p50": 0.5, "p99": 0.99}, ALPHA),
    "hll_partkeys_by_returnflag": hll_oracle_sql(
        "lineitem", "l_partkey", ["l_returnflag"], 14),
    "kmv_surface": kmv_surface_oracle_sql(
        kmv_oracle_sql("events", "user_id", ["event_type"], 256),
        kmv_intersection_oracle_sql(
            "events", "user_id", "event_type", "purchase", "click", 256),
        kmv_difference_oracle_sql(
            "lineitem", "l_orderkey", "l_returnflag", "R", "N", 256)),
    # plain bucket walk over the same parquet pins the per-host build
    "pages_host_textlen_quantiles": pages_host_quantile_oracle_sql(
        {"p50": 0.5, "p99": 0.99}),
    "cms_user_event_counts": cms_oracle_sql(
        "events", "user_id", _CMS_PROBES, depth=5, width=4096),
    "bloom_purchase_users": bloom_oracle_sql(
        "events", "user_id", _BLOOM_PROBES, m_bits=1 << 18, k=7,
        where="event_type = 'purchase'"),
    # tdigest/kll: estimates are input-order-dependent (not SQL-expressible),
    # but the exact counts + rank-containment booleans ARE deterministic —
    # the oracle pins cnt and asserts the bound booleans TRUE
    "tdigest_value_by_event_type": quantile_rank_check_oracle_sql(
        "events", "value", ["event_type"], _P503),
    "kll_price_by_returnflag": quantile_rank_check_oracle_sql(
        "lineitem", "l_extendedprice", ["l_returnflag"], _P503),
    # blobs merged through spark.sql (tdigest_merge/kll_merge UDAFs): same
    # exact-count + rank-containment oracle pins the merged estimates
    "sketch_sql_merge_rank_checks": merged_rank_checks_oracle_sql(),
    "text_features_documents": text_features_oracle_sql("documents", "doc_id"),
    "dedup_exact_stats": exact_dup_stats_oracle_sql("documents"),
    "dedup_jaccard_surface": dedup_jaccard_surface_oracle_sql(
        ngram_jaccard_oracle_sql("documents", "doc_id", "text", 3, 0.3),
        ngram_jaccard_oracle_sql("documents", "doc_id", "text", 3, 0.3,
                                 max_shingle_df=5)),
    # line doc-frequencies + reconstruction arithmetic recomputed in SQL
    "text_boilerplate_removal": boilerplate_removal_oracle_sql(),
    "dedup_minhash_lsh_pairs": minhash_lsh_oracle_sql(
        "(SELECT * FROM documents WHERE doc_id < 1500)", "doc_id", "text",
        16, 3, 8, 2),
    "ann_topk_surface": ann_topk_surface_oracle_sql(
        brute_force_topk_oracle_sql("embeddings", _ANN_PROBES, 10),
        lsh_topk_oracle_sql("embeddings", _ANN_PROBES, 10, nbits=6, dim=64),
        ivf_topk_oracle_sql("embeddings", _ANN_PROBES, 10,
                            n_centroids=16, n_probe=4)),
    "topk_exact_surface": topk_exact_surface_oracle_sql(
        topk_oracle("documents", "lang", 5),
        topk_oracle("lineitem", "l_partkey", 10)),
    "dedup_simhash_near_pairs": simhash_pairs_oracle_sql(
        "documents", "doc_id", "text", 3),
    "dedup_embedding_cosine_pairs": embedding_near_dup_oracle_sql(
        "embeddings", 0.4, dim=64, nbits=6, multi_probe=1),
    "dedup_keep_canonical_docs": keep_canonical_oracle_sql(
        "documents", "doc_id", "text", 3),
    "dedup_incremental_new_shard": incremental_near_dup_oracle_sql(
        "embeddings", "vec_id % 10 = 7", 0.3, dim=64, nbits=6, multi_probe=1),
    "dedup_incremental_simhash_text": incremental_simhash_oracle_sql(
        "documents", "doc_id % 10 = 7", max_hamming=3),
    "contamination_evalset_overlap": contamination_oracle_sql(
        "documents",
        "(SELECT doc_id AS item_id, text FROM documents WHERE doc_id % 20 = 1)",
        min_common=6),
    "topk_langs_cms": topk_cms_oracle("documents", "lang", 3, depth=5, width=8192),
    "multimodal_media_stages": multimodal_all_oracle_sql(every_nth=2, factor=2),
    "text_winnow_fingerprints": winnow_fingerprints_oracle_sql("documents"),
    # same constant as the query side — the pair cannot silently diverge
    "curation_stats_surface": curation_stats_surface_oracle_sql(
        rebalance_stats_oracle_sql("documents", _REBALANCE_FRACS),
        vocab_stats_oracle_sql("documents")),
    "curation_windows_surface": curation_windows_surface_oracle_sql(
        pack_context_windows_oracle_sql("documents", budget=2048),
        chunk_stats_oracle_sql("documents", chunk_tokens=24,
                               overlap_tokens=8)),
    # counts + exact length arithmetic derived from the planting rule —
    # no regex on the oracle side
    "pii_redaction_stats": pii_redaction_oracle_sql(),
    # expected canonical forms per planting class, plain string arithmetic
    "url_canonicalize_stats": url_canonicalize_oracle_sql(),
}
