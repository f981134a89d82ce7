"""The four workloads. Each one writes its input from the seed, computes the
exact answers once, sets the program up, and hands the loop one op at a time.

* ingest      — repeated grouped builds: the write path.
* serve       — short merge-on-read queries over a stored partial-blob table.
* incremental — shards land one at a time; streams, checkpoint job, merge.
* curate      — the curation pipeline over a corpus with planted duplicates.

Why each exists, and what each should move, is in README.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from inputs import (corpus_frame, features_frame, rng_for, shard_frame,
                    write_parquet)
from oracle import Checker, CheckFailed, Groups, minhash_lsh

QS = (0.5, 0.9, 0.99)


@dataclass
class Op:
    name: str
    rows: int                       # input rows the op consumes
    run: Callable[[Any], Any]       # run(tracer) -> output, timed
    check: Callable[[Any], None]    # check(output), untimed; raises CheckFailed


def alpha_of(config) -> float:
    return config.new().index_mapping.relative_accuracy


class Workload:
    cycle = 1      # ops per cycle of the op mix
    cycle_s = 1.0  # one cycle's wall time on a quiet 4-core box; sizes the loop

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.checker = Checker()
        os.makedirs(work, exist_ok=True)

    def versions(self) -> dict:
        import duckdb
        import pandas
        import pyarrow
        import pyspark
        return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                "numpy": np.__version__, "pandas": pandas.__version__,
                "duckdb": duckdb.__version__}

    def teardown(self) -> None:
        pass

    def extra_layers(self, tracer) -> dict:
        return {}

    def trace_summary(self, tracer, ops: list[dict]) -> dict:
        """Per-module entries (medians per call) and per-traced-op totals of
        the Arrow, plan and driver counters."""
        out: dict[str, float] = {}
        by_entry: dict[str, list[dict]] = {}
        for s in tracer.spans:
            by_entry.setdefault(f"{s['layer']}.{s['name']}", []).append(s)
        for entry, spans in sorted(by_entry.items()):
            out[f"{entry}.wall_s"] = statistics.median(s["end"] - s["start"] for s in spans)
            out[f"{entry}.jobs"] = statistics.median(s["jobs"] for s in spans)
            planned = [s["plan"] for s in spans if "plan" in s]
            if planned:
                out[f"{entry}.python_s"] = statistics.median(p["python_ms"] for p in planned) / 1e3
                out[f"{entry}.arrow_bytes"] = statistics.median(
                    p["python_sent_bytes"] + p["python_received_bytes"] for p in planned)
                out[f"{entry}.shuffle_bytes"] = statistics.median(p["shuffle_bytes"] for p in planned)
        traced_ops = max(1, sum(o["traced"] for o in ops))
        plans = [s["plan"] for s in tracer.spans if "plan" in s]
        out["arrow.python_s_per_op"] = sum(p["python_ms"] for p in plans) / 1e3 / traced_ops
        out["arrow.bytes_per_op"] = sum(
            p["python_sent_bytes"] + p["python_received_bytes"] for p in plans) / traced_ops
        out["plan.shuffle_bytes_per_op"] = sum(p["shuffle_bytes"] for p in plans) / traced_ops
        out["plan.fetch_wait_s_per_op"] = sum(p["fetch_wait_ms"] for p in plans) / 1e3 / traced_ops
        out["driver.jobs_per_op"] = sum(s["jobs"] for s in tracer.spans) / traced_ops
        out["driver.tasks_per_op"] = sum(s["tasks"] for s in tracer.spans) / traced_ops
        out.update(self.extra_layers(tracer))
        return out

    # -- shared checks ----------------------------------------------------------

    def check_blobs(self, what: str, blobs: dict, rows_in: dict, groups: Groups,
                    sample, alpha: float, qs=QS) -> None:
        """Exact key set and per-group counts; quantiles on ``sample`` keys."""
        self.checker.equal(f"{what} keys", set(blobs), set(groups.values))
        for key, n in rows_in.items():
            self.checker.equal(f"{what} rows_in[{key}]", n, groups.count(key))
        for key in sample:
            self.checker.ddsketch_blob(f"{what}[{key}]", blobs[key], groups, key, qs, alpha)


def _blob_rows(rows, key: str = None):
    """{key: blob}, {key: rows_in} from (key..., sketch, rows_in) rows."""
    k = (lambda r: r[key]) if key else (lambda r: ())
    return ({k(r): bytes(r["sketch"]) for r in rows}, {k(r): r["rows_in"] for r in rows})


def _sample(rng, keys, n: int, always=()) -> list:
    keys = sorted(keys)
    picked = set(always) | set(rng.choice(keys, size=min(n, len(keys)), replace=False).tolist())
    return sorted(picked)


# =============================================================================
# ingest
# =============================================================================

class Ingest(Workload):
    """Repeated grouped builds over one generated feature table."""

    ROWS, HOSTS, FILES, ROW_GROUP = 80_000, 200, 8, 2_048
    HOST_SAMPLE = 40
    cycle_s = 6.5

    def generate(self) -> dict:
        from sketches_rust_spark.functions.ddsketch_spark import SketchConfig
        from sketches_rust_spark.kernel.bits import splitmix64
        from sketches_rust_spark.kernel.bloom import BloomFilter
        from sketches_rust_spark.kernel.cms import CountMinSketch
        from sketches_rust_spark.kernel.hll import HyperLogLog
        from sketches_rust_spark.kernel.kmv import KMV

        rng = rng_for(self.seed, "ingest")
        df = features_frame(rng, self.ROWS, self.HOSTS)
        self.path = os.path.join(self.work, "features")
        stamp = write_parquet(df, self.path, self.FILES, self.ROW_GROUP)
        lang, host = df["lang"].to_numpy(), df["host"].to_numpy()
        v = df["text_len"].to_numpy()
        self.values, self.ids = v, df["doc_id"].to_numpy()
        self.by_lang = Groups(lang, v)
        self.by_lang_w = Groups(lang, v, df["weight"].to_numpy())
        self.by_host = Groups(host, v)
        self.by_feature = {f: Groups(lang, df[f].to_numpy())
                           for f in ("text_len", "token_count", "html_bytes")}
        top = Counter(host).most_common(3)
        self.hosts = _sample(rng, self.by_host.values, self.HOST_SAMPLE, [h for h, _ in top])
        self.langs = sorted(self.by_lang.values)
        self.cfg_log = SketchConfig()
        self.cfg_unbounded = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0)
        self.cfg_cubic = SketchConfig("collapsing_lowest_dense", 0.01, 2048)
        # expected order-insensitive blobs, built in process by the kernels
        families = {
            "hll": lambda: HyperLogLog(12), "kmv": lambda: KMV(256),
            "cms": lambda: CountMinSketch(5, 2048), "bloom": lambda: BloomFilter(1 << 16, 5)}
        hashes = splitmix64(self.ids.view(np.uint64))
        self.family_blobs = {}
        for name, new in families.items():
            for g in self.langs:
                sk = new()
                sk.add_hashes(hashes[lang == g])
                self.family_blobs[(name, g)] = sk.encode()
        self.lang_counts = Counter(lang)
        return stamp

    def kernel_inputs(self):
        return self.values, self.ids

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F
        from sketches_rust_spark.functions import ddsketch_spark as ds
        from sketches_rust_spark.functions import ddsketch_sql as dq
        from sketches_rust_spark.functions import sketch_udafs as su

        df = spark.read.parquet(self.path)
        n = self.ROWS
        log, unb, cub = self.cfg_log, self.cfg_unbounded, self.cfg_cubic
        fams = {
            "hll": (su.hll_adapter(12, "splitmix"), None),
            "kmv": (su.kmv_adapter(256, "splitmix"), None),
            "cms": (su.cms_adapter(5, 2048, "splitmix"), None),
            "bloom": (su.bloom_adapter(1 << 16, 5, "splitmix"), None),
        }

        def build_op(name, make, check):
            return Op(name, n, lambda tr: tr.collect("functions", name, make), check)

        def dd_op(name, make, key, groups, sample, cfg):
            def check(rows):
                blobs, rows_in = _blob_rows(rows, key)
                self.check_blobs(name, blobs, rows_in, groups, sample, alpha_of(cfg))
            return build_op(name, make, check)

        def check_quantiles(rows):
            for r in rows:
                for q, col in zip(QS, ("p50", "p90", "p99")):
                    self.checker.quantile(f"ddsketch_quantiles_sql[{r['lang']}] {col}", r[col],
                                          self.by_lang.quantile(r["lang"], q), alpha_of(unb))
            self.checker.equal("ddsketch_quantiles_sql keys",
                               sorted(r["lang"] for r in rows), self.langs)

        def check_multi(rows):
            for r in rows:
                g = self.by_feature[r["feature"]]
                self.checker.ddsketch_blob(f"ddsketch_aggregate_multi[{r['feature']},{r['lang']}]",
                                           r["sketch"], g, r["lang"], QS, alpha_of(log))
            self.checker.equal("ddsketch_aggregate_multi groups", len(rows), 3 * len(self.langs))

        def check_weighted(rows):
            for r in rows:
                self.checker.ddsketch_blob(f"ddsketch_aggregate_weighted[{r['lang']}]",
                                           r["sketch"], self.by_lang_w, r["lang"], QS,
                                           alpha_of(log), weighted=True)
            self.checker.equal("ddsketch_aggregate_weighted keys",
                               sorted(r["lang"] for r in rows), self.langs)

        def check_families(rows):
            got = {(r["family"], r["lang"]): bytes(r["sketch"]) for r in rows}
            self.checker.equal("multi_family_aggregate groups", set(got), set(self.family_blobs))
            for k, blob in self.family_blobs.items():
                if got[k] != blob:
                    raise CheckFailed(f"multi_family_aggregate{k}: blob differs from kernel build")
            for r in rows:
                self.checker.equal(f"multi_family_aggregate rows_in{r['family'], r['lang']}",
                                   r["rows_in"], self.lang_counts[r["lang"]])

        def rank_op(name, adapter, decode):
            def check(rows):
                self.checker.equal(f"{name} keys", sorted(r["lang"] for r in rows), self.langs)
                for r in rows:
                    sk = decode(bytes(r["sketch"]))
                    self.checker.equal(f"{name} rows_in[{r['lang']}]", r["rows_in"],
                                       self.by_lang.count(r["lang"]))
                    for q in QS:
                        self.checker.rank(f"{name}[{r['lang']}] q={q}", sk.quantile(q),
                                          self.by_lang.values[r["lang"]], q)
            return build_op(name, lambda: su.sketch_aggregate(df, "text_len", ["lang"], adapter),
                            check)

        from sketches_rust_spark.kernel.kll import KLL
        from sketches_rust_spark.kernel.tdigest import TDigest
        qmap = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
        self.deck = [
            dd_op("ddsketch_aggregate_sql",
                  lambda: dq.ddsketch_aggregate_sql(df, "text_len", ["host"], log),
                  "host", self.by_host, self.hosts, log),
            build_op("ddsketch_quantiles_sql",
                     lambda: dq.ddsketch_quantiles_sql(df, "text_len", ["lang"], qmap, unb),
                     check_quantiles),
            build_op("ddsketch_aggregate_multi",
                     lambda: dq.ddsketch_aggregate_multi(
                         df, ["text_len", "token_count", "html_bytes"], ["lang"], log),
                     check_multi),
            dd_op("ddsketch_aggregate_log",
                  lambda: ds.ddsketch_aggregate(df, "text_len", ["host"], log),
                  "host", self.by_host, self.hosts, log),
            dd_op("ddsketch_aggregate_cubic",
                  lambda: ds.ddsketch_aggregate(df, "text_len", ["lang"], cub),
                  "lang", self.by_lang, self.langs, cub),
            dd_op("ddsketch_aggregate_salted",
                  lambda: ds.ddsketch_aggregate_salted(df, "text_len", ["lang"], log,
                                                       salt_from="doc_id"),
                  "lang", self.by_lang, self.langs, log),
            build_op("ddsketch_aggregate_weighted",
                     lambda: ds.ddsketch_aggregate_weighted(df, "text_len", "weight", ["lang"], log),
                     check_weighted),
            build_op("multi_family_aggregate",
                     lambda: su.multi_family_aggregate(df, F.col("doc_id"), ["lang"], fams),
                     check_families),
            rank_op("sketch_aggregate_kll", su.kll_adapter(200), KLL.decode),
            rank_op("sketch_aggregate_tdigest", su.tdigest_adapter(200.0), TDigest.decode),
        ]
        self.cycle = len(self.deck)

    def op(self, i: int) -> Op:
        return self.deck[i % len(self.deck)]


# =============================================================================
# serve
# =============================================================================

class Serve(Workload):
    """Short merge-on-read queries against a stored partial-blob table."""

    ROWS, HOSTS, FILES, ROW_GROUP = 60_000, 200, 8, 2_048
    DECK = ("rollup_host", "rollup_global", "point", "point", "point",
            "quantile_udf", "sql_merge", "sql_hll")
    ROLLUP_SAMPLE = 12
    cycle = len(DECK)
    cycle_s = 4.0

    def generate(self) -> dict:
        from sketches_rust_spark.functions.ddsketch_spark import SketchConfig
        from sketches_rust_spark.kernel.bits import splitmix64
        from sketches_rust_spark.kernel.hll import HyperLogLog
        from sketches_rust_spark.kernel.kmv import KMV

        rng = rng_for(self.seed, "serve")
        df = features_frame(rng, self.ROWS, self.HOSTS)
        raw = os.path.join(self.work, "raw")
        stamp = write_parquet(df, raw, self.FILES, self.ROW_GROUP)
        self.raw = raw
        host, lang = df["host"].to_numpy(), df["lang"].to_numpy()
        v = df["text_len"].to_numpy()
        self.values, self.ids = v, df["doc_id"].to_numpy()
        self.by_host = Groups(host, v)
        self.everything = Groups(np.zeros(len(v), dtype=np.int8), v)
        counts = Counter(host)
        self.host_keys = sorted(counts)
        p = np.array([counts[h] for h in self.host_keys], dtype=np.float64)
        self.host_p = p / p.sum()  # lookups follow the hosts' zipfian traffic
        hashes = splitmix64(self.ids.view(np.uint64))
        hll, kmv = HyperLogLog(12), KMV(256)
        hll.add_hashes(hashes)
        kmv.add_hashes(hashes)
        self.distinct = (hll.estimate(), kmv.estimate())
        self.cfg = SketchConfig()
        self.rng = rng_for(self.seed, "serve-queries")
        self.order: list[str] = []
        return stamp

    def kernel_inputs(self):
        return self.values, self.ids

    def setup(self, spark) -> None:
        import pyarrow.parquet as pq
        from sketches_rust_spark.functions import ddsketch_spark as ds
        from sketches_rust_spark.functions import sketch_udafs as su

        raw = spark.read.parquet(self.raw)
        dd_path = os.path.join(self.work, "blobs_dd")
        sib_path = os.path.join(self.work, "blobs_sibling")
        ds.build_partials(raw, "text_len", ["host"], self.cfg) \
            .write.mode("overwrite").parquet(dd_path)
        su.multi_family_aggregate(raw, "doc_id", ["lang"], {
            "hll": (su.hll_adapter(12, "splitmix"), None),
            "kmv": (su.kmv_adapter(256, "splitmix"), None),
        }).write.mode("overwrite").parquet(sib_path)
        ds.register_sql_functions(spark, self.cfg)
        su.register_sibling_sql(spark, hll_p=12, kmv_k=256)
        self.spark = spark
        self.dd = spark.read.parquet(dd_path)
        self.dd.createOrReplaceTempView("dd_partials")
        sib = spark.read.parquet(sib_path)
        sib.createOrReplaceTempView("sibling_blobs")
        self.partial_rows = Counter(pq.read_table(dd_path, columns=["host"])["host"].to_pylist())
        self.sibling_rows = pq.read_metadata(sib_path).num_rows if os.path.isfile(sib_path) \
            else sum(pq.read_metadata(os.path.join(sib_path, f)).num_rows
                     for f in os.listdir(sib_path) if f.endswith(".parquet"))
        self.stored_rows = sum(self.partial_rows.values())

    def _hosts(self, k: int) -> list[str]:
        return sorted(set(self.rng.choice(self.host_keys, size=k, p=self.host_p).tolist()))

    def op(self, i: int) -> Op:
        from pyspark.sql import functions as F
        from sketches_rust_spark.functions import ddsketch_spark as ds

        if not self.order:
            self.order = list(self.rng.permutation(self.DECK))
        kind = self.order.pop()
        alpha = alpha_of(self.cfg)
        dd = self.dd

        def check_hosts(rows, sample):
            blobs, rows_in = _blob_rows(rows, "host")
            for h in sample:
                self.checker.ddsketch_blob(f"{kind}[{h}]", blobs[h], self.by_host, h, QS, alpha)
            for h, n in rows_in.items():
                self.checker.equal(f"{kind} rows_in[{h}]", n, self.by_host.count(h))
            return blobs

        if kind == "rollup_host":
            sample = _sample(self.rng, self.host_keys, self.ROLLUP_SAMPLE)

            def check(rows):
                blobs = check_hosts(rows, sample)
                self.checker.equal("rollup_host keys", len(blobs), len(self.host_keys))
            return Op(kind, self.stored_rows, lambda tr: tr.collect(
                "functions", "merge_partials", lambda: ds.merge_partials(dd, ["host"], self.cfg)),
                check)
        if kind == "rollup_global":
            def check(rows):
                blobs, rows_in = _blob_rows(rows)
                self.checker.equal("rollup_global rows_in", rows_in[()], self.everything.count(0))
                self.checker.ddsketch_blob("rollup_global", blobs[()], self.everything, 0, QS, alpha)
            return Op(kind, self.stored_rows, lambda tr: tr.collect(
                "functions", "merge_partials", lambda: ds.merge_partials(dd, [], self.cfg)),
                check)
        if kind == "point":
            (h,) = self._hosts(1)
            def check(rows):
                self.checker.equal("point keys", [r["host"] for r in rows], [h])
                check_hosts(rows, [h])
            return Op(kind, self.partial_rows[h], lambda tr: tr.collect(
                "functions", "merge_partials",
                lambda: ds.merge_partials(dd.where(F.col("host") == h), ["host"], self.cfg)),
                check)
        hosts = self._hosts(8)
        rows_in_hosts = sum(self.partial_rows[h] for h in hosts)

        def check_stats(rows, cols):
            self.checker.equal(f"{kind} keys", sorted(r["host"] for r in rows), hosts)
            for r in rows:
                self.checker.equal(f"{kind} count[{r['host']}]", r["n"],
                                   float(self.by_host.count(r["host"])))
                for col, q in cols.items():
                    self.checker.quantile(f"{kind}[{r['host']}] {col}", r[col],
                                          self.by_host.quantile(r["host"], q), alpha)

        if kind == "quantile_udf":
            def make():
                merged = ds.merge_partials(dd.where(F.col("host").isin(hosts)), ["host"], self.cfg)
                return merged.select("host",
                                     ds.make_quantile_udf(0.9)("sketch").alias("p90"),
                                     ds.ddsketch_quantile("sketch", F.lit(0.5)).alias("p50"),
                                     ds.ddsketch_count("sketch").alias("n"))
            return Op(kind, rows_in_hosts,
                      lambda tr: tr.collect("functions", "make_quantile_udf", make),
                      lambda rows: check_stats(rows, {"p90": 0.9, "p50": 0.5}))
        if kind == "sql_merge":
            in_list = ", ".join(f"'{h}'" for h in hosts)
            sql = ("SELECT host, ddsketch_quantile(m, 0.99) AS p99, ddsketch_count(m) AS n FROM ("
                   "SELECT host, ddsketch_merge(sketch) AS m FROM dd_partials "
                   f"WHERE host IN ({in_list}) GROUP BY host)")
            return Op(kind, rows_in_hosts,
                      lambda tr: tr.collect("functions", "sql.ddsketch_merge",
                                            lambda: self.spark.sql(sql)),
                      lambda rows: check_stats(rows, {"p99": 0.99}))
        sql = ("SELECT hll_estimate(hll_merge(IF(family = 'hll', sketch, NULL))) AS hll, "
               "kmv_estimate(kmv_merge(IF(family = 'kmv', sketch, NULL))) AS kmv "
               "FROM sibling_blobs")
        return Op(kind, self.sibling_rows,
                  lambda tr: tr.collect("functions", "sql.hll_merge", lambda: self.spark.sql(sql)),
                  lambda rows: self.checker.equal("sql_hll distinct estimates",
                                                  tuple(rows[0]), self.distinct))


# =============================================================================
# incremental
# =============================================================================

class Incremental(Workload):
    """Shards land one at a time; two long-running streams and the
    checkpointed job take each one in, and every few shards the merged stream
    result is read back."""

    SHARD_ROWS, ROW_GROUP, READ_EVERY = 10_000, 2_048, 2
    NUM_SHARDS = 4_096  # >= shards landed in a run, so file i is job shard i
    cycle = READ_EVERY
    cycle_s = 3.5

    def generate(self) -> dict:
        from sketches_rust_spark.functions.ddsketch_spark import SketchConfig
        self.cfg = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0)
        self.staging = os.path.join(self.work, "staging")
        self._stage(0)  # later shards are staged by op(), outside the timed run
        return {"rows_per_shard": self.SHARD_ROWS, "files_per_shard": 1,
                "row_groups_per_shard": -(-self.SHARD_ROWS // self.ROW_GROUP)}

    def _stage(self, s: int) -> str:
        path = os.path.join(self.staging, f"shard-{s:05d}.parquet")
        if not os.path.exists(path):
            tmp = os.path.join(self.staging, f"tmp-{s}")
            write_parquet(shard_frame(self.seed, s, self.SHARD_ROWS), tmp, 1, self.ROW_GROUP)
            os.rename(os.path.join(tmp, "part-00000.parquet"), path)
            os.rmdir(tmp)
        return path

    def kernel_inputs(self):
        v = np.concatenate([shard_frame(self.seed, s, self.SHARD_ROWS)["value"].to_numpy()
                            for s in range(4)])
        return v, np.arange(len(v), dtype=np.int64)

    def _stop_queries(self) -> None:
        for q in getattr(self, "queries", {}).values():
            q.stop()
        self.queries = {}

    def setup(self, spark) -> None:
        from pyspark.sql.types import DoubleType, StringType, StructField, StructType
        from sketches_rust_spark.plans.lineage import SketchCheckpointJob
        from sketches_rust_spark.streaming import sketch_stream as ss

        self._stop_queries()
        self.spark = spark
        base = os.path.join(self.work, "run")
        shutil.rmtree(base, ignore_errors=True)
        self.in_dir, self.sink = os.path.join(base, "in"), os.path.join(base, "sink")
        self.job_dir = os.path.join(base, "job")
        os.makedirs(self.in_dir)
        self.landed: list[np.ndarray] = []
        self.landed_lang: list[np.ndarray] = []
        schema = StructType([StructField("lang", StringType()), StructField("value", DoubleType())])
        stream = spark.readStream.schema(schema).parquet(self.in_dir)
        self.queries = {
            "partials": ss.stream_sketch_partials(
                stream, "value", ["lang"], self.cfg, self.sink,
                os.path.join(base, "ckpt_partials"), trigger_available_now=False),
            "stateful": ss.stateful_sketch_stream(stream, "value", "lang", self.cfg, 0.9)
            .writeStream.format("memory").queryName("running_sketches").outputMode("update")
            .option("checkpointLocation", os.path.join(base, "ckpt_stateful")).start(),
        }
        self.job = SketchCheckpointJob(spark, self.in_dir, "value", ["lang"], self.cfg,
                                       self.job_dir, num_shards=self.NUM_SHARDS)
        for q in self.queries.values():
            q.processAllAvailable()

    def _run_job(self):
        # The job persists its file-to-shard manifest on the first run and
        # never re-lists; appended files need a fresh manifest. File names
        # sort in arrival order and NUM_SHARDS exceeds the files landed, so
        # the re-derived assignment keeps every earlier shard's files.
        manifest = os.path.join(self.job_dir, "manifest.json")
        if os.path.exists(manifest):
            os.remove(manifest)
        return self.job.run(resume=True)

    def op(self, i: int) -> Op:
        from sketches_rust_spark.streaming.sketch_stream import merged_stream_result
        s = len(self.landed)
        staged = self._stage(s)
        frame = shard_frame(self.seed, s, self.SHARD_ROWS)
        read = s % self.READ_EVERY == 0

        def run(tr):
            os.rename(staged, os.path.join(self.in_dir, os.path.basename(staged)))
            self.landed.append(frame["value"].to_numpy())
            self.landed_lang.append(frame["lang"].to_numpy())
            built = tr.call("plans", "SketchCheckpointJob.run", self._run_job)
            final = tr.call("plans", "SketchCheckpointJob.finalize", self.job.finalize)
            for name, q in self.queries.items():
                tr.call("streaming", f"{name}.processAllAvailable", q.processAllAvailable)
            merged = None
            if read:
                merged = tr.collect("streaming", "merged_stream_result",
                                    lambda: merged_stream_result(self.spark, self.sink,
                                                                 ["lang"], self.cfg))
            return built, final, merged

        def check(out):
            built, final, merged = out
            self.checker.equal("SketchCheckpointJob.run shards built", len(built), 1)
            groups = Groups(np.concatenate(self.landed_lang), np.concatenate(self.landed))
            blobs, rows_in = _blob_rows(final.collect(), "lang")
            self.check_blobs("finalize", blobs, rows_in, groups, sorted(groups.values),
                             alpha_of(self.cfg))
            if merged is not None:
                got, _ = _blob_rows(merged, "lang")
                if got != blobs:
                    raise CheckFailed("merged_stream_result differs from the lineage final blobs")
                latest = {}
                for r in self.spark.table("running_sketches").collect():
                    if r["count"] > latest.get(r["key"], (0,))[0]:
                        latest[r["key"]] = (r["count"], r["estimate"])
                for key, (count, est) in latest.items():
                    self.checker.equal(f"stateful count[{key}]", count, float(groups.count(key)))
                    self.checker.quantile(f"stateful[{key}] q=0.9", est,
                                          groups.quantile(key, 0.9), alpha_of(self.cfg))
                self.checker.equal("stateful keys", set(latest), set(groups.values))
        return Op("shard", self.SHARD_ROWS, run, check)

    def extra_layers(self, tracer) -> dict:
        out = {}
        t0 = time.perf_counter()
        if self._run_job():
            raise CheckFailed("resume with no new shard rebuilt a shard")
        out["plans.resume_noop_s"] = time.perf_counter() - t0
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, files in os.walk(self.job_dir) for f in files)
        out["plans.checkpoint_bytes_per_shard"] = size / max(1, len(self.landed))
        spans = {}
        for s in tracer.spans:
            spans.setdefault(s["name"], []).append(s["end"] - s["start"])
        out["plans.shard_run_s"] = statistics.median(spans["SketchCheckpointJob.run"])
        out["plans.finalize_s"] = statistics.median(spans["SketchCheckpointJob.finalize"])
        for name, q in self.queries.items():
            progress = [json.loads(p.json) for p in q.recentProgress]
            progress = [p for p in progress if p.get("numInputRows", 0) > 0]
            tracer.add_progress(name, progress)
            for phase in ("addBatch", "walCommit", "commitOffsets", "triggerExecution"):
                out[f"streaming.{name}.{phase}_ms"] = statistics.median(
                    p["durationMs"].get(phase, 0) for p in progress)
            ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
            if ops:
                out[f"streaming.{name}.state_commit_ms"] = statistics.median(
                    o["commitTimeMs"] for o in ops)
                out[f"streaming.{name}.state_bytes"] = statistics.median(
                    o["memoryUsedBytes"] for o in ops)
        return out

    def teardown(self) -> None:
        self._stop_queries()


# =============================================================================
# curate
# =============================================================================

class Curate(Workload):
    """The curation pipeline over a corpus with planted duplicates."""

    DOCS, HOSTS, FILES, ROW_GROUP = 1_500, 150, 8, 64
    PLANTED = 30  # of each kind: exact, token-reordered, one-token edit
    MAX_HAMMING, NUM_PERM, SHINGLE_K, BANDS, ROWS_PER_BAND, TOPK = 3, 16, 3, 8, 2, 10
    cycle_s = 8.5

    def generate(self) -> dict:
        import duckdb
        from sketches_rust_spark.functions.ddsketch_spark import SketchConfig
        from sketches_rust_spark.operators import dedup

        rng = rng_for(self.seed, "curate")
        df, self.planted = corpus_frame(rng, self.DOCS, self.PLANTED, self.PLANTED,
                                        self.PLANTED, self.HOSTS)
        self.path = os.path.join(self.work, "pages")
        stamp = write_parquet(df, self.path, self.FILES, self.ROW_GROUP)
        ids, texts = df["doc_id"].to_numpy(), df["text"].tolist()
        first: dict[str, int] = {}
        for i, t in zip(ids.tolist(), texts):
            first[t] = min(i, first.get(t, i))
        self.exact_kept = set(first.values())
        lens = np.array([len(t) for t in texts], dtype=np.float64)
        self.values, self.ids = lens, ids
        self.by_lang = Groups(df["lang"].to_numpy(), lens)
        self.text_totals = (len(texts), int(lens.sum()),
                            sum(len(t.split(" ")) for t in texts))
        counts = Counter(df["host"].tolist())
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:self.TOPK]
        self.topk = [(h, c, r + 1) for r, (h, c) in enumerate(top)]
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{self.path}/*.parquet')")
            self.sim_pairs = set(map(tuple, con.execute(dedup.simhash_pairs_oracle_sql(
                "docs", "doc_id", "text", self.MAX_HAMMING)).fetchall()))
            self.sim_kept = {r[0] for r in con.execute(dedup.keep_canonical_oracle_sql(
                "docs", "doc_id", "text", self.MAX_HAMMING)).fetchall()}
        finally:
            con.close()
        lsh = minhash_lsh(ids.tolist(), texts, self.NUM_PERM, self.SHINGLE_K, self.BANDS,
                          self.ROWS_PER_BAND)
        self.lsh_pairs = set(lsh)
        self.lsh_qualifying = sum(est >= 0.5 for est in lsh.values())
        self.cfg = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0)
        return stamp | {"planted_per_kind": self.PLANTED}

    def kernel_inputs(self):
        return self.values, self.ids

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F
        from sketches_rust_spark.functions.ddsketch_sql import ddsketch_quantiles_sql
        from sketches_rust_spark.operators import dedup
        from sketches_rust_spark.operators.extraction import page_features
        from sketches_rust_spark.operators.text import text_features
        from sketches_rust_spark.operators.topk import topk_exact_pruned

        docs = spark.read.parquet(self.path)
        self.docs = docs
        n, ck = self.DOCS, self.checker
        cuts = {f"p{round(q * 100):02d}": q for q in (0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)}

        def not_both_kept(kind, kept, pairs):
            for a, b in pairs:
                if a in kept and b in kept:
                    raise CheckFailed(f"planted {kind} duplicate ({a}, {b}) kept twice")

        def features(tr):
            return tr.collect("operators", "page_features", lambda: ddsketch_quantiles_sql(
                page_features(docs, keep_cols=("doc_id", "lang")), "text_len", ["lang"],
                cuts, self.cfg))

        def check_features(rows):
            ck.equal("page_features langs", sorted(r["lang"] for r in rows),
                     sorted(self.by_lang.values))
            for r in rows:
                for col, q in cuts.items():
                    ck.quantile(f"page_features[{r['lang']}] {col}", r[col],
                                self.by_lang.quantile(r["lang"], q),
                                self.cfg.new().index_mapping.relative_accuracy)

        def text(tr):
            return tr.collect("operators", "text_features", lambda: text_features(docs).agg(
                F.count(F.lit(1)).alias("n"), F.sum("text_len").alias("chars"),
                F.sum("n_tokens").alias("tokens")))

        def exact(tr):
            return tr.collect("operators", "exact_dedup",
                              lambda: dedup.exact_dedup(docs).select("doc_id"))

        def check_exact(rows):
            kept = {r[0] for r in rows}
            ck.equal("exact_dedup kept", kept, self.exact_kept)
            not_both_kept("exact", kept, self.planted["exact"])

        def simhash(tr):
            pairs = tr.collect("operators", "simhash_near_pairs", lambda: dedup.simhash_near_pairs(
                dedup.simhash_signatures(docs), self.MAX_HAMMING))
            kept = tr.collect("operators", "dedup_keep_canonical_simhash",
                              lambda: dedup.dedup_keep_canonical_simhash(
                                  docs, self.MAX_HAMMING).select("doc_id"))
            return pairs, kept

        def check_simhash(out):
            pairs, kept = out
            got = {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs}
            ck.equal("simhash_near_pairs", got, self.sim_pairs)
            kept = {r[0] for r in kept}
            ck.equal("dedup_keep_canonical_simhash kept", kept, self.sim_kept)
            found = {(a, b) for a, b, _ in got}
            for a, b in self.planted["reordered"] + self.planted["exact"]:
                if (min(a, b), max(a, b)) not in found:
                    raise CheckFailed(f"planted near duplicate ({a}, {b}) not paired")
            not_both_kept("reordered", kept, self.planted["reordered"])

        def minhash(tr):
            return tr.collect("operators", "lsh_candidate_pairs", lambda: dedup.lsh_candidate_pairs(
                dedup.minhash_signatures(docs, num_perm=self.NUM_PERM, shingle_k=self.SHINGLE_K),
                self.BANDS, self.ROWS_PER_BAND))

        def check_minhash(pairs):
            got = {(r["id_a"], r["id_b"]) for r in pairs}
            ck.equal("lsh_candidate_pairs", got, self.lsh_pairs)
            for a, b in self.planted["exact"]:
                if (min(a, b), max(a, b)) not in got:
                    raise CheckFailed(f"planted exact duplicate ({a}, {b}) not a candidate")

        def topk(tr):
            return tr.call("operators", "topk_exact_pruned",
                           lambda: topk_exact_pruned(docs, "host", self.TOPK).collect())

        self.deck = [
            Op("features", n, features, check_features),
            Op("text_features", n, text,
               lambda rows: ck.equal("text_features totals", tuple(rows[0]), self.text_totals)),
            Op("exact_dedup", n, exact, check_exact),
            Op("simhash", n, simhash, check_simhash),
            Op("minhash", n, minhash, check_minhash),
            Op("topk", n, topk, lambda rows: ck.equal(
                "topk_exact_pruned", [tuple(r) for r in rows], self.topk)),
        ]
        self.cycle = len(self.deck)

    def op(self, i: int) -> Op:
        return self.deck[i % len(self.deck)]

    def extra_layers(self, tracer) -> dict:
        from sketches_rust_spark.operators import dedup
        sigs = dedup.simhash_signatures(self.docs)
        candidates = dedup.simhash_candidates(sigs, self.MAX_HAMMING).count()
        return {
            "operators.simhash.candidate_yield": len(self.sim_pairs) / max(1, candidates),
            "operators.minhash.candidate_yield": self.lsh_qualifying / max(1, len(self.lsh_pairs)),
        }


WORKLOADS = {"ingest": Ingest, "serve": Serve, "incremental": Incremental, "curate": Curate}

# -- the per-layer metrics every traced run reports ------------------------------

KERNEL_FAMILIES = ("ddsketch", "ddsketch_cubic", "tdigest", "kll", "hll", "kmv", "cms", "bloom")
SPAN_TOTALS = ("arrow.python_s_per_op", "arrow.bytes_per_op", "plan.shuffle_bytes_per_op",
               "driver.jobs_per_op", "driver.tasks_per_op")


def per_layer_names() -> list[str]:
    names = [f"kernel.{f}.{m}" for f in KERNEL_FAMILIES
             for m in ("update_mvals_per_s", "encode_us", "decode_merge_us")]
    return names + ["kernel.ddsketch.quantile_us", *SPAN_TOTALS, "trace.overhead_ratio"]


def per_layer(layers: dict, overhead: float) -> dict:
    return {k: layers[k] for k in per_layer_names()[:-1]} | {"trace.overhead_ratio": 1.0 + overhead}


UNITS = {"update_mvals_per_s": "Mvals/s", "encode_us": "us", "decode_merge_us": "us",
         "quantile_us": "us", "python_s_per_op": "s", "bytes_per_op": "bytes",
         "shuffle_bytes_per_op": "bytes", "jobs_per_op": "count", "tasks_per_op": "count",
         "overhead_ratio": "ratio"}


def unit_of(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[1]]
