"""Kernel pass: single-threaded update, encode, decode-and-merge and
quantile timings per sketch family, on a workload's own values.

No Spark is involved; every number is the median of ``REPS`` repetitions on
the same ``N_VALUES`` values (the workload's values, tiled if it has fewer).
"""

from __future__ import annotations

import statistics
import time

import numpy as np

N_VALUES = 100_000
REPS = 3
QUANTILES = (0.5, 0.9, 0.99)


def _families():
    from sketches_rust_spark.kernel.bloom import BloomFilter
    from sketches_rust_spark.kernel.cms import CountMinSketch
    from sketches_rust_spark.kernel.hll import HyperLogLog
    from sketches_rust_spark.kernel.kll import KLL
    from sketches_rust_spark.kernel.kmv import KMV
    from sketches_rust_spark.kernel.sketch import DDSketch
    from sketches_rust_spark.kernel.tdigest import TDigest

    # name -> (constructor, input kind, update method name)
    return {
        "ddsketch": (lambda: DDSketch.logarithmic_collapsing_lowest_dense(0.01, 2048),
                     "values", "accept_many"),
        "ddsketch_cubic": (lambda: DDSketch.collapsing_lowest_dense(0.01, 2048),
                           "values", "accept_many"),
        "tdigest": (lambda: TDigest(200.0), "values", "accept_many"),
        "kll": (lambda: KLL(200), "values", "accept_many"),
        "hll": (lambda: HyperLogLog(14), "hashes", "add_hashes"),
        "kmv": (lambda: KMV(256), "hashes", "add_hashes"),
        "cms": (lambda: CountMinSketch(5, 2048), "hashes", "add_hashes"),
        "bloom": (lambda: BloomFilter(1 << 20, 7), "hashes", "add_hashes"),
    }


def kernel_pass(values: np.ndarray, ids: np.ndarray) -> dict[str, float]:
    """``kernel.<family>.update_mvals_per_s``, ``.encode_us``,
    ``.decode_merge_us`` for every family, plus ``kernel.ddsketch.quantile_us``."""
    from sketches_rust_spark.kernel.bits import splitmix64

    reps = -(-N_VALUES // len(values))
    inputs = {
        "values": np.tile(values.astype(np.float64), reps)[:N_VALUES],
        "hashes": splitmix64(np.tile(ids.astype(np.int64).view(np.uint64), reps)[:N_VALUES]),
    }
    out: dict[str, float] = {}
    for name, (new, kind, update) in _families().items():
        data = inputs[kind]
        upd, enc, dec, qs = [], [], [], []
        for _ in range(REPS):
            sk, target = new(), new()
            t0 = time.perf_counter()
            getattr(sk, update)(data)
            t1 = time.perf_counter()
            blob = sk.encode()
            t2 = time.perf_counter()
            target.decode_and_merge_with(blob)
            t3 = time.perf_counter()
            if name == "ddsketch":
                for q in QUANTILES:
                    sk.get_value_at_quantile(q)
            t4 = time.perf_counter()
            upd.append(t1 - t0)
            enc.append(t2 - t1)
            dec.append(t3 - t2)
            qs.append((t4 - t3) / len(QUANTILES))
        out[f"kernel.{name}.update_mvals_per_s"] = len(data) / statistics.median(upd) / 1e6
        out[f"kernel.{name}.encode_us"] = statistics.median(enc) * 1e6
        out[f"kernel.{name}.decode_merge_us"] = statistics.median(dec) * 1e6
        if name == "ddsketch":
            out["kernel.ddsketch.quantile_us"] = statistics.median(qs) * 1e6
    return out
