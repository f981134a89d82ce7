"""Exact answers and the checks that compare the program's outputs to them.

Exact values are computed once per seed in the benchmark process with
numpy or DuckDB. Every check raises ``CheckFailed`` on a mismatch; the loop
counts such an op as failed. ``Checker.rel_err_max`` keeps the largest
|estimate - exact| / |exact| / alpha over every DDSketch quantile checked.
"""

from __future__ import annotations

import math

import numpy as np

RANK_BOUND = 0.03  # rank tolerance for t-digest and KLL, as in the repo's oracles


class CheckFailed(Exception):
    pass


class Groups:
    """Per-group sorted values (and weights) of one input column."""

    def __init__(self, keys: np.ndarray, values: np.ndarray,
                 weights: np.ndarray | None = None):
        order = np.lexsort((values, keys))
        k, v = keys[order], values[order]
        w = None if weights is None else weights[order]
        cuts = np.flatnonzero(k[1:] != k[:-1]) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(k)]))
        self.values = {k[s]: v[s:e] for s, e in zip(starts, ends)}
        self.weights = None if w is None else {k[s]: w[s:e] for s, e in zip(starts, ends)}

    def count(self, key) -> int:
        return len(self.values[key])

    def quantile(self, key, q: float) -> float:
        """Exact value at rank floor(q * (n - 1)): the element DDSketch's
        rank walk targets."""
        v = self.values[key]
        return float(v[int(math.floor(q * (len(v) - 1)))])

    def weighted_quantile(self, key, q: float) -> float:
        """First value whose cumulative weight exceeds q * (W - 1)."""
        v, w = self.values[key], self.weights[key]
        cum = np.cumsum(w)
        return float(v[int(np.searchsorted(cum, q * (cum[-1] - 1), side="right"))])


class Checker:
    def __init__(self):
        self.rel_err_max = 0.0
        self.quantiles_checked = 0

    def equal(self, what: str, got, want) -> None:
        if got != want:
            raise CheckFailed(f"{what}: got {got!r}, want {want!r}")

    def quantile(self, what: str, est, exact: float, alpha: float) -> None:
        """DDSketch guarantee: |est - exact| <= alpha * |exact|."""
        if est is None or not math.isfinite(est):
            raise CheckFailed(f"{what}: no estimate ({est!r})")
        ratio = abs(est - exact) / abs(exact) / alpha if exact else (
            0.0 if est == 0 else math.inf)
        self.quantiles_checked += 1
        self.rel_err_max = max(self.rel_err_max, ratio)
        if ratio > 1.0 + 1e-9:
            raise CheckFailed(f"{what}: {est!r} vs exact {exact!r} is {ratio:.3f} alpha")

    def rank(self, what: str, est, sorted_values: np.ndarray, q: float) -> None:
        """Rank containment: #(v < est)/n <= q + b and #(v <= est)/n >= q - b."""
        if est is None or not math.isfinite(est):
            raise CheckFailed(f"{what}: no estimate ({est!r})")
        n = len(sorted_values)
        lt = np.searchsorted(sorted_values, est, side="left") / n
        le = np.searchsorted(sorted_values, est, side="right") / n
        if not (lt <= q + RANK_BOUND and le >= q - RANK_BOUND):
            raise CheckFailed(f"{what}: rank of {est!r} is [{lt:.4f}, {le:.4f}], q={q}")

    def ddsketch_blob(self, what: str, blob: bytes, groups: Groups, key,
                      quantiles, alpha: float, weighted: bool = False) -> None:
        """Decode one DDSketch blob; its count must be exact and every
        quantile within alpha of the exact rank value."""
        from sketches_rust_spark.kernel.sketch import DDSketch
        try:
            sk = DDSketch.decode(bytes(blob))
        except Exception as e:  # a corrupt blob is a failed op, whatever it raises
            raise CheckFailed(f"{what}: blob does not decode: {e}") from e
        want = (float(groups.weights[key].sum()) if weighted
                else float(groups.count(key)))
        if abs(sk.get_count() - want) > 1e-6 * max(1.0, want):
            raise CheckFailed(f"{what}: count {sk.get_count()} != {want}")
        for q in quantiles:
            exact = (groups.weighted_quantile(key, q) if weighted
                     else groups.quantile(key, q))
            self.quantile(f"{what} q={q}", sk.get_value_at_quantile(q), exact, alpha)


def self_test() -> None:
    """A corrupted blob and a wrong quantile must both count as failed ops."""
    from sketches_rust_spark.kernel.sketch import DDSketch
    rng = np.random.default_rng(7)
    vals = rng.lognormal(5.0, 1.0, size=5000)
    groups = Groups(np.zeros(len(vals), dtype=np.int64), vals)
    sk = DDSketch.logarithmic_unbounded_size_dense_store(0.01)
    sk.accept_many(vals)
    blob = sk.encode()
    alpha = sk.index_mapping.relative_accuracy
    checker = Checker()
    checker.ddsketch_blob("good", blob, groups, 0, (0.5, 0.99), alpha)
    corrupted = bytearray(blob)
    corrupted[len(corrupted) // 2] ^= 0xFF
    del corrupted[-3:]
    wrong = groups.quantile(0, 0.5) * (1 + 3 * alpha)
    cases = [
        lambda: checker.ddsketch_blob("corrupt", bytes(corrupted), groups, 0, (0.5,), alpha),
        lambda: checker.quantile("wrong", wrong, groups.quantile(0, 0.5), alpha),
    ]
    failed = 0
    for case in cases:
        try:
            case()
        except CheckFailed:
            failed += 1
    if failed != len(cases):
        raise RuntimeError(f"checker self-test: {failed} of {len(cases)} bad outputs caught")


def splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def minhash_lsh(ids, texts, num_perm: int, shingle_k: int, bands: int,
                rows_per_band: int) -> dict[tuple[int, int], float]:
    """Exact LSH candidate pairs {(id_a, id_b): matching-signature fraction}
    for word ``shingle_k``-shingles hashed by md5[:15], permuted by
    splitmix64(h ^ seed_i) with seed_i = splitmix64(i), i = 1..num_perm."""
    import hashlib
    seeds = splitmix64(np.arange(1, num_perm + 1, dtype=np.uint64))
    sigs = {}
    for doc, text in zip(ids, texts):
        toks = text.split(" ")
        sh = ({" ".join(toks[i:i + shingle_k]) for i in range(len(toks) - shingle_k + 1)}
              if len(toks) >= shingle_k else {" ".join(toks)})
        h = np.array([int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh],
                     dtype=np.uint64)
        sigs[doc] = splitmix64(h[None, :] ^ seeds[:, None]).min(axis=1)
    buckets: dict[tuple, list] = {}
    for doc, sig in sigs.items():
        for b in range(bands):
            key = (b, *sig[b * rows_per_band:(b + 1) * rows_per_band].tolist())
            buckets.setdefault(key, []).append(doc)
    pairs = {}
    for members in buckets.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                if (a, b) not in pairs:
                    pairs[(a, b)] = float(np.mean(sigs[a] == sigs[b]))
    return pairs
