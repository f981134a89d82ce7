"""Seeded input generators. Every workload's input is written here, by the
benchmark, from ``--seed``; the program under test only ever sees the files.

Tables are written as several parquet files with several row groups each,
so a scan splits into at least one task per core."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["en", "zh", "es", "de", "fr", "ja", "ru", "pt", "it", "nl"])


def zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream name)."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def write_parquet(df: pd.DataFrame, path: str, files: int, row_group_rows: int) -> dict:
    """Write ``df`` as ``files`` parquet files of ``row_group_rows`` row groups,
    replacing whatever ``path`` held."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.Table.from_pandas(df, preserve_index=False)
    bounds = np.linspace(0, len(df), files + 1).astype(int)
    groups = 0
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=row_group_rows)
        groups += -(-part.num_rows // row_group_rows)
    return {"rows": len(df), "files": files, "row_groups": groups}


def features_frame(rng: np.random.Generator, rows: int, hosts: int) -> pd.DataFrame:
    """Pages-shaped feature rows: zipfian ``lang`` (10 keys) and ``host``
    (``hosts`` keys), lognormal lengths, 64-bit ids."""
    host_ids = rng.choice(hosts, size=rows, p=zipf_probs(hosts, 1.1))
    text_len = np.round(rng.lognormal(6.0, 1.2, size=rows), 3)
    return pd.DataFrame({
        "lang": LANGS[rng.choice(len(LANGS), size=rows, p=zipf_probs(len(LANGS), 1.6))],
        "host": np.char.add("host", host_ids.astype(str)),
        "doc_id": rng.integers(-(1 << 63), (1 << 63) - 1, size=rows, dtype=np.int64),
        "text_len": text_len,
        "token_count": np.maximum(1.0, np.floor(text_len / rng.uniform(4.0, 8.0, size=rows))),
        "html_bytes": np.round(text_len + rng.lognormal(7.0, 0.8, size=rows), 3),
        "weight": rng.integers(1, 6, size=rows).astype(np.float64),
    })


def shard_frame(seed: int, shard: int, rows: int) -> pd.DataFrame:
    """One arrival of the incremental stream: (lang, value), independent of
    how many shards came before it."""
    rng = rng_for(seed, f"shard-{shard}")
    return pd.DataFrame({
        "lang": LANGS[rng.choice(len(LANGS), size=rows, p=zipf_probs(len(LANGS), 1.6))],
        "value": np.round(rng.lognormal(5.0, 1.5, size=rows), 4),
    })


def corpus_frame(rng: np.random.Generator, docs: int, exact_dups: int,
                 reordered_dups: int, edited_dups: int, hosts: int) -> tuple[pd.DataFrame, dict]:
    """Pages-shaped documents (url, warc_ts, html, text, lang) with planted
    duplicates:

    * exact copies of another document's text;
    * token-reordered copies — a different text with the same token set, so
      its simhash equals the source's and it must be removed as a near dup;
    * copies with one token replaced — near dups that the oracle decides.

    Returns the frame and ``{"exact": [(src, dup)], "reordered": [...],
    "edited": [...]}`` of doc_id pairs."""
    vocab_letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(rng.choice(vocab_letters, size=int(n)))
                      for n in rng.integers(2, 10, size=2000)])
    n_orig = docs - exact_dups - reordered_dups - edited_dups
    n_tokens = np.maximum(4, rng.lognormal(3.6, 0.7, size=n_orig).astype(int))
    tok_ids = rng.choice(len(vocab), size=int(n_tokens.sum()), p=zipf_probs(len(vocab), 1.0))
    offs = np.concatenate([[0], np.cumsum(n_tokens)])
    texts = [" ".join(vocab[tok_ids[offs[i]:offs[i + 1]]]) for i in range(n_orig)]
    planted: dict[str, list[tuple[int, int]]] = {"exact": [], "reordered": [], "edited": []}
    long_docs = np.flatnonzero(n_tokens >= 40)
    for kind, count in (("exact", exact_dups), ("reordered", reordered_dups),
                        ("edited", edited_dups)):
        pool = long_docs if kind != "exact" else np.arange(n_orig)
        for src in rng.choice(pool, size=count, replace=True):
            toks = texts[src].split(" ")
            if kind == "reordered":
                new = " ".join(toks[::-1])
                if new == texts[src]:
                    new = texts[src] + " " + toks[0]
            elif kind == "edited":
                toks[int(rng.integers(len(toks)))] = str(vocab[rng.integers(len(vocab))])
                new = " ".join(toks)
            else:
                new = texts[src]
            planted[kind].append((int(src), len(texts)))
            texts.append(new)
    order = rng.permutation(len(texts))  # doc ids are not in planting order
    ids = np.empty(len(texts), dtype=np.int64)
    ids[order] = np.arange(len(texts), dtype=np.int64) * 7 + 11
    planted = {k: [(int(ids[a]), int(ids[b])) for a, b in v] for k, v in planted.items()}
    host_ids = rng.choice(hosts, size=len(texts), p=zipf_probs(hosts, 1.1))
    ts = (np.datetime64("2025-01-01T00:00:00", "us")
          + rng.integers(0, 30 * 86400, size=len(texts)).astype("timedelta64[s]"))
    df = pd.DataFrame({
        "doc_id": ids,
        "url": [f"https://host{h}.example.com/d{i}" for h, i in zip(host_ids, ids)],
        "host": np.char.add("host", host_ids.astype(str)),
        "warc_ts": ts,
        "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), size=len(texts), p=zipf_probs(len(LANGS), 1.6))],
    })
    return df.sort_values("doc_id", kind="stable").reset_index(drop=True), planted
