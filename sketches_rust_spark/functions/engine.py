"""The two-level aggregation engine every sketch family runs on.

* **partial** — one ``mapInPandas`` over the scan partitions. Per Arrow
  batch it factorizes the keys, stable-argsorts the rows by group and runs
  each family's ``prepare`` once (``to_numpy``, hashing, DDSketch
  ``route_batch``, the family's row mask). Per group it only slices those
  arrays and calls the family's ``update``. It emits one blob row per
  (scan partition x family x group): no raw row is ever shuffled — the
  map-side combine Catalyst cannot do for a black-box UDAF, done explicitly.
* **merge** — one ``groupBy(family?, keys).applyInPandas`` that folds the
  blobs with the kernel's ``decode_and_merge_with``. A group receives one
  blob per scan partition whatever the key skew, so a zipfian key cannot
  create a hot reducer.

Within a group ``update`` sees rows in batch order, then row order, so the
order-sensitive kernels (t-digest, KLL) build the bytes a sequential pass
over the partition would.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SKETCH_COL = "sketch"
ROWS_COL = "rows_in"
FAMILY_COL = "family"


@dataclass(frozen=True)
class SketchAdapter:
    """How one sketch family plugs into the engine.

    ``prepare(pdf)`` turns an Arrow batch into a tuple of numpy columns, once
    per batch; ``update(state, *slices)`` consumes one group's rows of them.
    ``new()`` makes the empty kernel sketch, which is also the merge target.
    A deferred family keeps a cheaper per-group state (``new_state``) and
    builds the sketch once per partition in ``finish``. ``count``, when set,
    reports rows_in as a statistic of the sketch instead of the row count.
    """

    name: str
    new: Callable[[], object]
    prepare: Callable[[pd.DataFrame], tuple]
    update: Callable[..., None]
    new_state: Callable[[], object] | None = None
    finish: Callable[[object], object] | None = None
    count: Callable[[object], int] | None = None


def deferred_adapter(name: str, new, prepare, build, count=None) -> SketchAdapter:
    """Adapter whose group state is the list of its per-batch slices;
    ``build(sketch, *columns)`` runs once per partition over their
    concatenation."""
    def finish(chunks):
        sk = new()
        build(sk, *(np.concatenate(col) for col in zip(*chunks)))
        return sk
    return SketchAdapter(name, new, prepare,
                         update=lambda chunks, *cols: chunks.append(cols),
                         new_state=list, finish=finish, count=count)


def _factorize_keys(pdf: pd.DataFrame, keys: list[str]):
    """(int codes per row, tuple-of-key-values per code) for 1..n key columns.
    NaN/None group keys are kept (use_na_sentinel=False), matching SQL
    GROUP BY null-key semantics."""
    if len(keys) == 1:
        codes, uniques = pd.factorize(pdf[keys[0]], use_na_sentinel=False)
        return codes, [(u,) for u in uniques]
    per_col = [pd.factorize(pdf[k], use_na_sentinel=False) for k in keys]
    sizes = [len(u) for _, u in per_col]
    combined = per_col[0][0].astype(np.int64)
    for (c, _), size in zip(per_col[1:], sizes[1:]):
        combined = combined * size + c
    comp_codes, comp_uniques = pd.factorize(combined)
    # map each compact code back to the tuple of original key values
    first_row = np.empty(len(comp_uniques), dtype=np.int64)
    first_row[comp_codes] = np.arange(len(comp_codes))  # any representative row
    uniques = [tuple(pdf[k].iloc[int(r)] for k in keys) for r in first_row]
    return comp_codes, uniques


def _key_fields(df: DataFrame, keys: Sequence[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[k] for k in keys]


def _blob_schema(df: DataFrame, keys: list[str], by_family: bool) -> StructType:
    return StructType(
        ([StructField(FAMILY_COL, StringType(), False)] if by_family else [])
        + _key_fields(df, keys)
        + [StructField(SKETCH_COL, BinaryType(), False),
           StructField(ROWS_COL, LongType(), False)]
    )


def partial_aggregate(
    narrow: DataFrame,
    keys: Sequence[str],
    adapters: dict[str, SketchAdapter],
    by_family: bool = False,
) -> DataFrame:
    """Level 1: (family?, keys..., sketch, rows_in) per scan partition.

    ``narrow`` holds the keys, the adapters' input columns and one boolean
    ``_m_<name>`` column per family that sketches only the rows it selects.
    The output carries a family column only when ``by_family``.
    """
    keys = list(keys)
    masked = {name for name in adapters if f"_m_{name}" in narrow.columns}
    schema = _blob_schema(narrow, keys, by_family)
    columns = schema.fieldNames()

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, object] = {}
        rows: dict[tuple, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            if keys:
                codes, uniques = _factorize_keys(pdf, keys)
                order = np.argsort(codes, kind="stable")
                codes = codes[order]
            else:
                codes, uniques, order = np.zeros(len(pdf), np.int64), [()], None
            for name, ad in adapters.items():
                cols = ad.prepare(pdf)
                fam_codes = codes
                if order is not None:
                    cols = tuple(c[order] for c in cols)
                if name in masked:
                    m = pdf[f"_m_{name}"].to_numpy(dtype=bool)
                    if order is not None:
                        m = m[order]
                    cols = tuple(c[m] for c in cols)
                    fam_codes = codes[m]
                if not len(fam_codes):
                    continue
                bounds = np.flatnonzero(np.diff(fam_codes)) + 1
                starts = np.concatenate(([0], bounds))
                ends = np.concatenate((bounds, [len(fam_codes)]))
                for s, e in zip(starts, ends):
                    k = (name, uniques[fam_codes[s]])
                    st = states.get(k)
                    if st is None:
                        st = states[k] = (ad.new_state or ad.new)()
                        rows[k] = 0
                    ad.update(st, *(c[s:e] for c in cols))
                    rows[k] += e - s
        if states:
            records = []
            for (name, key), st in states.items():
                ad = adapters[name]
                sk = ad.finish(st) if ad.finish else st
                records.append(
                    dict(zip(columns, ((name,) if by_family else ()) + key))
                    | {SKETCH_COL: sk.encode(),
                       ROWS_COL: ad.count(sk) if ad.count else rows[(name, key)]})
            yield pd.DataFrame(records, columns=columns)

    return narrow.mapInPandas(partial, schema=schema)


def fold_blobs(new: Callable[[], object], blobs) -> object:
    """One sketch holding every non-null blob of ``blobs``. Decode *is*
    merge: bins stream straight into the receiving sketch."""
    sk = new()
    for b in blobs:
        if b is not None:
            sk.decode_and_merge_with(bytes(b))
    return sk


def merge_aggregate(
    partials: DataFrame,
    keys: Sequence[str],
    adapters: dict[str, SketchAdapter],
    by_family: bool = False,
) -> DataFrame:
    """Level 2: fold the blob rows of each (family?, keys...) group into one."""
    keys = list(keys)
    schema = _blob_schema(partials, keys, by_family)
    columns = schema.fieldNames()
    single = next(iter(adapters))

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        name = pdf[FAMILY_COL].iloc[0] if by_family else single
        ad = adapters[name]
        sk = fold_blobs(ad.new, pdf[SKETCH_COL])
        head = ({FAMILY_COL: name} if by_family else {}) | {k: pdf[k].iloc[0] for k in keys}
        head[SKETCH_COL] = sk.encode()
        head[ROWS_COL] = ad.count(sk) if ad.count else int(pdf[ROWS_COL].sum())
        return pd.DataFrame([head], columns=columns)

    group = ([FAMILY_COL] if by_family else []) + keys
    if group:
        return partials.groupBy(*group).applyInPandas(merge, schema=schema)
    return partials.groupBy(F.lit(1).alias("_g")).applyInPandas(merge, schema=schema)


def two_level_aggregate(
    narrow: DataFrame,
    keys: Sequence[str],
    adapters: dict[str, SketchAdapter],
    by_family: bool = False,
) -> DataFrame:
    """Partial then merge: (family?, keys..., sketch, rows_in), one row per
    (family, group). The only shuffle moves serialized blobs."""
    return merge_aggregate(partial_aggregate(narrow, keys, adapters, by_family),
                           keys, adapters, by_family)


def merge_udaf(new: Callable[[], object]):
    """GROUPED_AGG pandas UDF: SQL-composable blob merge, e.g.
    ``SELECT lang, ddsketch_merge(sketch) FROM partials GROUP BY lang``."""
    def merge_blobs(blobs: pd.Series) -> bytes:
        return fold_blobs(new, blobs).encode()
    return pandas_udf(merge_blobs, "binary", PandasUDFType.GROUPED_AGG)
