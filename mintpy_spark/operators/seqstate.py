"""Shared seam for per-group sequential passes (Kalman, Holt-Winters,
token bucket, block packing, and any future forward recursion).

Grouped ``applyInPandas`` constructs one pandas frame PER GROUP, which
dominates wall time when groups are small (measured 6.8x on the Kalman
filter at sf0.1: 5.0 s -> 0.73 s; at production shape 10^9 keys x ~10^2
rows it is the difference between a usable and an unusable plan). This
helper keeps the identical per-group semantics but runs ``mapInPandas``
over group-clustered, group-sorted partitions — one Arrow frame per
chunk — with a carry buffer for the group that spans adjacent chunks.

A group is one value of ``key_col``: a single column name, or a tuple of
column names whose joint value is the group (``codecs/blocks.py::
pack_blocks`` groups on ``(key, window)``, so the carry buffer holds at
most one block's rows, never a url's whole history).

Contract: ``fn`` receives a frame holding one or more WHOLE groups,
rows already in (*key, *order) order, and must treat groups
independently (iterate ``pdf.groupby(key, sort=False)``, or cut the
frame where the key changes). Values are bit-identical to the
applyInPandas form because the per-group row sequence — and therefore
every float operation — is unchanged.

NULL keys are NOT supported: pandas groupby drops NaN groups and the
carry-buffer equality test never matches NaN, so filter null keys
upstream (every current caller's key column is non-null by schema).
The mapper enforces this loudly — a NULL in any key column raises
ValueError instead of silently dropping rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_sorted_groups(
    src: DataFrame,
    key_col: str | tuple[str, ...],
    order_cols: tuple[str, ...],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str | StructType,
) -> DataFrame:
    """One shuffle (repartition on the key column(s) + partition-local
    sort on (*key, *order)), then mapInPandas with whole-group delivery
    to ``fn``."""
    keys = (key_col,) if isinstance(key_col, str) else tuple(key_col)

    def rows_of(pdf: pd.DataFrame, key: tuple) -> pd.Series:
        mask = pdf[keys[0]] == key[0]
        for col, v in zip(keys[1:], key[1:]):
            mask &= pdf[col] == v
        return mask

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Chunks of the group that spans batch boundaries accumulate in a
        # list and are concatenated ONCE when the group closes, so a hot
        # group spanning B batches copies O(rows) total, not O(B*rows).
        tail_parts: list[pd.DataFrame] = []
        tail_key: tuple = ()

        def flush_tail() -> pd.DataFrame:
            group = (
                tail_parts[0]
                if len(tail_parts) == 1
                else pd.concat(tail_parts, ignore_index=True)
            )
            tail_parts.clear()
            return fn(group)

        for pdf in batches:
            if not len(pdf):
                continue
            for col in keys:
                if pdf[col].isna().any():
                    raise ValueError(
                        "map_sorted_groups: NULL key in %r — filter null "
                        "keys upstream (contract: seqstate.py module "
                        "docstring)" % col
                    )
            if tail_parts:
                head_mask = rows_of(pdf, tail_key)
                if head_mask.iloc[0]:
                    # sorted partitions => the spanning group's rows are a
                    # contiguous head block of this batch
                    tail_parts.append(pdf[head_mask])
                    pdf = pdf[~head_mask].reset_index(drop=True)
                    if not len(pdf):
                        continue
                    yield flush_tail()
                else:
                    yield flush_tail()
            tail_key = tuple(pdf[col].iloc[-1] for col in keys)
            mask = rows_of(pdf, tail_key)
            tail_parts.append(pdf[mask])
            done = pdf[~mask]
            if len(done):
                yield fn(done)
        if tail_parts:
            yield flush_tail()

    parts = src.repartition(*keys).sortWithinPartitions(*keys, *order_cols)
    return parts.mapInPandas(mapper, schema)
