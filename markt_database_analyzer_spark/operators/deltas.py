"""Partitioned lag-differences (SURVEY.md §2.6 W1).

``groupby(key)[cols].diff()`` (analyse.py:69-70) → window ``lag`` per key.
First row of each partition gets null deltas (pandas NaN) and is dropped,
matching analyse.py:71.

Scale shape: one shuffle on the partition keys, then a per-partition sort.
If the source is already bucketed/sorted by the key (our recommended at-rest
layout for snapshot logs) Catalyst elides the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def lag_deltas(
    df: DataFrame,
    partition_keys: list[str],
    order: list[Column | str],
    cols: dict[str, Column | str],
) -> DataFrame:
    """Add ``delta_<name>`` = col - lag(col) per partition for each entry in
    ``cols`` ({output_suffix: source_col}) and drop each partition's first
    row. Ordering should be total (pass tiebreak columns) for run-to-run
    determinism."""
    w = Window.partitionBy(*partition_keys).orderBy(*order)
    out = df
    delta_names = []
    for name, col in cols.items():
        c = F.col(col) if isinstance(col, str) else col
        dname = f"delta_{name}"
        out = out.withColumn(dname, c - F.lag(c).over(w))
        delta_names.append(dname)
    return out.na.drop(subset=delta_names)
