"""Unwindowed running totals via ``applyInPandasWithState``.

``streaming_running_totals`` is the canonical op that windowed
aggregation cannot express: a lifetime aggregate per key, emitted on
every update. State is one row per key (two scalars), so state size
is O(distinct keys), independent of event volume. Its batch twin is a
plain ``groupBy(key).agg(count, sum)``, which the last row emitted per
key equals (a null value adds 0 to the total).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

__all__ = ["streaming_running_totals"]


def streaming_running_totals(events: DataFrame, key_col: str = "user_id",
                             value_col: str = "value") -> DataFrame:
    """(key, n_events, total_value) running totals across ALL
    micro-batches — one output row per key per micro-batch that
    touched it (update semantics), carrying lifetime totals."""
    # key column keeps ITS OWN type — hardcoding LongType would make
    # every non-bigint key (string user ids) fail Arrow serialization
    # on the first emitted batch
    out_schema = StructType([
        StructField(key_col, events.schema[key_col].dataType),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ])

    def fn(key: Tuple[Any, ...],
           batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += int(len(pdf))
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n],
                            "total_value": [total]})

    return (events.groupBy(key_col)
            .applyInPandasWithState(fn, outputStructType=out_schema,
                                    stateStructType="n long, total double",
                                    outputMode="update",
                                    timeoutConf=GroupStateTimeout.NoTimeout))
