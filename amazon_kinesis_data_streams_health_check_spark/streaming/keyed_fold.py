"""One keyed fold: the no-timeout ``applyInPandasWithState`` contract.

The order-dependent streaming operators (EWMA, SPRT, CUSUM, hysteresis,
forecast, ensemble, journey, rate limit, quality gate, pack, period alarm)
are each a fold over one key's rows in a fixed order. Each is written as a
pure ``fold(key, state, rows) -> (new_state, out_rows)``: ``key`` is the
group key's value, ``state`` the stored state tuple (None before the key's
first batch), ``rows`` the micro-batch's rows as tuples of the ``cols``
values in ``order``, ``new_state`` the tuple to store and ``out_rows`` the
output rows as tuples in ``output_schema``'s column order. The fold sees no
pandas, ``GroupState`` or Spark worker, so it runs as is in plain Python.

This module owns everything else: the worker contract (``pyworker.ready()``),
concatenating a key's Arrow chunks and sorting them by ``order``, reading and
updating the state store, and building the output frame. The state store
keeps the fold's state between micro-batches, so a fold whose state carries
what its next row reads gives the same rows however the feed is sliced, as
long as each key's rows arrive in nondecreasing ``order`` across batches.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from amazon_kinesis_data_streams_health_check_spark import pyworker

Fold = Callable[[Any, Any, Iterable[tuple]], tuple[Any, list[tuple]]]


def fold_fn(
    order: str | list[str], cols: Sequence[str], fold: Fold, output_schema: StructType
):
    """The applyInPandasWithState function that runs ``fold`` on one key's
    micro-batch."""
    names = output_schema.fieldNames()

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pyworker.ready()
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(order)
        new_state, out = fold(
            key[0], state.get if state.exists else None, zip(*(pdf[c] for c in cols))
        )
        state.update(new_state)
        columns = list(zip(*out)) or [()] * len(names)
        yield pd.DataFrame({n: list(c) for n, c in zip(names, columns)})

    return fn


def keyed_fold(
    feed: DataFrame,
    key: str,
    order: str | list[str],
    cols: Sequence[str],
    fold: Fold,
    state_schema: StructType,
    output_schema: StructType,
) -> DataFrame:
    """Run ``fold`` per ``key`` over the stream ``feed`` (update mode, no
    timeout), its state held in the state store."""
    return feed.groupBy(key).applyInPandasWithState(
        fold_fn(order, cols, fold, output_schema),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
