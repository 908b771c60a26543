"""Throttled price alerts via applyInPandasWithState.

The alerting semantics every quote consumer eventually wants: emit when
the price has moved more than ``threshold_pct`` from the LAST ALERTED
price — not from the last tick (that re-fires on every wiggle of a
volatile symbol) and not from a fixed baseline (that goes quiet after a
level shift). The comparison point is therefore mutable per-key state
that survives micro-batches and restarts: exactly the contract of
Spark's arbitrary-state API.

The per-symbol group state holds the last alerted price. State lives in
the state store (checkpointed, restored on restart); rows are processed
in (seq) order within each batch so alert decisions are deterministic
for a deterministic feed. ``transformWithStateInPandas`` is not used:
its Python wire protocol needs ``google.protobuf``, which this runtime
lacks.

Scale: state is one double per symbol; the operator shuffles on symbol
once (the groupBy), and every micro-batch touches only the symbols
present in that batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

ALERT_SCHEMA = "symbol string, seq long, price double, ref_price double, move_pct double"


def _evaluate_alerts(
    symbol: str,
    batches: Iterator[pd.DataFrame],
    ref: float | None,
    threshold_pct: float,
) -> tuple[pd.DataFrame | None, float | None]:
    """The alert kernel: concat the batch, process ticks in seq order,
    emit a row whenever price moves >= threshold_pct from the last
    alerted price (first tick always alerts), return (alerts-or-None,
    new reference price)."""
    batch = pd.concat(list(batches), ignore_index=True)
    batch = batch.sort_values("seq", kind="mergesort")
    out = []
    for row in batch.itertuples(index=False):
        price = float(row.price)
        if ref is None:
            move = 0.0
        else:
            move = abs(price - ref) / ref * 100.0
            if move < threshold_pct:
                continue
        out.append((symbol, int(row.seq), price, ref if ref is not None else price, round(move, 4)))
        ref = price
    frame = (
        pd.DataFrame(out, columns=["symbol", "seq", "price", "ref_price", "move_pct"])
        if out
        else None
    )
    return frame, ref


def _alert_group_fn(threshold_pct: float):
    from pyspark.sql.streaming.state import GroupState

    def fn(key: tuple, batches: Iterator[pd.DataFrame], state: GroupState):
        (ref,) = state.get if state.exists else (None,)
        frame, ref = _evaluate_alerts(key[0], batches, ref, threshold_pct)
        state.update((ref,))
        if frame is not None:
            yield frame

    return fn


def price_alert_stream(quotes: DataFrame, threshold_pct: float = 1.0) -> DataFrame:
    """Alerts for a streaming quotes frame (symbol, seq, price); the
    reference semantics are pinned by tests/test_streaming_extra.py."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return quotes.groupBy("symbol").applyInPandasWithState(
        _alert_group_fn(threshold_pct),
        outputStructType=ALERT_SCHEMA,
        stateStructType="price double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
