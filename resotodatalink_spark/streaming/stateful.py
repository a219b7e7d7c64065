"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's only stateful construct is the per-key batch buffer
(batch_stream.py:16-64).  Spark's arbitrary-stateful surface lets us
implement the full version: per-key state that persists ACROSS
micro-batches with event-time timeout — here a running per-user
counter/value accumulator that emits one row per (key, micro-batch),
the streaming analog of "emit the group's progress when its batch is
flushed".

State layout (per user_id): (n_events_total, value_total).  On each
micro-batch the group's new rows fold into state and an updated
snapshot row is emitted.  GroupStateTimeout is not used (the driver
data is bounded); production would set event-time timeout to expire
idle keys and bound the state store.

This operator is intentionally NOT SQL-expressible — it is exercised
by tests/test_streaming.py (final snapshots must equal the batch
group-by), and the batch equivalent `user_totals` below is what the
rows-only driver check runs.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
# state accumulates integer CENTS, not a float sum: int accumulation is
# associative, so the emitted totals are bit-identical regardless of
# micro-batch boundaries or row order inside a batch — which is what
# lets the slug's value-hash oracle compare against a batch SQL sum
STATE_SCHEMA = "n long, cents long"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming: per-user running totals, one snapshot row per key per
    micro-batch, state carried across batches.

    The state function is a SELF-CONTAINED nested closure (same rule as
    operators/multimodal.py): cloudpickle ships it by value, so
    executor Python workers don't need this package importable — the
    driver harness imports us by path, which executors don't inherit.
    """

    def accumulate(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # Explicit half-away-from-zero cents rule (matches the
            # DuckDB oracle's round(); pandas .round() is half-to-even
            # and would diverge by one cent on sub-cent inputs).
            v = pdf["value"].to_numpy() * 100.0
            import numpy as _np

            cents += int(
                (_np.sign(v) * _np.floor(_np.abs(v) + 0.5)).astype("int64").sum()
            )
        state.update((n, cents))
        yield _pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        accumulate,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_totals_batch(events: DataFrame) -> DataFrame:
    """The batch spec of the final state: plain group-by totals."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
    )

