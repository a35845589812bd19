"""Custom stateful streaming operator (applyInPandasWithState): per-host
crawl accounting that survives across micro-batches.

Reference parity: the reference keeps per-campaign running totals in driver
memory + a progress pickle (url_sender.py:146-200, 242-257) and per-task
states in Redis (backend tasks.py:330-348). The Spark-native form for
*keyed* state that must outlive a micro-batch is applyInPandasWithState:
state lives in the state store (checkpointed, exactly-once with the sink),
the update function sees each key's rows as pandas frames.

Here the keyed state is per-host: cumulative fetch count and OK count —
the live form of the politeness/abuse accounting the wave scheduler's
demotion rule consumes (scheduler.host_state_df, held on the driver as
_HostState: failed >= threshold and failed > ok cuts a host's cap). The two engines compute the
SAME numbers from the same ledger — proven by
tests/test_stateful.py::test_streaming_accounting_matches_scheduler_host_state,
which streams a real campaign's per-wave fetch file sets through this
operator and matches the scheduler's fold exactly.

GroupStateTimeout is unused (campaign state never expires); swap in
ProcessingTimeTimeout to age out idle hosts at web scale.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [StructField("n_fetched", LongType()), StructField("n_ok", LongType())]
)
OUTPUT_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("n_fetched", LongType()),
        StructField("n_ok", LongType()),
    ]
)


def _update_host_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, ok = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        ok += int((pdf["status"] == "OK").sum())
    state.update((n, ok))
    yield pd.DataFrame({"host": [key[0]], "n_fetched": [n], "n_ok": [ok]})


def host_state_stream(fetch_stream: DataFrame) -> DataFrame:
    """fetch events stream (host, status, ...) -> per-host cumulative
    (n_fetched, n_ok), updated each micro-batch from the state store."""
    return fetch_stream.groupBy("host").applyInPandasWithState(
        _update_host_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
