"""Custom stateful streaming operator via applyInPandasWithState: running
per-source validation counters that persist across micro-batches.

This is the streaming generalization of the batch job's per-unit lineage:
instead of closing a unit per input file, each ``source`` keeps a running
(n_rows, n_invalid) state in the state store and emits an updated snapshot
every micro-batch it appears in. State is keyed by the (small) source
domain, so the state store stays O(#sources) regardless of stream length —
the only admissible shape at unbounded scale.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from jsonschema_spark.plans.plan import is_valid

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_invalid", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_invalid", T.LongType()),
        T.StructField("invalid_rate", T.DoubleType()),
    ]
)


def _update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    n_rows, n_invalid = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n_rows += len(pdf)
        n_invalid += int((~pdf["valid"]).sum())
    state.update((n_rows, n_invalid))
    yield pd.DataFrame(
        {
            "source": [key[0]],
            "n_rows": [n_rows],
            "n_invalid": [n_invalid],
            "invalid_rate": [n_invalid / n_rows if n_rows else 0.0],
        }
    )


def running_source_counters(annotated_stream: DataFrame) -> DataFrame:
    """Stateful running (n_rows, n_invalid, rate) per source over an
    annotated validation stream (requires the row verdict from
    annotate_stream). Output mode: update."""
    return (
        annotated_stream.select("source", is_valid().alias("valid"))
        .groupBy("source")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
