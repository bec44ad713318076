"""Stateful streaming: per-key Misra-Gries heavy hitters.

The live twin of the batch heavy_hitters query (functions/sketches.py).
Per key, MG_K counters ride in GroupState across micro-batches; each
trigger emits the current candidate set with its lower-bound counts.
Same guarantee as the batch sketch: any token with true count >
processed/(K+1) is guaranteed present — the sketch can only over-admit,
never miss — so the emitted set is a superset to recount, not an answer
to trust blindly (exactly the batch op's two-pass contract, with the
recount living downstream of the stream).

Uses applyInPandasWithState (present in PySpark 4.x).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

HH_STATE_SCHEMA = StructType(
    [
        StructField("tokens", ArrayType(StringType()), True),
        StructField("counts", ArrayType(LongType()), True),
        StructField("processed", LongType(), True),
    ]
)

HH_OUT_SCHEMA = StructType(
    [
        StructField("key", StringType(), True),
        StructField("token", StringType(), True),
        StructField("mg_count", LongType(), True),
        StructField("processed", LongType(), True),
    ]
)

STREAM_MG_K = 64


def stream_heavy_hitters(
    keyed: DataFrame, *, key_col: str, token_col: str, k: int = STREAM_MG_K
) -> DataFrame:
    """Streaming per-key Misra-Gries: state is (tokens, counts,
    processed) — at most ``k`` counters per key regardless of stream
    length (O(1) state, the whole point vs a grows-forever counter
    map), merged across micro-batches by continuing the same
    decrement-all discipline the batch pass uses."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            toks, cnts, processed = state.get
            counters = dict(zip(toks, (int(c) for c in cnts)))
            processed = int(processed)
        else:
            counters, processed = {}, 0
        for pdf in pdfs:
            for tok in pdf[token_col].dropna():
                processed += 1
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:
                    dead = []
                    for t in counters:
                        counters[t] -= 1
                        if counters[t] == 0:
                            dead.append(t)
                    for t in dead:
                        del counters[t]
        state.update((list(counters.keys()), list(counters.values()), processed))
        out = pd.DataFrame(
            {
                "key": key[0],
                "token": list(counters.keys()),
                "mg_count": list(counters.values()),
                "processed": processed,
            }
        )
        yield out

    return (
        keyed.select(key_col, token_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=HH_OUT_SCHEMA,
            stateStructType=HH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
