"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no stateful streaming at all (SURVEY §2.10 "Absent");
this is the engine's escape hatch for semantics the built-in windowed
aggregations can't express — here, a per-key running counter/sum with
event-count emission (a live "activities per employee" tracker the flagship
query could subscribe to instead of re-reading the lake).

Scale: state lives in Spark's state store (RocksDB-backed on a real
cluster — set ``spark.sql.streaming.stateStore.providerClass``), partitioned
by key; each micro-batch touches only keys present in the batch. Timeouts
evict idle keys so state is bounded by the active-key working set.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_SCHEMA = "key BIGINT, n_events BIGINT, total_value DOUBLE"
_STATE_SCHEMA = "n BIGINT, total DOUBLE"


def running_totals(
    events: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Per-key cumulative (count, sum) across micro-batches.

    Emits one row per key per batch with the running totals — the streaming
    analog of the reference's batch ``groupBy(id_employee).agg(count, avg)``
    (read_delta.py:114-127), without rescanning history each time.
    """
    import pandas as pd

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({"key": [key[0]], "n_events": [n], "total_value": [total]})

    return (
        events.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_totals_tws(
    events: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """The same running (count, sum) on the NEW ``transformWithStateInPandas``
    API (Spark 4 StatefulProcessor): typed state handles (value/list/map
    state), explicit lifecycle (init/close), and timer support replace the
    single opaque tuple of ``applyInPandasWithState``. Functionally identical
    here by design, so one test matrix pins both APIs to the same semantics;
    prefer this API for new operators — per-state TTL and composite state
    don't exist on the legacy path.

    Container note: executing TWS requires ``google.protobuf`` (the state
    server protocol), absent here — the pinning test skips when it's
    missing and runs anywhere protobuf exists.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf[value_col].fillna(0.0).sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"key": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return (
        events.select(key_col, value_col)
        .groupBy(key_col)
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=RUNNING_TOTALS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


PIT_REGIMES_SCHEMA = "user_id BIGINT, regime STRING, n_purchases BIGINT, sum_cents BIGINT"
_PIT_STATE_SCHEMA = "last_attr STRING"


def pit_regimes(events: DataFrame) -> DataFrame:
    """Streaming point-in-time regime attribution (the stateful form of
    ``plans/advanced.q_pit_regime_attribution``): per user, carry the most
    recent non-purchase event type forward and attribute each purchase to
    the regime in force at its timestamp.

    State per key is ONE string (the last regime) — bounded by the active-
    user working set, never by history length. Rows within a micro-batch are
    sorted by (ts, kind, event_id) inside the function (applyInPandasWithState
    delivers a key's batch rows in arbitrary chunk order); ACROSS batches the
    ingest must be time-ordered for the carry-forward to be exact — true for
    the availableNow single-batch replay used by the spec, and for any
    ordered source (a per-key ordered Kafka partition). The equal-timestamp
    tie matches the batch spec: the state row (kind 0) applies to a purchase
    at the same instant.
    """
    import pandas as pd

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        (last_attr,) = state.get if state.exists else (None,)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf["kind"] = (pdf["event_type"] == "purchase").astype(int)
        pdf = pdf.sort_values(["ts", "kind", "event_id"]).reset_index(drop=True)
        # acc = [n_purchases, sum of non-NULL cents, count of non-NULL cents]:
        # SQL sum() skips NULLs and yields NULL when every input is NULL, so
        # a regime whose purchases all have NULL value must emit sum_cents
        # NULL (not 0) to keep the advertised stream == batch hash parity.
        counts: dict[str, list[int]] = {}
        for et, cents in zip(pdf["event_type"], pdf["cents"]):
            if et != "purchase":
                last_attr = et
            else:
                regime = last_attr if last_attr is not None else "none"
                acc = counts.setdefault(regime, [0, 0, 0])
                acc[0] += 1
                if cents is not None and not pd.isna(cents):
                    acc[1] += int(cents)
                    acc[2] += 1
        state.update((last_attr,))
        if not counts:
            return
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(counts),
                "regime": list(counts),
                "n_purchases": [v[0] for v in counts.values()],
                "sum_cents": pd.array(
                    [v[1] if v[2] > 0 else None for v in counts.values()],
                    dtype="Int64",
                ),
            }
        )

    from pyspark.sql import functions as F

    prepared = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=PIT_REGIMES_SCHEMA,
        stateStructType=_PIT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_NO_TS = -1  # sentinel: state tuples can't carry NULLs portably


def funnel_state(events: DataFrame, steps: tuple[str, ...]) -> DataFrame:
    """Strict N-step funnel (first ``steps[0]`` → first ``steps[1]``
    at-or-after it → … → first ``steps[-1]`` at-or-after the step before)
    as a LIVE stateful operator: state is one int64 timestamp per step per
    user, bounded by the active-user set, never by history. Each batch
    folds its events into the state step by step; users who reached the
    first step emit their current funnel row (update mode) as ``user_id``
    plus ``first_{step}_us`` per step, the first non-null and the rest NULL
    until reached.

    Input contract: ``events`` carries (user_id, ts_us BIGINT, event_type).
    Same delivery caveat as ``pit_regimes``: exactly correct under per-user
    event-time-ordered delivery or a single availableNow replay (an
    earlier-step event arriving LATE, before already-seen later-step
    events, would need those re-examined — the batch specs re-aggregate
    the lake instead).
    """
    import pandas as pd

    cols = [f"first_{step}_us" for step in steps]
    state_schema = ", ".join(f"{c} BIGINT" for c in cols)

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        firsts = list(state.get) if state.exists else [_NO_TS] * len(steps)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        for i, step in enumerate(steps):
            hit = pdf["event_type"] == step
            if i:
                if firsts[i - 1] == _NO_TS:
                    break
                hit &= pdf["ts_us"] >= firsts[i - 1]
            ts = pdf.loc[hit, "ts_us"]
            if len(ts):
                m = int(ts.min())
                if firsts[i] == _NO_TS or m < firsts[i]:
                    firsts[i] = m
        state.update(tuple(firsts))
        if firsts[0] == _NO_TS:
            return
        row = {"user_id": [key[0]], cols[0]: [firsts[0]]}
        for c, t in zip(cols[1:], firsts[1:]):
            row[c] = pd.array([t if t != _NO_TS else None], dtype="Int64")
        yield pd.DataFrame(row)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=f"user_id BIGINT, {state_schema}",
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


JOURNEY_SCHEMA = "user_id BIGINT, journey STRING"
_JOURNEY_STATE_SCHEMA = "journey STRING"


def journey_state(events: DataFrame) -> DataFrame:
    """Per-user event-journey accumulator — the LIVE half of the
    MATCH_RECOGNIZE analog (``plans/events_queries.q_event_pattern_match``):
    state is ONE string per user, the time-ordered concatenation of
    event-type initials, appended micro-batch by micro-batch; the row
    pattern itself is a stateless regex evaluated at emission time, so ANY
    regex-expressible sequence condition runs over the same state. Each
    batch's events sort by (ts_us, event_id) before appending — the batch
    spec's deterministic tie order.

    State per key is the user's own journey string (bounded by per-user
    history, the funnel specs' active-user working set — at 100 TB pair it
    with a session watermark or cap the string; the batch spec re-aggregates
    the lake instead). Same delivery caveat as :func:`funnel_state`:
    exactly correct under per-user event-time-ordered delivery or a single
    availableNow replay; a late event would need the string re-spliced.

    Input contract: ``events`` carries (user_id, ts_us BIGINT,
    event_id BIGINT, event_type STRING).
    """
    import pandas as pd

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        journey = state.get[0] if state.exists else ""
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
        journey += "".join(s[0] for s in pdf["event_type"])
        state.update((journey,))
        yield pd.DataFrame({"user_id": [key[0]], "journey": [journey]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=JOURNEY_SCHEMA,
        stateStructType=_JOURNEY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
