"""Stateful streaming operators via applyInPandasWithState.

The reference implements per-key streaming state with OrderedListState +
event-time timers (reference: SelectTransform.java:469-547 streaming
stateful select; util/pipeline/Limit.java:187-277 streaming limit).  In
batch mode our engine compiles the same semantics to Window functions
(compilers/stateful.py); in streaming mode Spark's structured state API is
the idiomatic substrate.

``streaming_limit``: per-key cap — emit at most ``count`` rows per key
(oldest-first by arrival within the stream), state = rows seen so far.

``streaming_running_agg``: per-key running aggregates (count/sum/min/max/
avg) over the stream, state = the accumulator tuple, emitted per row.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_limit(
    df: DataFrame,
    group_fields: list[str],
    count: int,
) -> DataFrame:
    """Per-key output cap for streaming DataFrames."""
    out_schema = df.schema
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            if n >= count:
                break
            take = pdf.iloc[: max(0, count - n)]
            n += len(take)
            if len(take):
                yield take
        state.update((n,))

    return df.groupBy(*group_fields).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_running_agg(
    df: DataFrame,
    group_fields: list[str],
    value_field: str,
    ops: Iterable[str] = ("count", "sum", "min", "max", "avg"),
) -> DataFrame:
    """Per-key running aggregates emitted once per micro-batch per key.
    ``ops`` selects the emitted columns (count→``n``, sum/min/max/avg)."""
    ops = list(ops)
    bad = sorted(set(ops) - {"count", "sum", "min", "max", "avg"})
    if bad:
        raise ValueError(f"streaming running agg: unsupported ops {bad}")
    col_of = {"count": "n", "sum": "sum", "min": "min", "max": "max", "avg": "avg"}
    out_cols = [col_of[o] for o in ops]
    key_fields = [df.schema[g] for g in group_fields]
    out_schema = T.StructType(
        [*key_fields]
        + [
            T.StructField(c, T.LongType() if c == "n" else T.DoubleType())
            for c in out_cols
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("sum", T.DoubleType()),
            T.StructField("min", T.DoubleType()),
            T.StructField("max", T.DoubleType()),
        ]
    )

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, s, mn, mx = state.get
        else:
            n, s, mn, mx = 0, 0.0, None, None
        for pdf in pdfs:
            vals = pd.to_numeric(pdf[value_field], errors="coerce").dropna()
            if not len(vals):
                continue
            n += int(len(vals))
            s += float(vals.sum())
            bmn, bmx = float(vals.min()), float(vals.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        state.update((n, s, mn, mx))
        row: dict[str, Any] = {g: [k] for g, k in zip(group_fields, key)}
        all_vals = {
            "n": [n],
            "sum": [s],
            "min": [mn],
            "max": [mx],
            "avg": [s / n if n else None],
        }
        row.update({c: all_vals[c] for c in out_cols})
        yield pd.DataFrame(row)

    return df.groupBy(*group_fields).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_RANGE_OPS = {"count", "sum", "min", "max", "avg"}


def streaming_count_range_select(
    df: DataFrame,
    group_fields: list[str],
    value_field: str,
    n: int,
    order_field: str,
    passthrough: list[tuple[str, str]],
    aggs: list[tuple[str, str]],
    offset: int = 0,
) -> DataFrame:
    """Per-ROW trailing count-range aggregates on a stream — the streaming
    twin of the batch Window compiler's ``rowsBetween(-(offset+N-1),
    -offset)`` frame (compilers/stateful.py:14).  Every input row is
    emitted once with the requested ``aggs`` (list of (output name, op)
    with op in count/sum/min/max/avg) over the ``n`` rows ending
    ``offset`` rows back of its key; state = the previous ``n+offset-1``
    values, a bounded array — the same frame the batch window holds.
    Rows whose frame precedes the key's first row emit count 0 / null
    aggregates, exactly the batch frame clipped at the partition start.
    ``passthrough`` is (output name, source column) pairs carried
    through (renames honored, matching the batch path's
    ``withColumn(name, ...)`` binding).

    Contract pinned by the batch-parity test: rows must reach the stream
    in per-key ``order_field`` order (micro-batch sequence × an in-batch
    sort here).  Under out-of-order delivery the batch path re-sorts
    globally while a stream cannot — the same contract Beam's
    @RequiresTimeSortedInput imposes on the reference's stateful select
    (SelectTransform.java:391-467).
    """
    bad = [op for _, op in aggs if op not in _RANGE_OPS]
    if bad:
        raise ValueError(f"streaming count-range: unsupported ops {bad}")
    # passthrough: (output_name, source_column) pairs — renames honored;
    # ONLY selected columns are emitted (batch parity: apply_stateful_select
    # projects to the select names — group/order fields appear only when
    # the select list names them)
    carry_pairs = list(dict.fromkeys(tuple(p) for p in passthrough))
    out_schema = T.StructType(
        [
            T.StructField(out, df.schema[src].dataType, df.schema[src].nullable)
            for out, src in carry_pairs
        ]
        + [
            T.StructField(
                name, T.LongType() if op == "count" else T.DoubleType()
            )
            for name, op in aggs
        ]
    )
    state_schema = T.StructType([T.StructField("tail", T.ArrayType(T.DoubleType()))])

    keep = n + offset - 1  # lookback rows a future row's frame can reach

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        tail: list[float] = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            pdf = pdf.sort_values(order_field, kind="mergesort")
            vals = pd.to_numeric(pdf[value_field], errors="coerce").astype(float)
            full = pd.concat(
                [pd.Series(tail, dtype=float), vals], ignore_index=True
            )
            roll = full.rolling(n, min_periods=1)
            lo = len(tail)
            out = {o: pdf[src].to_numpy() for o, src in carry_pairs}
            for name, op in aggs:
                if op == "count":
                    # batch parity: F.count(F.lit(1)) counts ROWS in the
                    # frame, not non-null values — roll over a ones series;
                    # the offset shift leaves head rows with an empty
                    # frame, which batch counts as 0
                    ones = pd.Series(1.0, index=range(len(full)))
                    series = ones.rolling(n, min_periods=1).sum()
                    if offset:
                        series = series.shift(offset).fillna(0.0)
                    out[name] = (
                        series.iloc[lo:].astype("int64").to_numpy()
                    )
                else:
                    series = getattr(roll, {"avg": "mean"}.get(op, op))()
                    if offset:
                        series = series.shift(offset)
                    emit = series.iloc[lo:]
                    # empty/all-null frames are NULL in the batch Window —
                    # keep NaN out of the emitted doubles
                    out[name] = emit.astype(object).where(
                        emit.notna(), None
                    ).to_numpy()
            tail = list(full.iloc[len(full) - keep:]) if keep > 0 else []
            yield pd.DataFrame(out)
        state.update((tail,))

    return df.groupBy(*group_fields).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_duration_range_select(
    df: DataFrame,
    group_fields: list[str],
    value_field: str,
    dur_secs: int,
    offset_secs: int,
    order_field: str,
    passthrough: list[tuple[str, str]],
    aggs: list[tuple[str, str]],
) -> DataFrame:
    """Per-ROW trailing duration-range aggregates on a stream — the
    streaming twin of the batch Window compiler's
    ``rangeBetween(-(D+offset-1), -offset)`` frame over unix seconds
    (compilers/stateful.py:58-63; reference semantics
    StatefulFunction.java:112-132: window (ts-D, ts] shifted back by
    ``offset``).  Every input row is emitted once with the requested
    ``aggs`` over its key's rows in the frame.

    State = the per-key (ts, value) buffer trimmed to the trailing
    D+offset seconds behind the key's max event time — the same bounded
    lookback the batch frame reads, evicted as event time advances (the
    upstream watermark bounds how far behind a key's clock can run).
    Contract identical to the count-range path: rows reach the stream in
    per-key ``order_field`` order (@RequiresTimeSortedInput,
    SelectTransform.java:391-467); timestamps compare at second
    resolution, matching the batch path's ``unix_timestamp`` ordering.
    """
    import numpy as np

    bad = [op for _, op in aggs if op not in _RANGE_OPS]
    if bad:
        raise ValueError(f"streaming duration-range: unsupported ops {bad}")
    carry_pairs = list(dict.fromkeys(tuple(p) for p in passthrough))
    out_schema = T.StructType(
        [
            T.StructField(out, df.schema[src].dataType, df.schema[src].nullable)
            for out, src in carry_pairs
        ]
        + [
            T.StructField(
                name, T.LongType() if op == "count" else T.DoubleType()
            )
            for name, op in aggs
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ts", T.ArrayType(T.LongType())),
            T.StructField("vals", T.ArrayType(T.DoubleType())),
        ]
    )
    span = int(dur_secs) + int(offset_secs)

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            buf_ts, buf_v = state.get
            buf_ts, buf_v = list(buf_ts), list(buf_v)
        else:
            buf_ts, buf_v = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(order_field, kind="mergesort")
            ts = pdf[order_field]
            dts = str(ts.dtype)
            if dts.startswith("datetime64"):
                # second resolution, like the batch path's unix_timestamp.
                # pandas 2 Arrow conversion can deliver ANY datetime64
                # unit (us from parquet-born frames, ns from Spark's own
                # batches) — divide by the ACTUAL unit or every epoch is
                # off by the unit ratio and the duration frames collapse
                import re as _re

                m = _re.search(r"\[(\w+)", dts)
                div = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[
                    m.group(1) if m else "ns"
                ]
                epochs = (ts.astype("int64") // div).to_numpy()
            else:
                epochs = ts.astype("int64").to_numpy()
            vals = (
                pd.to_numeric(pdf[value_field], errors="coerce")
                .astype(float)
                .to_numpy()
            )
            all_ts = np.concatenate([np.asarray(buf_ts, dtype="int64"), epochs])
            all_v = np.concatenate([np.asarray(buf_v, dtype="float64"), vals])
            lo_i = np.searchsorted(all_ts, epochs - span + 1, side="left")
            hi_i = np.searchsorted(all_ts, epochs - offset_secs, side="right")
            out = {o: pdf[src].to_numpy() for o, src in carry_pairs}
            n_rows = len(pdf)
            for name, op in aggs:
                res = np.empty(n_rows, dtype="float64")
                for i in range(n_rows):
                    if op == "count":
                        # batch parity: count ROWS in the frame
                        res[i] = hi_i[i] - lo_i[i]
                        continue
                    seg = all_v[lo_i[i]:hi_i[i]]
                    seg = seg[~np.isnan(seg)]
                    if len(seg) == 0:
                        res[i] = np.nan
                    elif op == "sum":
                        res[i] = seg.sum()
                    elif op == "min":
                        res[i] = seg.min()
                    elif op == "max":
                        res[i] = seg.max()
                    else:
                        res[i] = seg.mean()
                if op == "count":
                    out[name] = res.astype("int64")
                else:
                    # empty/all-null frames are NULL in the batch Window
                    # (the count-range twin converts the same way) — NaN
                    # here would survive the Arrow hand-off as a double
                    # NaN; object dtype is required or .where coerces
                    # the None straight back to NaN
                    emit = pd.Series(res)
                    out[name] = emit.astype(object).where(
                        emit.notna(), None
                    ).to_numpy()
            yield pd.DataFrame(out)
            # trim: only entries within span seconds of the key's max event
            # time can reach a future row's frame (ordered-input contract)
            cut = np.searchsorted(all_ts, all_ts[-1] - span + 1, side="left")
            buf_ts = all_ts[cut:].tolist()
            buf_v = all_v[cut:].tolist()
        state.update((buf_ts, buf_v))

    return df.groupBy(*group_fields).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_stateful_select(
    df: DataFrame,
    selects: list[dict],
    event_time_col: str | None,
    group_fields: list[str],
) -> DataFrame:
    """Streaming route for the select module's stateful path.

    Emulatable subset (everything else raises with the reason): every
    stateful function is a count-range OR duration-range (offsets
    honored on both) count/sum/min/max/avg over ONE shared field — or
    ONE shared exp4j expression, compiled to a derived JVM column
    upstream (r6) — with ONE shared frame; stateless entries are
    pass-through/rename of existing columns.  Count frames ride
    ``streaming_count_range_select`` (bounded tail array); duration
    frames ride ``streaming_duration_range_select`` (event-time-trimmed
    buffer, eviction bounded by the frame span).
    """
    from pipeline_spark.compilers import select_fns

    if not event_time_col:
        raise ValueError("streaming stateful select requires timestampAttribute")
    aggs: list[tuple[str, str]] = []
    passthrough: list[tuple[str, str]] = []
    value_field = None
    derived_exprs: dict[str, str] = {}
    frame: tuple | None = None  # ("count", n, offset) | ("duration", secs, offset)

    def frame_of(rng: dict, name: str) -> tuple:
        if "count" in rng:
            return ("count", int(rng["count"]), int(rng.get("offset", 0)))
        if "duration" in rng:
            unit = str(rng.get("unit", "second")).lower()
            mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit]
            return (
                "duration",
                int(rng["duration"]) * mult,
                int(rng.get("offset", 0)) * mult,
            )
        raise NotImplementedError(
            f"streaming stateful select: '{name}' needs a count or "
            "duration range (an unbounded running frame keeps unbounded "
            "state; use batch)"
        )

    for sf in selects:
        if sf.get("ignore"):
            continue
        name = sf["name"]
        if not select_fns.is_stateful(sf):
            src = sf.get("field", name)
            if set(sf) - {"name", "field"} or src not in df.columns:
                raise NotImplementedError(
                    f"streaming stateful select: stateless entry '{name}' "
                    "must be a pass-through/rename of an existing column "
                    "(computed stateless functions: apply a separate "
                    "stateless select first)"
                )
            passthrough.append((name, src))
            continue
        func = select_fns.infer_func(sf)
        rng = sf.get("range") or {}
        if func not in _RANGE_OPS:
            raise NotImplementedError(
                f"streaming stateful select: '{name}' ({func}) — only "
                "count/sum/min/max/avg range functions stream"
            )
        this_frame = frame_of(rng, name)
        if sf.get("expression"):
            # expression inputs compile to ONE derived JVM column upstream
            # of the stateful operator (r6, same pattern as the executor
            # pane backend) — identical expression strings share a column
            # so the single-buffer constraint below applies naturally
            from pyspark.sql import functions as F

            from pipeline_spark.compilers.expression import (
                compile_expression,
                schema_resolver,
            )

            expr_str = str(sf["expression"])
            key = f"expr::{expr_str}"
            if key not in derived_exprs:
                cname = f"__sexpr_{len(derived_exprs)}__"
                df = df.withColumn(
                    cname,
                    F.expr(compile_expression(expr_str, schema_resolver(df))),
                )
                derived_exprs[key] = cname
            field = derived_exprs[key]
        else:
            field = sf.get("field")
        if field is None and func != "count":
            raise NotImplementedError(
                f"streaming stateful select: '{name}' ({func}) needs a field"
            )
        if frame is None:
            frame = this_frame
        elif this_frame != frame:
            raise NotImplementedError(
                "streaming stateful select: all range functions must share "
                "one frame (state is a single bounded buffer)"
            )
        if field is not None:
            if field not in df.columns:
                # loud at plan time, like the executor pane backend's
                # parse_exec_aggs — not a KeyError deep in an executor
                raise ValueError(
                    f"streaming stateful select: '{name}' names unknown "
                    f"field '{field}' (columns: {df.columns})"
                )
            if value_field is None:
                value_field = field
            elif field != value_field:
                raise NotImplementedError(
                    "streaming stateful select: all range functions must "
                    "share one field (state is a single bounded buffer)"
                )
        aggs.append((name, func))
    if not aggs:
        raise ValueError("streaming stateful select: no stateful functions")
    if value_field is None:
        raise NotImplementedError(
            "streaming stateful select: at least one range function must "
            "name a field (a field-less count alone has no value column to "
            "frame — give count the same field)"
        )
    if frame[0] == "count":
        return streaming_count_range_select(
            df, group_fields, value_field, frame[1], event_time_col,
            passthrough, aggs, offset=frame[2],
        )
    return streaming_duration_range_select(
        df, group_fields, value_field, frame[1], frame[2], event_time_col,
        passthrough, aggs,
    )
