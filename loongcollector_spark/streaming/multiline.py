"""Stateful streaming multiline merge — blocks that straddle micro-batches.

The reference's multiline processor keeps the current accumulating entry as
state between reads (ProcessorMergeMultilineLogNative.h:26-51; a block is
only emitted when a later line closes it or a flush timeout fires). Batch
mode handles this with window sessionization (operators/multiline.py); in
streaming, a block's head may arrive in one micro-batch and its tail in the
next, so the pending block must live in GroupState keyed by file.

Both executions share operators/multiline.py's ``Mode`` and its
``line_flags`` projection: the patterns are matched in the JVM (Java regex,
as in batch) and the one GroupState step function below reads only offsets,
the three booleans and the carried columns. Its transition table is the C++
automaton (ProcessorSplitMultilineLogStringNative.cpp:167-310); start-only
and BY_FLAG are two of its cases. Lines are processed per file in offset
order; on group-state timeout (no new lines for ``flush_timeout_ms``) the
pending block flushes as ``Mode.flush_merged`` dictates — the Batcher
timeout-flush analogue. Output is the batch shape: (file_col, offset_col
long, line_col, *other input columns), as the batch ``keep_fields`` does.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from loongcollector_spark.operators.multiline import (
    FLAG_COLS,
    UNMATCH_SINGLE_LINE,
    Mode,
    line_flags,
    passthrough,
    rule_mode,
)


def _merge_stream(
    df: DataFrame,
    line_col: str,
    file_col: str,
    offset_col: str,
    mode: Mode | None,
    flush_timeout_ms: int,
) -> DataFrame:
    flag_col = mode.flag_col if mode else None
    keep = [
        f for f in df.schema.fields
        if f.name not in (file_col, offset_col, line_col, flag_col)
    ]
    names = [f.name for f in keep]
    if mode is None:
        return passthrough(df, line_col, file_col, offset_col, line_col, names)

    out_schema = StructType(
        [
            StructField(file_col, df.schema[file_col].dataType),
            StructField(offset_col, LongType()),
            StructField(line_col, StringType()),
        ]
        + keep
    )
    # the pending block, one array per output column after the file key
    state_schema = StructType(
        [StructField(f.name, ArrayType(f.dataType)) for f in out_schema.fields[1:]]
    )
    shape, joiner, flush_merged = mode.shape, mode.joiner, mode.flush_merged
    single_line = mode.unmatched == UNMATCH_SINGLE_LINE

    def step(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        out: list = []  # event rows: (offset, line, *kept values)

        def merged(block: list) -> None:
            text = joiner.join(r[1] for r in block if r[1] is not None)
            out.append((block[0][0], text, *block[0][2:]))

        def unmatched(block: list) -> None:
            if single_line:
                out.extend(block)

        pending = [tuple(r) for r in zip(*state.get)] if state.exists else None
        if state.hasTimedOut:
            state.remove()
            if pending:
                (merged if flush_merged else unmatched)(pending)
        else:
            # applyInPandasWithState splits a group into multiple Arrow
            # chunks beyond arrow.maxRecordsPerBatch, and cross-chunk order
            # after the shuffle is arbitrary — materialize the whole group
            # and sort ONCE so >10k-line files still merge in offset order.
            chunks = [p for p in pdfs if len(p)]
            pdf = pd.concat(chunks).sort_values(offset_col) if chunks else None
            lines = [] if pdf is None else zip(
                zip(*(pdf[c].tolist() for c in (offset_col, line_col, *names))),
                *(pdf[c].tolist() for c in FLAG_COLS),
            )
            for row, s, c, e in lines:
                if pending is not None:
                    if shape in ("start", "start_continue"):
                        # continue is checked first inside a block
                        # (.cpp:207-211); start-only absorbs all but a start
                        absorbs = c if shape == "start_continue" else not s
                        if absorbs:
                            pending.append(row)
                            continue
                        # the block closes; the line is handled as outside
                        merged(pending)
                        pending = None
                    else:
                        pending.append(row)
                        if shape == "continue_end":
                            # run of continue-matches + ONE closer
                            # (.cpp:218-230)
                            if not c:
                                (merged if e else unmatched)(pending)
                                pending = None
                        elif e:
                            # start+end: while open only the end pattern is
                            # consulted (.cpp:231-250); end-only closes too
                            merged(pending)
                            pending = None
                        continue
                if shape == "end":
                    # every line absorbs (isPartialLog sticks, .cpp:166-170)
                    if e:
                        merged([row])
                    else:
                        pending = [row]
                elif shape == "continue_end":
                    # standalone end-match = matched single (.cpp:189-194)
                    if c:
                        pending = [row]
                    elif e:
                        merged([row])
                    else:
                        unmatched([row])
                elif s:
                    pending = [row]
                else:
                    unmatched([row])
            if pending:
                state.update(tuple(list(col) for col in zip(*pending)))
                state.setTimeoutDuration(flush_timeout_ms)
            elif state.exists:
                state.remove()

        if out:
            cols = list(zip(*out))
            frame = {file_col: [key[0]] * len(out)}
            frame.update(zip((offset_col, line_col, *names), cols))
            yield pd.DataFrame(frame)

    return line_flags(df, line_col, mode).groupBy(file_col).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_merge_by_flag(
    df: DataFrame,
    line_col: str,
    file_col: str,
    offset_col: str,
    partial_flag_col: str,
    flush_timeout_ms: int = 60_000,
) -> DataFrame:
    """Stateful twin of operators.multiline.merge_by_flag: partial chunks
    accumulate per file across micro-batches; a pending run with no closing
    chunk flushes merged on the group-state timeout (the reference flushes
    it at group end)."""
    return _merge_stream(
        df, line_col, file_col, offset_col, Mode(flag_col=partial_flag_col),
        flush_timeout_ms,
    )


def streaming_merge_rules(
    df: DataFrame,
    line_col: str,
    file_col: str,
    offset_col: str,
    start_pattern: str | None = None,
    continue_pattern: str | None = None,
    end_pattern: str | None = None,
    flush_timeout_ms: int = 60_000,
    unmatched: str = UNMATCH_SINGLE_LINE,
) -> DataFrame:
    """Stateful twin of operators.multiline.merge_multiline_rules — all
    Start/Continue/End combos with the batch's normalization and semantics;
    the end-of-group flush of a trailing open block runs on the state
    timeout. Continue-only is the identity projection, with no state."""
    mode = rule_mode(start_pattern, continue_pattern, end_pattern, unmatched)
    return _merge_stream(df, line_col, file_col, offset_col, mode, flush_timeout_ms)
