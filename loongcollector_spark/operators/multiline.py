"""Multiline split/merge — the one owner of the multiline semantics.

Reference: ``ProcessorSplitMultilineLogStringNative`` /
``ProcessorMergeMultilineLogNative`` (core/plugin/processor/inner/...h) merge
consecutive lines into one event using Start/Continue/End regexes
(core/file_server/MultilineOptions.h:29-51); unmatched lines are discarded
or emitted single-line; BY_FLAG mode (container partial-log chunks) is a
mode of the same merge processor (ProcessorMergeMultilineLogNative.h:26-51).

One automaton, two executions. A config normalizes into a ``Mode`` (shape,
joiner, trailing-block flush); ``line_flags`` projects each line to
``__s__``/``__c__``/``__e__`` = ``coalesce(line.rlike(p), false)`` — each
pattern matched once, in the JVM;
BY_FLAG is the end-only shape with ``__e__ = NOT coalesce(flag, false)``.
Batch (here) turns the booleans into window passes over (file, offset) and
one groupBy on (file, session) — deterministic because our inputs carry
offsets (the reference needs per-file byte order too); the stream
(streaming/multiline.py) feeds them to one GroupState step function. One
shuffle on the file key; at scale the input should already be partitioned
by file so AQE keeps this local.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

UNMATCH_DISCARD = "discard"
UNMATCH_SINGLE_LINE = "single_line"
FLAG_COLS = ("__s__", "__c__", "__e__")


@dataclass(frozen=True)
class Mode:
    """A normalized multiline config. ``shape`` names the automaton:
    'start', 'start_continue', 'start_end', 'continue_end' or 'end'.
    BY_FLAG (``flag_col`` set; MergeLogsByFlag,
    ProcessorMergeMultilineLogNative.cpp:113-158) runs the 'end' shape:
    a block ends at the first non-partial row, inclusive."""

    start: str | None = None
    cont: str | None = None
    end: str | None = None
    unmatched: str = UNMATCH_SINGLE_LINE
    flag_col: str | None = None

    @property
    def shape(self) -> str:
        if self.flag_col:
            return "end"
        named = (("start", self.start), ("continue", self.cont), ("end", self.end))
        return "_".join(n for n, p in named if p)

    @property
    def joiner(self) -> str:
        # BY_FLAG chunks concatenate with no separator (MergeEvents,
        # insertLineBreak=false)
        return "" if self.flag_col else "\n"

    @property
    def flush_merged(self) -> bool:
        """A trailing open block flushes merged when there is no end to
        wait for (.cpp:253-283; BY_FLAG, ProcessorMergeMultilineLogNative
        .cpp:154-157); else it replays unmatched (.cpp:295-308)."""
        return bool(self.flag_col) or not self.end


def rule_mode(
    start_pattern: str | None,
    continue_pattern: str | None,
    end_pattern: str | None,
    unmatched: str,
) -> Mode | None:
    """The config normalization of ``MultilineOptions.cpp:125-151`` (see
    merge_multiline_rules); None for continue-only, where every line stays
    its own event. ``unmatched`` must be 'single_line' or 'discard'."""
    if unmatched not in (UNMATCH_SINGLE_LINE, UNMATCH_DISCARD):
        raise ValueError(
            f"unmatched must be {UNMATCH_SINGLE_LINE!r} or "
            f"{UNMATCH_DISCARD!r}, got {unmatched!r}"
        )
    if start_pattern and continue_pattern and end_pattern:
        warnings.warn(
            "Start+Continue+End all set: ContinuePattern ignored "
            "(MultilineOptions.cpp:139-151)", stacklevel=3,
        )
        continue_pattern = None
    if continue_pattern and not start_pattern and not end_pattern:
        warnings.warn(
            "ContinuePattern without Start/End: multiline config ignored "
            "(MultilineOptions.cpp:125-138)", stacklevel=3,
        )
        return None
    if not (start_pattern or end_pattern):
        raise ValueError("need at least one of start/continue/end pattern")
    return Mode(start_pattern, continue_pattern, end_pattern, unmatched)


def line_flags(df: DataFrame, line_col: str, mode: Mode) -> DataFrame:
    """Project each line to the automaton's input booleans (``FLAG_COLS``)
    and drop the partial-flag column. A NULL line matches no pattern; a
    NULL partial flag counts as not partial — parse_container_log writes
    False for every line without a P tag."""
    def match(pattern):
        if not pattern:
            return F.lit(False)
        return F.coalesce(F.col(line_col).rlike(pattern), F.lit(False))

    if mode.flag_col:
        flags = [F.lit(False), F.lit(False),
                 ~F.coalesce(F.col(mode.flag_col), F.lit(False))]
    else:
        flags = [match(mode.start), match(mode.cont), match(mode.end)]
    return df.select(
        *[c for c in df.columns if c != mode.flag_col],
        *[f.alias(n) for f, n in zip(flags, FLAG_COLS)],
    )


def passthrough(
    df: DataFrame, line_col: str, file_col: str, offset_col: str,
    merged_col: str, keep: list,
) -> DataFrame:
    """Every line its own event, in the merge's output shape."""
    return df.select(
        file_col,
        F.col(offset_col).cast("long").alias(offset_col),
        F.col(line_col).alias(merged_col),
        *keep,
    )


def _assemble_blocks(
    tagged: DataFrame,
    line_col: str,
    file_col: str,
    offset_col: str,
    merged_col: str,
    mode: Mode,
    keep: list,
) -> DataFrame:
    """Shared emission stage for every mode.

    ``keep``: extra input columns to carry through — a merged block
    keeps the FIRST line's values (MergeEvents keeps logEvents[0],
    ProcessorMergeMultilineLogNative.cpp MergeEvents), while unmatched
    replay and singles keep each line's OWN values (HandleUnmatchLogs
    re-emits the original events untouched).

    ``tagged`` must carry three boolean/int helper columns:

    - ``__in_block__``  — the line belongs to some block (session);
    - ``__mls__``       — session id, >= 1 where ``__in_block__``;
    - ``__matched__``   — per-LINE matched marker; a block is emitted as
      one merged event iff ``bool_or(__matched__)`` over its lines (the
      reference's CreateNewEvent vs HandleUnmatchLogs split). For modes
      where every block is matched (no end pattern) pass a literal True.

    Every block is one group and every line outside blocks is a group of
    its own (keyed by its offset, so no group collects a long unmatched
    run): one pass, one shuffle. A one-line group outside blocks with
    ``__matched__`` true is a single-line MATCHED event (continue+end
    standalone end-match, ProcessorSplitMultilineLogStringNative.cpp:
    189-194) regardless of the ``unmatched`` treatment; other non-block
    lines and the lines of non-matched blocks follow HandleUnmatchLogs
    (.cpp:343-383): one event per line when 'single_line', dropped when
    'discard'."""
    ev_fields = [
        F.col(offset_col).cast("long").alias("o"),
        F.col(line_col).alias("l"),
    ] + [F.col(c).alias(c) for c in keep]
    group = F.when(F.col("__in_block__"), F.col("__mls__")).otherwise(
        -1 - F.col(offset_col).cast("long")
    )
    grouped = tagged.groupBy(file_col, group.alias("__grp__")).agg(
        F.min(offset_col).alias("__head_off__"),
        F.max(F.col("__matched__").cast("boolean")).alias("__ok__"),
        # o leads the struct and is unique per file, so array_sort
        # orders by offset regardless of the trailing fields
        F.array_sort(F.collect_list(F.struct(*ev_fields))).alias("__lines__"),
    )
    emit_singles = F.lit(mode.unmatched == UNMATCH_SINGLE_LINE)
    merged_struct = F.struct(
        F.col("__head_off__").cast("long").alias("o"),
        # array_join skips NULL lines: they add nothing to the block text
        F.array_join(F.transform("__lines__", lambda s: s["l"]), mode.joiner).alias("l"),
        # the merged event is the block's FIRST event (MergeEvents)
        *[F.element_at("__lines__", 1)[c].alias(c) for c in keep],
    )
    if mode.flag_col:
        events = merged_struct  # every BY_FLAG line is in a matched block
    else:
        events = F.explode(
            F.when(F.col("__ok__"), F.array(merged_struct)).otherwise(
                # un-matched block (unterminated / closed by a non-end
                # line) or loose line: HandleUnmatchLogs replays it line
                # by line, each event keeping its own fields
                F.when(emit_singles, F.col("__lines__")).otherwise(
                    # empty array of the SAME element type
                    F.slice(F.col("__lines__"), 1, 0)
                )
            )
        )
    return grouped.select(file_col, events.alias("__ev__")).select(
        file_col,
        F.col("__ev__.o").cast("long").alias(offset_col),
        F.col("__ev__.l").alias(merged_col),
        *[F.col(f"__ev__.{c}").alias(c) for c in keep],
    )


def _tag_sessions(
    flagged: DataFrame, mode: Mode, file_col: str, offset_col: str
) -> DataFrame:
    """Turn the per-line booleans into the ``__in_block__`` / ``__mls__`` /
    ``__matched__`` columns ``_assemble_blocks`` reads: window passes over
    (file, offset) computing the automaton's state in closed form."""
    s, c, e = (F.col(n) for n in FLAG_COLS)
    w_ord = Window.partitionBy(file_col).orderBy(offset_col)
    w_incl = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_excl = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_all = w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    shape = mode.shape

    if shape == "start_end":
        # Open/close automaton. Lines matching BOTH patterns toggle the
        # state (outside: start-check opens, .cpp:180-183; inside: the
        # end-check closes, .cpp:231-238), so the in-block state before
        # row i is (last pure start/end symbol) XOR (parity of
        # both-matching lines since it).
        t0 = flagged.withColumn("__pb__", s & e)
        t1 = t0.withColumn("__cb__", F.sum(F.col("__pb__").cast("int")).over(w_incl))
        pure = (s | e) & ~F.col("__pb__")
        t2 = (
            t1.withColumn(
                "__lsym__",
                F.last(F.when(pure, s.cast("int")), ignorenulls=True).over(w_excl),
            )
            .withColumn(
                "__lcb__",
                F.last(F.when(pure, F.col("__cb__")), ignorenulls=True).over(w_excl),
            )
            .withColumn(
                "__cbx__",
                F.coalesce(F.sum(F.col("__pb__").cast("int")).over(w_excl), F.lit(0)),
            )
        )
        state = (
            F.coalesce(F.col("__lsym__"), F.lit(0))
            + (F.col("__cbx__") - F.coalesce(F.col("__lcb__"), F.lit(0))) % 2
        ) % 2
        t3 = t2.withColumn("__open__", state == 1)
        head = s & ~F.col("__open__")
        t4 = (
            t3.withColumn("__head__", head)
            .withColumn("__close__", e & F.col("__open__"))
            .withColumn("__in_block__", head | F.col("__open__"))
        )
        return t4.withColumn(
            "__mls__", F.sum(F.col("__head__").cast("int")).over(w_incl)
        ).withColumn("__matched__", F.col("__close__"))
    if shape == "end":
        # end-only: isPartialLog from the first line (.cpp:166-170); a
        # block closes at each end-match. Lines after the last end-match
        # are unmatched (HandleUnmatchLogs at EOF, .cpp:295-308) — except
        # under BY_FLAG, whose trailing partial run flushes merged.
        t0 = flagged.withColumn(
            "__mls__", F.coalesce(F.sum(e.cast("int")).over(w_excl), F.lit(0)) + 1
        )
        if mode.flush_merged:
            in_block = F.lit(True)
        else:
            in_block = F.col("__mls__") <= F.sum(e.cast("int")).over(w_all)
        return t0.withColumn("__in_block__", in_block).withColumn(
            "__matched__", F.col("__in_block__")
        )
    if shape == "continue_end":
        # continue+end: state_before(i) == line i-1 matched continue.
        # Blocks = run of continue-matches + one closer line; matched iff
        # the closer matches end. Standalone end-match = matched single.
        t1 = flagged.withColumn(
            "__open__", F.coalesce(F.lag(c).over(w_ord), F.lit(False))
        )
        head = c & ~F.col("__open__")
        t2 = t1.withColumn("__head__", head).withColumn(
            "__in_block__", c | F.col("__open__")
        )
        return t2.withColumn(
            "__mls__", F.sum(F.col("__head__").cast("int")).over(w_incl)
        ).withColumn(
            # inside a run: only the closer (non-continue) line can match
            # the block; outside: an end-match emits as a matched single
            "__matched__",
            F.when(F.col("__in_block__"), ~c & e).otherwise(e),
        )
    if shape == "start_continue":
        # start+continue: in_block(i) = start(i) OR (cont(i) AND
        # in_block(i-1)); closed form: a start-match at or after the last
        # non-continue line (.cpp:198-205,253-283). A start absorbed by an
        # open run (matches continue too) does NOT split the block
        # (continue is checked first, .cpp:207-211).
        off = F.col(offset_col)
        t1 = (
            flagged.withColumn("__ln__", F.max(F.when(~c, off)).over(w_incl))
            .withColumn("__ls__", F.max(F.when(s, off)).over(w_incl))
            .withColumn("__lnx__", F.max(F.when(~c, off)).over(w_excl))
            .withColumn("__lsx__", F.max(F.when(s, off)).over(w_excl))
        )
        in_block = F.col("__ls__").isNotNull() & (
            F.col("__ln__").isNull() | (F.col("__ls__") >= F.col("__ln__"))
        )
        in_block_prev = F.col("__lsx__").isNotNull() & (
            F.col("__lnx__").isNull() | (F.col("__lsx__") >= F.col("__lnx__"))
        )
        t2 = t1.withColumn("__in_block__", in_block).withColumn(
            "__head__", s & (~c | ~in_block_prev)
        )
        return t2.withColumn(
            "__mls__", F.sum(F.col("__head__").cast("int")).over(w_incl)
        ).withColumn("__matched__", F.col("__in_block__"))
    # start only: a start-match opens a block, everything else absorbs,
    # every block is matched (no end pattern to wait for); leading lines
    # are unmatched
    return (
        flagged.withColumn("__mls__", F.sum(s.cast("int")).over(w_incl))
        .withColumn("__in_block__", F.col("__mls__") > 0)
        .withColumn("__matched__", F.col("__mls__") > 0)
    )


def _merge(
    df: DataFrame,
    line_col: str,
    file_col: str,
    offset_col: str,
    mode: Mode | None,
    merged_col: str | None,
    keep_fields: bool,
) -> DataFrame:
    merged_col = merged_col or line_col
    flag_col = mode.flag_col if mode else None
    keep = [
        c for c in df.columns
        if c not in (file_col, offset_col, line_col, merged_col, flag_col)
    ] if keep_fields else []
    if mode is None:
        return passthrough(df, line_col, file_col, offset_col, merged_col, keep)
    tagged = _tag_sessions(line_flags(df, line_col, mode), mode, file_col, offset_col)
    return _assemble_blocks(
        tagged, line_col, file_col, offset_col, merged_col, mode, keep
    )


def merge_by_flag(
    df: DataFrame,
    line_col: str,
    file_col: str,
    offset_col: str,
    partial_flag_col: str,
    merged_col: str | None = None,
) -> DataFrame:
    """BY_FLAG mode (ProcessorMergeMultilineLogNative.h:26-51): container
    runtimes mark partial chunks; a block ends at the first non-partial row
    (inclusive — its content is the block's tail, MergeLogsByFlag
    ProcessorMergeMultilineLogNative.cpp:113-158); a trailing partial run
    flushes merged. Merge semantics follow MergeEvents
    (:insertLineBreak=false): chunks concatenate with NO separator, the
    merged event keeps the FIRST event's other fields, and the partial-flag
    field is deleted from the output. A NULL flag counts as not partial."""
    return _merge(
        df, line_col, file_col, offset_col, Mode(flag_col=partial_flag_col),
        merged_col, keep_fields=True,
    )


def merge_multiline_rules(
    df: DataFrame,
    line_col: str,
    file_col: str,
    offset_col: str,
    start_pattern: str | None = None,
    continue_pattern: str | None = None,
    end_pattern: str | None = None,
    unmatched: str = UNMATCH_SINGLE_LINE,
    merged_col: str | None = None,
    keep_fields: bool = False,
) -> DataFrame:
    """The reference's full multiline rule set, reference-exact.

    ``keep_fields=True`` carries every other input column through: merged
    blocks keep the FIRST line's values (MergeEvents keeps logEvents[0]),
    unmatched replay keeps each line's own — needed when the merge runs
    AFTER a parser (the container chain's _time_/_source_); default False
    keeps the historical (file, offset, merged) projection.

    Semantics follow the C++ state machine in
    ``ProcessorSplitMultilineLogStringNative.cpp:167-310`` plus the config
    normalization in ``MultilineOptions.cpp:125-151`` (``rule_mode``):

    - **start only** — a start-match OPENS a block; everything until the
      next start-match is absorbed; leading lines are unmatched; the
      trailing block is emitted (no end pattern to wait for).
    - **start + continue** — a block is a start-match followed by the run
      of continue-matches; the first line matching neither flushes the
      block and is itself unmatched (or opens a new block if it matches
      start); trailing open block is emitted (.cpp:253-283).
    - **start + end** — a block spans start-match .. end-match inclusive;
      while a block is open ONLY the end pattern is consulted, so nested
      start-matches are absorbed (.cpp:231-250); an unterminated trailing
      block goes through HandleUnmatchLogs (.cpp:295-308), NOT merged
      emission; lines outside blocks are unmatched.
    - **end only** — every line belongs to a block closed by an
      end-match (isPartialLog sticks on, .cpp:166-170); lines after the
      last end-match are unmatched (.cpp:295-308).
    - **continue + end** — a block is a maximal run of continue-matches
      plus ONE closing line: if that closer matches end the block is
      emitted merged (closer included); otherwise the whole run and the
      closer are unmatched line-by-line (.cpp:218-230). A standalone
      end-match (not preceded by a continue-match) is a matched
      single-line event (.cpp:189-194); other standalone lines are
      unmatched. A trailing run with no closer is unmatched.
    - **continue only** — the reference IGNORES the multiline config
      entirely ("param Multiline.StartPattern and EndPattern are empty
      but ContinuePattern is not: ignore multiline config",
      MultilineOptions.cpp:125-138; the split processor is only inserted
      when IsMultiline(), InputFile.cpp:217): every line stays its own
      event. We warn and return the identity projection.
    - **start + continue + end** — the reference drops ContinuePattern
      with a warning (MultilineOptions.cpp:139-151) → start + end.

    A NULL line matches no pattern: it adds nothing to a merged block's
    text, and an unmatched NULL line is emitted as a NULL event.

    All modes are window passes + one groupBy on (file, session) — the
    same single shuffle shape; at scale the input should already be
    partitioned by file so AQE keeps it local.

    ``unmatched`` = 'single_line' (each unmatched line its own event) or
    'discard' (UnmatchedContentTreatment, MultilineOptions.h:32); any
    other value raises ValueError."""
    mode = rule_mode(start_pattern, continue_pattern, end_pattern, unmatched)
    return _merge(
        df, line_col, file_col, offset_col, mode, merged_col, keep_fields
    )
