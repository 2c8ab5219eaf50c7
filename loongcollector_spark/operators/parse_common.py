"""Shared keep/discard semantics for every parser.

The reference gives every parser the same failure matrix via
``CommonParserOptions`` (core/plugin/processor/CommonParserOptions.cpp:92-118):

- on parse FAILURE: keep the raw source value (``KeepingSourceWhenParseFail``),
  optionally copy the raw line to ``__raw_log__`` (``CopingRawLog``), or erase
  the event entirely (``ShouldEraseEvent``).
- on parse SUCCESS: optionally keep the source field
  (``KeepingSourceWhenParseSucceed``), optionally renamed.

Columnar mapping: every parser is a project, then a drop above it. The
project stages the costly parse once (a regex match, a JSON map, a split);
"erase the event" is ``keep_where`` over a verdict read from the staged
column, which sits above that projection so the parse runs once per row.
"Remove the source key" on a per-row basis = null-out the source column on
those rows (fixed schema); the ``__raw_log__`` copy is a conditional column.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RAW_LOG_KEY = "__raw_log__"


def scratch_column(df: DataFrame, base: str) -> str:
    """``base``, lengthened until no column of ``df`` has that name, so a
    temporary column never replaces an input column."""
    name = base
    while name in df.columns:
        name += "_"
    return name


def keep_where(df: DataFrame, ok: Column) -> DataFrame:
    """``df`` without the rows where ``ok`` is not true (false or NULL).

    ``ok`` is staged by a projection, and the rows are dropped by the explode
    of a zero- or one-element array above it. A Filter would be pushed below
    the projections that compute the columns ``ok`` reads, and evaluate the
    parse behind them a second time; Catalyst does not move a Generate. The
    exploded array is not a bare column, so no ``size > 0`` filter is
    inferred below it either."""
    tmp = scratch_column(df, "__keep__")
    staged = df.withColumn(tmp, ok)
    return staged.withColumn(tmp, F.explode(F.when(F.col(tmp), F.array(F.col(tmp))))).drop(tmp)


@dataclass(frozen=True)
class ParserOptions:
    keep_source_on_fail: bool = True
    keep_source_on_success: bool = False
    copy_raw_log: bool = False
    renamed_source_key: str | None = None

    def should_erase_on_fail(self) -> bool:
        # CommonParserOptions::ShouldEraseEvent: a failed event survives only
        # if the raw source is being kept somewhere.
        return not (self.keep_source_on_fail or self.copy_raw_log)


def apply_parser_options(
    df: DataFrame,
    source_key: str,
    success: Column,
    extracted: dict[str, Column],
    options: ParserOptions,
) -> DataFrame:
    """Apply the parse-fail truth table around a parser's extracted columns.

    ``success`` is a boolean Column; ``extracted`` maps new column name ->
    expression (evaluated only meaningfully when success holds). Every
    column is added in ONE projection, and every expression reads the
    input's columns. A key equal to ``source_key`` takes its extracted value
    on success, and the source rules below then apply to that value. Failed
    rows that the options erase are dropped by ``keep_where`` below that
    projection, so a ``success`` that reads a staged parse column keeps the
    parse to one evaluation per row.
    """
    cols: dict[str, Column] = {}
    for name, expr in extracted.items():
        if name in df.columns:
            # chained parsers: only successful rows overwrite a key written
            # by an earlier parser (reference parsers add contents on match
            # only — failure leaves prior contents intact)
            cols[name] = F.when(success, expr).otherwise(F.col(name))
        else:
            cols[name] = F.when(success, expr)

    if options.copy_raw_log:
        cols[RAW_LOG_KEY] = F.when(~success, F.col(source_key))

    out = df
    source = cols.get(source_key, F.col(source_key))
    if options.should_erase_on_fail():
        out = keep_where(out, success)
    elif not options.keep_source_on_fail:
        # failure rows survive only through __raw_log__; drop raw from source
        source = F.when(success, source)

    src = options.renamed_source_key or source_key
    if not options.keep_source_on_success:
        cols[src] = F.when(~success, source)
    else:
        cols[source_key] = source
    out = out.withColumns(cols)
    if src != source_key:
        if options.keep_source_on_success:
            out = out.withColumnRenamed(source_key, src)
        else:
            out = out.drop(source_key)
    return out
