"""Regex field extraction — ``processor_parse_regex_native`` /
``processor_regex``.

Reference behavior (core/plugin/processor/ProcessorParseRegexNative.cpp:181-248
and plugins/processor/regex/regex.go:55-67): match ``SourceKey`` against a
compiled regex with capture groups; on match, write group i to ``Keys[i]``;
on mismatch apply the CommonParserOptions failure matrix; the ``(.*)``
whole-line pattern takes a copy-through fast path; ``FullMatch`` toggles
anchored matching.

Spark-first: one regex pass per row, in JVM expressions fused by whole-stage
codegen. The reference compiles the regex once at Init and one match fills
every capture group; the columnar equivalent (``match_parts``) is ONE
``regexp_replace`` that rewrites a matching line into its capture groups
joined by a separator character, then one ``split``. The array is
materialized once as a temporary column that the success predicate and every
key read. A required-literal gate (``required_literal``) skips the regex on
rows that cannot match: for the nginx access-log pattern every match contains
``' - - ['``, and ``contains`` rejects other lines far cheaper than the regex.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from loongcollector_spark.operators.parse_common import ParserOptions, apply_parser_options

_FASTPATH_WHOLE_LINE = ("(.*)", "^(.*)$")

# Joins the capture groups in match_parts' output. A source value that
# contains it is split at a per-row fence instead (see match_parts), so a
# group can never contain the separator it is split at.
_SEP = "\u0000"
_FENCE_END = "\u0001"

_PARTS = "__regex_parts__"


def parse_regex(
    df: DataFrame,
    source_key: str,
    pattern: str,
    keys: Sequence[str],
    options: ParserOptions | None = None,
    full_match: bool = True,
) -> DataFrame:
    options = options or ParserOptions()

    if pattern in _FASTPATH_WHOLE_LINE and len(keys) == 1:
        # whole-line fast path (ProcessorParseRegexNative.cpp:103-121)
        return apply_parser_options(
            df, source_key, F.col(source_key).isNotNull(),
            {keys[0]: F.col(source_key)}, options,
        )

    out = df.withColumn(_PARTS, match_parts(F.col(source_key), pattern, len(keys), full_match))
    parts = F.col(_PARTS)
    extracted = {k: group(parts, i + 1) for i, k in enumerate(keys)}
    return apply_parser_options(
        out, source_key, matched(parts, len(keys)), extracted, options
    ).drop(_PARTS)


def match_parts(src: Column, pattern: str, n_groups: int, full_match: bool) -> Column:
    """``array<string>`` of ``["", group 1, ..., group n_groups]`` when ``src``
    matches ``pattern``; on a mismatch an array of another size or NULL (test
    with ``matched``, read groups with ``group``). A group that did not
    participate in the match reads ``""``, as ``regexp_extract`` gives.

    Without ``full_match`` the pattern is searched for, like ``rlike``;
    with it, the whole value must match (a final line terminator may
    follow, as Java's ``$`` allows). The ``(?s:)`` wrappers consume the
    text around the match without changing what ``.`` means inside the
    pattern."""
    anchored = f"^(?:{pattern})$" if full_match else pattern
    if n_groups == 0:
        parts = F.when(src.rlike(anchored), F.array(F.lit("")))
    else:
        wrapped = (
            f"^(?:{pattern})$(?s:.*)" if full_match else f"(?s:^.*?)(?:{pattern})(?s:.*)"
        )
        refs = [f"${i}" for i in range(1, n_groups + 1)]
        # A value that holds U+0000 is joined and split at a fence it cannot
        # hold instead: one U+0000 more than the value has, between two U+0001.
        # Splitting at one character needs no compiled pattern; only these
        # rows pay for a per-row one.
        has_sep = src.contains(_SEP)
        fence = F.concat(F.lit(_FENCE_END), F.repeat(F.lit(_SEP), F.size(F.split(src, _SEP, -1))),
                         F.lit(_FENCE_END))
        sep = F.when(has_sep, fence).otherwise(F.lit(_SEP))
        replacement = F.when(
            has_sep, F.concat(fence, F.call_function("array_join", F.array(*map(F.lit, refs)), fence))
        ).otherwise(F.lit("".join(_SEP + r for r in refs)))
        parts = F.split(F.regexp_replace(src, wrapped, replacement), sep, -1)
    lit = required_literal(pattern)
    return F.when(src.contains(lit), parts) if lit else parts


def matched(parts: Column, n_groups: int) -> Column:
    """Non-null success predicate of a ``match_parts`` column (``size`` of a
    NULL array is NULL under ANSI)."""
    return F.coalesce(F.size(parts) == n_groups + 1, F.lit(False))


def group(parts: Column, i: int) -> Column:
    """Capture group ``i`` (1-based) of a matched ``match_parts`` column."""
    return F.get(parts, F.lit(i))


def java_groups(spark: SparkSession, pattern: str) -> tuple[int, dict[str, int]]:
    """The number of capture groups of ``pattern`` as the JVM's
    ``java.util.regex.Pattern`` compiles it, and the number of each named
    group ``(?<name>...)``, so the pattern checked is the pattern that runs.
    Raises ValueError for a pattern the JVM rejects, or one whose groups
    this reader numbers differently from the JVM."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import IllegalArgumentException

    try:
        compiled = spark.sparkContext._jvm.java.util.regex.Pattern.compile(pattern)
    except (IllegalArgumentException, Py4JJavaError) as e:
        raise ValueError(str(e)) from None
    n_groups = compiled.matcher("").groupCount()
    names: dict[str, int] = {}
    seen = 0
    i, in_class = 0, 0  # in_class: nesting depth of character classes
    while i < len(pattern):
        if pattern.startswith("\\Q", i):
            end = pattern.find("\\E", i + 2)
            i = len(pattern) if end < 0 else end + 2
            continue
        c = pattern[i]
        if c == "\\":
            i += 1
        elif c == "[":
            in_class += 1
            if pattern.startswith("]", i + 1) or pattern.startswith("^]", i + 1):
                i = pattern.index("]", i)  # a leading ']' is a member
        elif c == "]" and in_class:
            in_class -= 1
        elif c == "(" and not in_class:
            if not pattern.startswith("?", i + 1):
                seen += 1
            elif pattern.startswith("?<", i + 1) and pattern[i + 3: i + 4].isalpha():
                seen += 1
                names[pattern[i + 3: pattern.index(">", i)]] = seen
        i += 1
    if seen != n_groups:
        raise ValueError(f"cannot number the groups of {pattern!r}")
    return n_groups, names


# escapes that stand for one character (\t) or match a class or a position
# without reading a payload (\d, \b); any other letter or digit escape has a
# payload (\x41, \p{L}, \k<n>, \1) and makes required_literal give up
_ESCAPED_CHAR = {"t": "\t", "n": "\n", "r": "\r", "f": "\f"}
_ESCAPED_CLASS = set("dDsSwWbBAGZzhHvVRX")
_NAMED_OPEN = re.compile(r"\(\?<[A-Za-z][A-Za-z0-9]*>")


def required_literal(pattern: str) -> str | None:
    """The longest run of literal characters that every match of ``pattern``
    must contain, or None.

    Reads the top-level sequence. An unquantified group without a top-level
    ``|`` of its own is matched exactly once, so its sequence is read as part
    of the enclosing one; any other group, a character class, a dot, an
    anchor or a class escape ends a run. A character quantified by ``?``,
    ``*`` or ``{m,n}`` is dropped from its run, one quantified by ``+`` ends
    it. Gives None for a pattern with a top-level ``|``, an inline flag,
    ``\\Q``, a nested class or an escape this reader does not know, so that a
    literal it returns is always sound."""
    runs: list[str] = []
    run = ""
    entered = 0  # groups read as part of the sequence whose ')' is ahead
    i, n = 0, len(pattern)

    def end_run():
        nonlocal run
        runs.append(run)
        run = ""

    while i < n:
        c = pattern[i]
        i += 1
        if c == "\\":
            e = pattern[i: i + 1]
            i += 1
            if e and not e.isalnum():
                run += e
            elif e in _ESCAPED_CHAR:
                run += _ESCAPED_CHAR[e]
            elif e in _ESCAPED_CLASS:
                end_run()
            else:
                return None
        elif c == "[":
            i = _class_end(pattern, i - 1)
            if i is None:
                return None
            end_run()
        elif c == "(":
            end = _group_end(pattern, i - 1)
            if end is None:
                return None
            body = _group_body(pattern, i - 1)
            if (body is not None and pattern[end: end + 1] not in ("?", "*", "+", "{")
                    and not _has_alternation(pattern, body, end - 1)):
                i = body
                entered += 1
            else:
                end_run()
                i = end
        elif c == ")":
            if not entered:
                return None
            entered -= 1
        elif c in "*?+{":
            # a quantifier on the character just added to the run
            if c == "{":
                i = pattern.find("}", i) + 1
                if i == 0:
                    return None
            if c != "+":
                run = run[:-1]
            end_run()
            if pattern[i: i + 1] in ("?", "+"):  # lazy / possessive suffix
                i += 1
        elif c == "|":
            return None
        elif c in ".^$}]":
            end_run()
        else:
            run += c
    end_run()
    best = max(runs, key=len)
    return best or None


def _group_body(pattern: str, start: int) -> int | None:
    """Index where the body of the group opened at ``start`` begins, for a
    capturing or ``(?:`` group; None for a lookaround or atomic group."""
    if not pattern.startswith("(?", start):
        return start + 1
    if pattern.startswith("(?:", start):
        return start + 3
    m = _NAMED_OPEN.match(pattern, start)
    return m.end() if m else None


def _has_alternation(pattern: str, lo: int, hi: int) -> bool:
    """Whether ``pattern[lo:hi]`` has a ``|`` outside its groups and classes."""
    depth = 0
    i = lo
    while i < hi:
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if c == "[":
            i = _class_end(pattern, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "|" and depth == 0:
            return True
        i += 1
    return False


def _group_end(pattern: str, start: int) -> int | None:
    """Index just past the group opened at ``start``; None for a group with
    an inline flag such as ``(?i)`` / ``(?s:...)`` anywhere inside it, or an
    unbalanced one."""
    depth = 0
    i, n = start, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\":
            if pattern.startswith("\\Q", i):
                return None
            i += 2
            continue
        if c == "[":
            end = _class_end(pattern, i)
            if end is None:
                return None
            i = end
            continue
        if c == "(":
            if pattern.startswith("(?", i) and pattern[i + 2: i + 3] not in (":", "=", "!", "<", ">"):
                return None
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return None


def _class_end(pattern: str, start: int) -> int | None:
    """Index just past the character class opened at ``start``; None for a
    nested class, a class whose first member is ``]``, or an unclosed one."""
    i = start + 1
    if pattern.startswith("^", i):
        i += 1
    if pattern.startswith("]", i):
        return None
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\":
            if pattern.startswith("\\Q", i):
                return None
            i += 2
            continue
        if c == "[":
            return None
        if c == "]":
            return i + 1
        i += 1
    return None
