"""Grok pattern compiler + operator — ``processor_grok``.

Reference (plugins/processor/grok/processor_grok.go): a pattern dictionary is
topo-expanded into plain regexes at Init (lines 218-258, with cycle
detection); at runtime the ``Match`` list is tried FIRST-MATCH-WINS per log
(lines 105-133); named captures ``%{NAME:alias}`` become fields, with optional
``:int``/``:float`` type annotations (lines 48-49).

Spark-first: the grok→regex compilation happens entirely at PLAN TIME in
Python (the driver), exactly mirroring the reference's Init-time expansion —
the executors only ever see compiled regexes. Matching is one regex pass per
row and pattern, in JVM expressions (``parse_regex.match_parts``): a
``regexp_replace`` rewrites a matching line into all of its captures at once,
materialized as a temporary array column. Pattern i runs only on rows that
no earlier pattern matched, behind the pattern's required-literal gate.

Capture aliases keep their ORIGINAL spelling in the output (internally each
capture gets a unique synthetic group name ``gN``, sidestepping Java/Python
restrictions on group-name characters and duplicate names; for a repeated
alias within one pattern, the last NON-EMPTY occurrence wins — matching the
reference's skip-empty capture-append order, processor_grok.go:146-153 —
which is what lets alternation patterns alias the same field per branch).

The builtin dictionary lives in grok_patterns.GROK_LIBRARY (~190 fresh-bodied
definitions of the public pattern names bundled by the reference under
example_config/processor_grok_patterns/, now covering every family: core,
httpd, java, haproxy, linux-syslog, aws, bind, bro, exim, firewall, junos,
mongodb, nagios, postgresql, rails, redis, ruby, squid, bacula).
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from loongcollector_spark.operators.grok_patterns import GROK_LIBRARY
from loongcollector_spark.operators.parse_common import keep_where
from loongcollector_spark.operators.parse_regex import group, match_parts, matched

BUILTIN_PATTERNS: dict[str, str] = dict(GROK_LIBRARY)

_REF_RE = re.compile(r"%\{(\w+)(?::([\w.\-\[\]]+))?(?::(\w+))?\}")
_NAMED_GROUP_RE = re.compile(r"\(\?<([A-Za-z][A-Za-z0-9]*)>")
_SPARK_TYPES = {"int": "long", "long": "long", "float": "double", "double": "double"}


class GrokCycleError(ValueError):
    pass


@dataclass(frozen=True)
class GrokCapture:
    group: str  # synthetic unique group name gN (== capture index N)
    alias: str  # user-facing field name, original spelling
    spark_type: str  # string | long | double


def _decapture(body: str) -> str:
    """Turn raw capturing groups into non-capturing so the only captures in
    the expanded regex are the synthetic %{...:alias} groups (keeps group
    indexes == gN numbers). Inline NAMED groups ``(?<name>...)`` are also
    neutralized: fields surface only via %{NAME:alias}, and third-party
    pattern files (exim, bacula, rails) use Onigmo-style names/duplicates
    that Java and Python reject — as plain groups they load fine.
    Lookbehinds ``(?<=``/``(?<!`` are untouched."""
    body = re.sub(r"(?<!\\)\((?!\?)", "(?:", body)
    return re.sub(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>", "(?:", body)


def _expand(
    pattern: str,
    patterns: dict[str, str],
    stack: tuple[str, ...],
    caps: list[GrokCapture] | None,
) -> str:
    def repl(m: re.Match) -> str:
        name, alias, typ = m.group(1), m.group(2), m.group(3)
        if name in stack:
            raise GrokCycleError(f"grok pattern cycle: {' -> '.join(stack)} -> {name}")
        if name not in patterns:
            raise KeyError(f"unknown grok pattern %{{{name}}}")
        body = _expand(_decapture(patterns[name]), patterns, stack + (name,), caps)
        if alias:
            if caps is None:
                return f"(?:{body})"
            gname = f"g{len(caps) + 1}"
            caps.append(
                GrokCapture(gname, alias, _SPARK_TYPES.get(typ or "", "string"))
            )
            return f"(?<{gname}>{body})"
        return f"(?:{body})"

    return _REF_RE.sub(repl, pattern)


def expand_grok(
    pattern: str,
    dictionary: dict[str, str] | None = None,
    _stack: tuple[str, ...] = (),
) -> str:
    """Topo-expand %{NAME[:alias[:type]]} references into one flat regex
    (mirrors processor_grok.go:218-258 incl. cycle detection). Aliased
    references become non-capturing here; use compile_grok for captures."""
    patterns = {**BUILTIN_PATTERNS, **(dictionary or {})}
    return _expand(pattern, patterns, _stack, None)


def _to_python(regex: str) -> str:
    """Java named groups -> Python named groups (group bodies are written in
    the syntax subset Java and Python regex share)."""
    return _NAMED_GROUP_RE.sub(r"(?P<\1>", regex)


def compile_grok(
    pattern: str, dictionary: dict[str, str] | None = None
) -> tuple[str, list[tuple[str, str]]]:
    """Compile grok → (java_regex, [(alias, spark_type)]) in capture order.
    Validated eagerly at plan time."""
    regex, caps = compile_grok_full(pattern, dictionary)
    return regex, [(c.alias, c.spark_type) for c in caps]


def compile_grok_full(
    pattern: str, dictionary: dict[str, str] | None = None
) -> tuple[str, list[GrokCapture]]:
    patterns = {**BUILTIN_PATTERNS, **(dictionary or {})}
    caps: list[GrokCapture] = []
    regex = _expand(_decapture(pattern), patterns, (), caps)
    re.compile(_to_python(regex))  # plan-time validation
    return regex, caps


def _alias_occurrences(caps: Sequence[GrokCapture]) -> dict[str, list[GrokCapture]]:
    """All occurrences of each alias, in capture order. The reference skips
    EMPTY captures and applies the rest in order (processor_grok.go:146-153:
    ``Capture.String() != ""``), so a repeated alias resolves to its last
    NON-EMPTY occurrence — which is what makes alternation patterns with
    per-branch aliases (NAGIOSLOGLINE) work: the matched branch's groups are
    non-empty, the others extract as "" and are skipped."""
    out: dict[str, list[GrokCapture]] = {}
    for c in caps:
        out.setdefault(c.alias, []).append(c)
    return out


def parse_grok(
    df: DataFrame,
    source_key: str,
    match: Sequence[str],
    dictionary: dict[str, str] | None = None,
    ignore_parse_failure: bool = True,
    keep_source: bool = True,
) -> DataFrame:
    """Try each grok pattern in order, first-match-wins
    (processor_grok.go:105-173)."""
    compiled = [compile_grok_full(p, dictionary) for p in match]
    # output field order: first appearance across the Match list
    all_keys: list[tuple[str, str]] = []
    seen: set[str] = set()
    for _, caps in compiled:
        for c in caps:
            if c.alias not in seen:
                seen.add(c.alias)
                all_keys.append((c.alias, c.spark_type))

    # first-match-wins is per ROW across the whole Match list: the winning
    # pattern supplies ALL captures; later patterns never run for that row
    # even for aliases the winner lacks (processor_grok.go:105-133 breaks
    # out of the loop on the first successful match). Each pattern's
    # captures land in their own temporary column, evaluated only on rows
    # no earlier pattern matched.
    src = F.col(source_key)
    parts = [f"__grok_parts_{i}__" for i in range(len(compiled))]
    hits: list[Column] = []
    any_match: Column = F.lit(False)
    out = df
    for i, (regex, caps) in enumerate(compiled):
        out = out.withColumn(
            parts[i], F.when(~any_match, match_parts(src, regex, len(caps), full_match=False))
        )
        hits.append(matched(F.col(parts[i]), len(caps)))
        any_match = any_match | hits[i]

    # Java group NUMBERS follow group-OPEN order in the final regex, which
    # differs from capture-creation order when an aliased pattern nests
    # aliased sub-patterns (the outer group opens first but is named last) —
    # scan the regex for the positional index of each synthetic name
    group_pos = [
        {m.group(1): j for j, m in enumerate(_NAMED_GROUP_RE.finditer(regex), start=1)}
        for regex, _ in compiled
    ]

    fields: dict[str, Column] = {}
    for alias, typ in all_keys:
        expr: Column = F.lit(None).cast("string")
        for i in range(len(compiled) - 1, -1, -1):
            occs = _alias_occurrences(compiled[i][1]).get(alias)
            if not occs:
                continue
            values = [group(F.col(parts[i]), group_pos[i][c.group]) for c in occs]
            if len(values) == 1:
                val = values[0]
            else:
                # last non-empty occurrence wins; "" only if all empty
                val = F.coalesce(*[F.nullif(v, F.lit("")) for v in reversed(values)], F.lit(""))
            expr = F.when(hits[i], val).otherwise(expr)
        if typ != "string":
            # try_cast: an empty/non-participating capture under a typed
            # alias yields null instead of an ANSI cast error (the reference
            # skips empty captures entirely)
            expr = expr.try_cast(typ)
        fields[alias] = expr

    if not ignore_parse_failure:
        out = keep_where(out, any_match)
    if not keep_source:
        fields[source_key] = F.when(~any_match, src)
    return out.withColumns(fields).drop(*parts)


def translate_onigmo(body: str) -> str:
    """Translate the Onigmo/Ruby-only constructs that appear in third-party
    pattern bundles into equivalents both Java regex (Spark) and Python ``re`` (plan-time
    validation) accept, preserving Onigmo SEMANTICS:

    - ``\\h`` / ``\\H`` are HEX-digit classes in Onigmo (not PCRE horizontal
      whitespace) → ``[0-9a-fA-F]`` / ``[^0-9a-fA-F]``;
    - Ruby's ``(?m)`` flag means DOTALL (Python/Java ``s``, not multiline)
      and applies from its position to the end of the enclosing group →
      rewrite the remainder as a scoped ``(?s:...)`` group, which is legal
      mid-pattern in Java and Python regex (Python rejects a bare global flag that
      is not at the very start).

    The rewrite is a real scanner, not a blind substitution: inside a
    character class ``\\h`` becomes class CONTENT (``0-9a-fA-F`` — wrapping
    a bracket class there would corrupt the class), and the ``(?s:`` scope
    closes at the end of the ENCLOSING group (depth-tracked), never past a
    ``)`` that belongs to an outer group. In-class ``\\H`` has no positive
    class-content equivalent and is left for the compiler to reject loudly."""

    def _scan_hex(s: str) -> str:
        out: list[str] = []
        in_class = False
        just_opened = False
        i, n = 0, len(s)
        while i < n:
            c = s[i]
            if c == "\\" and i + 1 < n:
                nxt = s[i + 1]
                if nxt == "h":
                    out.append("0-9a-fA-F" if in_class else "[0-9a-fA-F]")
                elif nxt == "H" and not in_class:
                    out.append("[^0-9a-fA-F]")
                else:
                    out.append(c + nxt)
                i += 2
                just_opened = False
                continue
            if not in_class and c == "[":
                in_class = True
                just_opened = True
                out.append(c)
                i += 1
                if i < n and s[i] == "^":
                    out.append("^")
                    i += 1
                continue
            if in_class:
                if c == "]" and not just_opened:
                    in_class = False
                just_opened = False
            out.append(c)
            i += 1
        return "".join(out)

    def _scope_dotall(s: str) -> str:
        # rewrite the FIRST top-level (?m) (outside classes/escapes) as a
        # (?s:...) scope ending at the enclosing group's ')' (depth-aware)
        in_class = False
        just_opened = False
        i, n = 0, len(s)
        idx = -1
        while i < n:
            c = s[i]
            if c == "\\" and i + 1 < n:
                i += 2
                just_opened = False
                continue
            if not in_class and s.startswith("(?m)", i):
                idx = i
                break
            if not in_class and c == "[":
                in_class = True
                just_opened = True
            elif in_class:
                if c == "]" and not just_opened:
                    in_class = False
                just_opened = False
            i += 1
        if idx < 0:
            return s
        head, rest = s[:idx], s[idx + 4:]
        # find where the enclosing group closes inside `rest`
        depth = 0
        in_class = False
        just_opened = False
        j, m = 0, len(rest)
        end = m
        while j < m:
            c = rest[j]
            if c == "\\" and j + 1 < m:
                j += 2
                just_opened = False
                continue
            if not in_class:
                if c == "[":
                    in_class = True
                    just_opened = True
                elif c == "(":
                    depth += 1
                elif c == ")":
                    if depth == 0:
                        end = j
                        break
                    depth -= 1
            else:
                if c == "]" and not just_opened:
                    in_class = False
                just_opened = False
            j += 1
        return f"{head}(?s:{rest[:end]}){rest[end:]}"

    body = _scan_hex(body)
    prev = None
    while prev != body:  # each pass consumes one (?m); terminates
        prev = body
        body = _scope_dotall(body)
    return body


def load_pattern_file(path: str) -> dict[str, str]:
    """Parse one grok pattern file in the reference's on-disk format
    (processor_grok.go addPatternsFromPath, lines 176-208): each non-empty
    line not starting with '\"' is ``NAME<space>body``; quote-prefixed lines
    are comments. Onigmo-only syntax is translated (see translate_onigmo)
    so the full reference bundle compiles."""
    out: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line or line[0] == '"':
                continue
            name, _, body = line.partition(" ")
            if name and body:
                out[name] = translate_onigmo(body)
    return out


def load_pattern_dir(path: str) -> dict[str, str]:
    """Patterns from a directory, single file, or glob (CustomPatternDir
    config key; processor_grok.go:176-188 stats the path and globs dirs as
    ``dir/*`` but also accepts a file or glob verbatim) — later files win on
    duplicate names, like the reference's map overwrite. A path matching
    nothing raises instead of silently loading zero patterns.
    NB: third-party files may use Onigmo-only syntax (\\h, mid-pattern
    (?m)); compile_grok validates at plan time, so incompatible entries
    fail loudly when referenced, not silently at load."""
    import glob as _glob
    import os as _os

    pattern = _os.path.join(path, "*") if _os.path.isdir(path) else path
    files = [f for f in sorted(_glob.glob(pattern)) if _os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no grok pattern files at {path!r}")
    out: dict[str, str] = {}
    for f in files:
        out.update(load_pattern_file(f))
    return out
