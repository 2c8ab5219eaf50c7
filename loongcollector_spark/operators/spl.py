"""SPL (SLS Processing Language) subset compiler — ``processor_spl``.

The reference embeds a prebuilt SPL engine (core/plugin/processor/
ProcessorSPL.h; exercised by core/unittest/spl/SplUnittest.cpp). The engine
itself is a closed library, but the language surface its unit tests exercise
is compact and maps 1:1 onto DataFrame operations — so this module compiles
that subset at PLAN TIME into a composed DataFrame, keeping every stage a
Catalyst expression:

    * | where <sql-expr>
      | extend k=<expr>[, k2=<expr>]          (Presto-flavored fns translated)
      | project c1, c2 / project-away c / project-rename new=old
      | parse-json [-prefix=p] [-path='$.a'] <col> [as k1, k2]
      | parse-regexp <col>, '<pat>' [as a, b]   (or (?<name>) groups)
      | parse-csv <col> as a, b, c
      | parse-kv -regexp <col>, '<pat>' / parse-kv -delims='<chars>' <col>
        (either form accepts a trailing ``as k1, k2`` key list)
      | stats <agg> as <name>[, ...] by k1, k2   (count()/sum/avg/min/max …)
      | sort by c1 [desc][, c2 ...]              (total order: range shuffle)
      | limit N

Dynamic-key stages (parse-json / parse-kv) need the key set at plan time.
Three resolution modes, cheapest first:

    1. explicit ``as k1, k2`` on the stage — ZERO extra jobs (the 100 TB
       path; the key set is part of the plan, like the reference's
       per-config field lists);
    2. ``compile_spl(..., sample_rows=N)`` — discovery scans only the
       first N rows of the source column (one LIMIT-bounded, column-pruned
       job per dynamic stage); keys absent from the sample are missed, so
       use it when the key universe is stable across rows;
    3. default full discovery — one distinct-scan of the source column per
       dynamic stage (column-pruned but full-table; fine at test scale,
       explicit keys are the scale path).

Rows lacking a key get null, matching the reference's per-row contents.
Every key of one stage reads one parse of the row: parse-json reads its
members from one ``from_json`` map (``parse_json.json_object_map``), and
parse-regexp reads its groups from one match (``parse_regex.match_parts``),
the pattern compiled by the JVM when the stage compiles. Discovery is the
shared ``parse_kv.discover_keys``.

Multi-statement scripts (the ProcessorSPL contract, exercised by
SplUnittest.cpp TestMultiParse) compile via :func:`compile_spl_multi`:

    .let src = * | parse-json content;
    .let ds1 = $src | where type = 'kv' | parse-kv -delims='&?' message;
    $ds1;
    .let ds2 = $src | where type = 'csv' | parse-csv message as x, y, z;
    $ds2;

``.let name = <pipeline>`` binds a dataset (head ``*`` = the input, or
``$other`` = a prior binding); a ``$name`` statement (optionally with more
``| stage``s) EMITS that dataset as a result branch. Branches come back as
an ordered ``[(name, DataFrame), ...]`` — the Spark analogue of the
reference returning one PipelineEventGroup per SPL result, which the caller
routes to per-branch sinks (see ``spl_fanout``). Bindings are lazy logical
plans: Catalyst dedups the shared prefix per-branch, and callers writing
all branches should persist the input once (pipeline.py does).

Expression translation (:func:`_translate_expr`) is a quote/paren-aware
bottom-up call rewriter mapping the Presto function dialect onto Spark SQL:
renames (json_extract -> get_json_object, strpos -> instr, to_unixtime ->
unix_timestamp, approx_distinct -> approx_count_distinct, ...), arg-aware
rewrites (url_extract_* -> parse_url, date_add/date_diff('unit', ...) ->
timestampadd/timestampdiff, bitwise_* -> infix operators, to_utf8/from_utf8
-> encode/decode), and PRESTO-semantics fixes where the shared name
diverges (split/split_part/split_to_map treat delimiters as LITERALS,
regexp_extract returns NULL on no-match / '' on empty capture and defaults
to group 0, date_format/date_parse use MySQL %-patterns, random(n) draws
integers in [0,n), element_at is NULL past the end, day_of_week is ISO
Mon=1, from_unixtime returns a TIMESTAMP, truncate goes toward zero,
to_hex over md5/sha* composes with Spark's hex-string-returning hash
functions, double-quoted identifiers become backtick identifiers,
strpos(s, sub, n) unrolls a locate() chain for literal n, try() maps onto
Spark's try_ family for cast/to_timestamp/to_date/element_at shapes).
Constructs with no faithful Spark mapping (non-literal strpos instance,
week-year %-specifiers, zoned from_unixtime, try() over arbitrary
arithmetic, the hmac_*/spooky_*/xxhash64 hash family — Spark's xxhash64
is a DIFFERENT value under the same name) raise SplError at plan time
rather than silently computing something else. Unrecognized names pass
through to F.expr — Spark SQL's own surface covers the rest (the full
trig/array/map/lambda family is name-and-semantics identical; map_concat
needs spark.sql.mapKeyDedupPolicy=LAST_WIN for Presto's
duplicate-key-last-wins rule).

``stats`` compiles to groupBy().agg() — partial aggregation map-side, only
(group, partial) rows shuffle. ``sort by`` is a TOTAL order (Spark range
partitions + shuffles); prefer ``stats ... | sort`` on the already-reduced
result, as the reference engine's own stats-then-sort idiom does.

Error / quota contract (ProcessorSPL::Init, ProcessorSPL.cpp:35-101 +
ProcessorSPL.h:33-34 defaults; mapping enforced by
:func:`validate_spl_config`):

    ======================  =====================  ==========================
    reference knob           reference behavior     here
    ======================  =====================  ==========================
    Script (mandatory)       missing -> Init fails  SplError at init
    logtail_spl_query_max_   script > 65536 B ->    SplError at init AND at
    size flag (65536)        Init fails             every compile_spl* call
    invalid script           Init fails ("failed    SplError at compile (plan
                             to parse spl")         build — Spark plans lazily,
                                                    so init validates shape/
                                                    size, the stage grammar
                                                    errors on first compile)
    TimeoutMilliSeconds      non-uint -> warn +     normalized to default
    (default 1000)           default; runtime       1000; per-OPERATOR wall
                             abort + timeout        clocks don't exist in
                             counter                Spark's execution model —
                                                    the cluster-side analogue
                                                    is job-group cancellation
                                                    (sc.cancelJobGroup) /
                                                    spark.task.reaper.*, and
                                                    structured streaming
                                                    trigger intervals bound
                                                    per-batch latency
    MaxMemoryBytes           non-uint -> warn +     normalized to default
    (default 50 MiB)         default; runtime       50 MiB; per-operator
                             abort + mem counter    memory caps are replaced
                                                    by executor memory +
                                                    spill-to-disk (Tungsten),
                                                    so exceeding it degrades
                                                    to spill, never an abort
    logtail_spl_pipeline_    16 concurrent SPL      N/A — Spark's scheduler
    quota flag               pipelines per agent    pools own concurrency
    error counters           proc_spl_*_count       SplError raised to the
                             metrics                caller; pipeline-level
                                                    fail counts via observe()
                                                    metrics (metrics.py)
    ======================  =====================  ==========================
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class SplError(ValueError):
    pass


# ProcessorSPL.cpp:26-27 flag defaults + ProcessorSPL.h:33-34 member inits
SPL_QUERY_MAX_SIZE = 65536
SPL_DEFAULT_TIMEOUT_MILLS = 1000
SPL_DEFAULT_MAX_MEMORY_BYTES = 50 * 1024 * 1024


def _uint_or_default(value, default: int) -> int:
    """GetOptionalUIntParam semantics (ParamExtractor): absent -> default;
    present but not a non-negative integer -> WARN + default (the reference
    logs PARAM_WARNING_DEFAULT and keeps going, never aborts)."""
    if value is None:
        return default
    if isinstance(value, bool):
        return default
    if isinstance(value, int) and value >= 0:
        return value
    if isinstance(value, str) and value.isdigit():
        return int(value)
    return default


def validate_spl_config(config: dict) -> dict:
    """Replicate ProcessorSPL::Init's config validation (see the module-doc
    mapping table): Script is mandatory and capped at SPL_QUERY_MAX_SIZE
    bytes (both Init failures -> SplError, i.e. the config is rejected);
    TimeoutMilliSeconds / MaxMemoryBytes normalize to their defaults when
    invalid (the reference warns and keeps the default). Returns the
    normalized {script, timeout_mills, max_memory_bytes}."""
    script = config.get("Script")
    if not isinstance(script, str) or not script.strip():
        raise SplError("processor_spl: mandatory string param Script is missing")
    if len(script.encode()) > SPL_QUERY_MAX_SIZE:
        raise SplError(
            f"processor_spl: Script exceeds logtail_spl_query_max_size "
            f"({len(script.encode())} > {SPL_QUERY_MAX_SIZE} bytes)"
        )
    return {
        "script": script,
        "timeout_mills": _uint_or_default(
            config.get("TimeoutMilliSeconds"), SPL_DEFAULT_TIMEOUT_MILLS
        ),
        "max_memory_bytes": _uint_or_default(
            config.get("MaxMemoryBytes"), SPL_DEFAULT_MAX_MEMORY_BYTES
        ),
    }


def _scan_quote(s: str, i: int) -> int:
    """s[i] is a quote char; return the index just past the closing quote.
    A DOUBLED quote char inside the span is the SQL escape for itself
    (Presto '' inside '...', "" inside \"...\") and does not close it.
    The single shared quote scanner — every depth/split/escape pass in this
    module routes through it so escape handling cannot drift apart.
    An unterminated span swallows the rest of the string (the surrounding
    parser then fails with its own clearer error)."""
    q = s[i]
    j, n = i + 1, len(s)
    while j < n:
        if s[j] == q:
            if j + 1 < n and s[j + 1] == q:
                j += 2
                continue
            return j + 1
        j += 1
    return n


def _split_top(s: str, sep: str) -> list[str]:
    """Split on a separator at depth 0: quotes ('...' / "...") and
    parentheses protected. When splitting stages on '|', the SQL
    string-concat operator '||' is NOT a separator."""
    parts, buf, depth = [], [], 0
    i = 0
    while i < len(s):
        ch = s[i]
        if ch in "'\"":
            j = _scan_quote(s, i)
            buf.append(s[i:j])
            i = j
            continue
        if ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep == "|" and i + 1 < len(s) and s[i + 1] == "|" and depth == 0:
            buf.append("||")
            i += 1
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _rsplit_as(s: str) -> tuple[str, str] | None:
    """Split at the LAST top-level ' as ' (quote/paren aware) — the word
    'as' inside a quoted regex must not terminate the pattern."""
    depth = 0
    best = None
    i = 0
    while i < len(s):
        ch = s[i]
        if ch in "'\"":
            i = _scan_quote(s, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and re.match(r"\s[aA][sS]\s", s[i : i + 4]):
            best = i
        i += 1
    if best is None:
        return None
    return s[:best], s[best + 4 :]


_MYSQL_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy",
    "%M": "MMMM", "%b": "MMM", "%m": "MM", "%c": "M",
    "%d": "dd", "%e": "d", "%j": "DDD",
    "%W": "EEEE", "%a": "EEE",
    "%H": "HH", "%k": "H", "%h": "hh", "%I": "hh", "%l": "h",
    "%i": "mm", "%s": "ss", "%S": "ss", "%f": "SSSSSS",
    "%T": "HH:mm:ss", "%r": "hh:mm:ss a", "%p": "a",
    "%%": "%",
}


def _mysql_format_to_java(fmt: str) -> str:
    """MySQL %-format -> Java DateTimeFormatter pattern; literal LETTERS in
    the input (e.g. the T in ISO timestamps) must be quoted in Java.
    Specifiers with no Java equivalent (%D English day suffix, %w numeric
    weekday, and the %U/%u/%V/%v/%X/%x week-year family) raise SplError at
    plan time — a bare-letter fallback would silently produce a DIFFERENT
    field (e.g. %M month name -> Java 'M' month number)."""
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            if tok not in _MYSQL_TO_JAVA:
                raise SplError(
                    f"processor_spl: unsupported MySQL datetime specifier "
                    f"{tok!r} in format {fmt!r} (supported: "
                    f"{' '.join(sorted(_MYSQL_TO_JAVA))})"
                )
            out.append(_MYSQL_TO_JAVA[tok])
            i += 2
        elif fmt[i].isalpha():
            out.append(f"'{fmt[i]}'")
            i += 1
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


# Presto names that are a pure rename in Spark SQL (argument order and
# semantics already agree). Names NOT listed here and without an arg-aware
# handler below pass through to F.expr unchanged — Spark's own surface
# (coalesce, nullif, if, concat, concat_ws, lower/upper/trim, substr, lpad,
# cardinality, element_at, array_distinct/max/min/position, slice, sequence,
# regexp_like, regexp_replace, date_trunc, greatest/least, abs/ceil/floor/
# round/sqrt/exp/ln/power, count_if, bool_and/bool_or, ...) matches Presto.
_PRESTO_RENAMES = {
    "json_extract_scalar": "get_json_object",
    "json_extract": "get_json_object",
    "to_unixtime": "unix_timestamp",
    "strpos": "instr",              # both: 1-based, 0 when absent
    "contains": "array_contains",
    "starts_with": "startswith",
    "codepoint": "ascii",
    "levenshtein_distance": "levenshtein",
    "approx_distinct": "approx_count_distinct",
    "arbitrary": "any_value",
    "from_hex": "unhex",
    "to_utf8": None,                # handled: encode(x, 'utf-8')
    "from_utf8": None,              # handled: decode(x, 'utf-8')
    "format_datetime": "date_format",  # Joda pattern ~= Java pattern
    "parse_datetime": None,         # handled: to_timestamp(s, fmt)
    "from_iso8601_timestamp": "to_timestamp",
    "from_iso8601_date": "to_date",
    "is_nan": "isnan",
    "infinity": None,               # handled: double('Infinity')
    "nan": None,                    # handled: double('NaN')
    "bitwise_left_shift": "shiftleft",
    "bitwise_right_shift": "shiftright",
    "from_base64": "unbase64",
    "to_base64": "base64",
    "array_agg": "collect_list",    # both: non-deterministic order
    "format": "format_string",      # both: printf-style
    "zip": "arrays_zip",            # array of rows ~= array of structs
    "repeat": "array_repeat",       # Presto repeat(elem, n) builds an ARRAY
    "regexp_split": "split",        # Spark split IS regex-delimited
    "day_of_year": "dayofyear", "doy": "dayofyear",  # both 1-366
    "week": "weekofyear", "week_of_year": "weekofyear",  # both ISO
    "element_at": "try_element_at",  # Presto: NULL past end; ANSI element_at throws
    "day_of_week": None,            # handled: ISO Mon=1 renumbering
    "dow": None,                    # handled: ISO Mon=1 renumbering
    "from_unixtime": None,          # handled: Presto returns TIMESTAMP
    "split_to_map": None,           # handled: literal delims -> str_to_map regex
    "truncate": None,               # handled: toward-zero, stays double
    "to_iso8601": None,             # handled: ISO-8601 date_format
    # corpus-driven widening (core/unittest/spl/spl.txt inventory)
    "day_of_month": "dayofmonth",
    "all_match": "forall",
    "any_match": "exists",
    "reduce": "aggregate",          # same (arr, init, merge[, finish]) order
    "bitwise_arithmetic_shift_right": "shiftright",
    "bitwise_right_shift_arithmetic": "shiftright",
    "bitwise_logical_shift_right": "shiftrightunsigned",
    "bitwise_shift_left": "shiftleft",
    "millisecond": None,            # handled: no Spark extract field
    "year_of_week": None, "yow": None,  # handled: ISO week-year
    "strrpos": None,                # handled: reverse-locate composition
    "from_base": None, "to_base": None,  # handled: conv()
    "is_finite": None, "is_infinite": None,  # handled
    "is_json_scalar": None, "json_size": None,  # handled
    "json_array_contains": None,    # handled
    "none_match": None,             # handled: NOT exists
    "array_max": None, "array_min": None,  # handled: Presto NULL-if-any-null
    "array_average": None,          # handled: single-pass struct fold
    "array_normalize": None,        # handled: p-norm transform
    "bit_count": None,              # handled: Presto 2-arg bit width
}

# Names Spark either lacks entirely or computes with a DIFFERENT algorithm
# under the same name (xxhash64: Presto hashes the raw bytes -> varbinary,
# Spark hashes its internal row encoding with seed 42 -> bigint). Letting
# these pass through to F.expr would silently produce different values, so
# they fail at plan time per the translator's error contract.
_PRESTO_UNMAPPABLE = {
    "hmac_md5", "hmac_sha1", "hmac_sha256", "hmac_sha512",
    "spooky_hash_v2_32", "spooky_hash_v2_64", "xxhash64",
    "empty_approx_set", "combinations",
}

# url_extract_* -> parse_url part keyword
_URL_PARTS = {
    "url_extract_host": "HOST",
    "url_extract_path": "PATH",
    "url_extract_protocol": "PROTOCOL",
    "url_extract_query": "QUERY",
    "url_extract_fragment": "REF",
}

_BITWISE_INFIX = {"bitwise_and": "&", "bitwise_or": "|", "bitwise_xor": "^"}

_REGEX_SPECIALS = re.compile(r"[.^$*+?()\[\]{}|\\]")


def _is_str_literal(s: str) -> bool:
    """True when s is ONE single-quoted SQL literal ('' doubling allowed)."""
    if len(s) < 2 or s[0] != "'" or s[-1] != "'":
        return False
    return "'" not in s[1:-1].replace("''", "")


def _regex_escape_sql(literal_arg: str) -> str:
    """Body of a quoted SQL literal, regex-escaped for re-embedding in a
    Spark SQL string literal. The parser processes backslash escapes inside
    literals (escapedStringLiterals=false default), so the escape must be
    DOUBLED in the emitted SQL text: split(s, '.') -> split(s, '\\\\.').
    '' doubling is unescaped to the raw quote for the regex layer, then
    re-doubled for the emitted literal."""
    lit = literal_arg.strip()[1:-1].replace("''", "'")
    # regex-escape each special char at the REGEX layer only ('.' -> '\.');
    # the SQL-literal layer (Spark's parser processes backslash escapes in
    # string literals) is handled once, at the end, by _sql_escape_literals
    esc = _REGEX_SPECIALS.sub(lambda m: "\\" + m.group(0), lit)
    return esc.replace("'", "''")


def _mysql_literal_to_java(fmt: str) -> str:
    """Rewrap a quoted MySQL-format SQL literal as a Java-pattern literal
    (internal Java quoting like 'T' doubles inside the SQL string)."""
    raw = fmt[1:-1].replace("''", "'")
    return "'" + _mysql_format_to_java(raw).replace("'", "''") + "'"


def _rewrite_call(name: str, args: list[str]) -> str:
    """One Presto call (args already rewritten bottom-up) -> Spark SQL text.

    SLS SPL expressions are Presto-dialect (the reference embeds a prebuilt
    SPL engine, core/plugin/processor/ProcessorSPL.h; its documented function
    surface is Presto's). Where Presto and Spark share a name but diverge in
    semantics, this maps to the PRESTO behavior:

      * split(s, delim): Presto splits on a LITERAL delimiter, Spark on a
        regex -> literal delimiters are regex-escaped.
      * split_part(s, delim, n): Presto returns NULL past the last field,
        Spark '' -> try_element_at over the literal split.
      * regexp_extract(s, p[, g]): Presto returns NULL on no-match (but ''
        when the pattern matched and the group CAPTURED empty) and defaults
        to group 0; Spark returns '' for both and defaults to group 1
        -> case when regexp_like(s, p) then regexp_extract(s, p, g or 0) end.
      * random(n): Presto draws a uniform INTEGER in [0, n); Spark's rand(n)
        treats n as a SEED -> floor(rand() * n).
      * date_format/date_parse use MySQL %-patterns -> Java patterns.
      * date_add/date_diff('unit', ...) -> timestampadd/timestampdiff.
      * to_hex over md5/sha1/sha2 (whose Spark forms already yield lowercase
        hex STRINGS, not varbinary) -> upper(inner); sha256(x) -> sha2(x, 256).
    """
    lname = name.lower()
    inner = ", ".join(args)
    if lname in ("cast", "try_cast") and len(args) == 1:
        # Presto's bare varchar/json types aren't Spark types
        fixed = re.sub(r"(?i)\s+as\s+(varchar|json)\s*$", " as string", args[0])
        return f"{name}({fixed})"
    if lname in _URL_PARTS:
        return f"parse_url({inner}, '{_URL_PARTS[lname]}')"
    if lname == "url_extract_port":
        # Spark's parse_url has no PORT part — take it off AUTHORITY
        # (the $-anchor keeps userinfo 'user:pass@host' colons out)
        return (
            f"try_cast(regexp_extract(parse_url({inner}, 'AUTHORITY'), "
            "':([0-9]+)$', 1) as bigint)"
        )
    if lname == "url_extract_parameter" and len(args) == 2:
        return f"parse_url({args[0]}, 'QUERY', {args[1]})"
    if lname in _BITWISE_INFIX and len(args) == 2:
        return f"({args[0]} {_BITWISE_INFIX[lname]} {args[1]})"
    if lname == "bitwise_not" and len(args) == 1:
        return f"(~{args[0]})"
    if lname == "to_utf8" and len(args) == 1:
        return f"encode({args[0]}, 'utf-8')"
    if lname == "from_utf8" and len(args) == 1:
        return f"decode({args[0]}, 'utf-8')"
    if lname == "infinity" and not args:
        return "double('Infinity')"
    if lname == "nan" and not args:
        return "double('NaN')"
    if lname == "sha256" and len(args) == 1:
        return f"sha2({args[0]}, 256)"
    if lname == "sha512" and len(args) == 1:
        return f"sha2({args[0]}, 512)"
    if lname == "to_hex" and len(args) == 1:
        # Spark's md5/sha1/sha2 already return lowercase hex strings where
        # Presto's return varbinary — hex() of that string would hex the
        # hex CHARACTERS. Presto's to_hex is uppercase.
        if re.match(r"(?i)(md5|sha1|sha2)\s*\(", args[0].strip()):
            return f"upper({args[0]})"
        return f"hex({inner})"
    if lname == "split" and len(args) >= 2 and _is_str_literal(args[1].strip()):
        rest = "".join(f", {a.strip()}" for a in args[2:])
        return f"split({args[0]}, '{_regex_escape_sql(args[1])}'{rest})"
    if lname == "split_part" and len(args) == 3 and _is_str_literal(args[1].strip()):
        esc = _regex_escape_sql(args[1])
        return f"try_element_at(split({args[0]}, '{esc}'), {args[2]})"
    if lname == "regexp_extract" and len(args) in (2, 3):
        grp = args[2].strip() if len(args) == 3 else "0"
        return (
            f"case when regexp_like({args[0]}, {args[1]}) "
            f"then regexp_extract({args[0]}, {args[1]}, {grp}) end"
        )
    if lname == "random":
        if not args:
            return "rand()"
        if len(args) == 1:
            return f"cast(floor(rand() * ({args[0]})) as bigint)"
        raise SplError(
            "processor_spl: random(lower, upper) 2-arg form is not supported"
        )
    if lname == "strpos" and len(args) == 3:
        # Presto: position of the instance-th occurrence (0 when fewer).
        # Spark has no occurrence argument — unroll a locate() chain for a
        # small LITERAL instance; each step restarts one past the previous
        # hit, and nullif/coalesce propagate "ran out of occurrences" to 0.
        inst = args[2].strip()
        if inst.isdigit() and 1 <= int(inst) <= 8:
            e = f"locate({args[1]}, {args[0]})"
            for _ in range(int(inst) - 1):
                e = f"locate({args[1]}, {args[0]}, nullif({e}, 0) + 1)"
            return f"coalesce({e}, 0)"
        raise SplError(
            "processor_spl: strpos(string, substring, instance) supports "
            "only a literal instance in 1..8 (got {!r})".format(inst)
        )
    if lname == "try" and len(args) == 1:
        # Presto try(expr) -> NULL on runtime error. Spark has no generic
        # try() — map the common safe-parse shapes onto Spark's try_ family
        # (the inner call is already rewritten at this point).
        body = args[0].strip()
        m = re.match(r"(?i)(cast|to_timestamp|to_date|to_number|element_at)\s*\(", body)
        if m:
            return "try_" + body[m.start(1) :]
        if re.match(r"(?i)try_\w+\s*\(", body):
            return body  # already a try_ form (e.g. via element_at mapping)
        raise SplError(
            "processor_spl: try() is only supported over "
            "cast/to_timestamp/to_date/to_number/element_at"
        )
    if lname in ("day_of_week", "dow") and len(args) == 1:
        # Presto is ISO (Mon=1..Sun=7); Spark dayofweek is Sun=1..Sat=7
        return f"((dayofweek({args[0]}) + 5) % 7 + 1)"
    if lname == "from_unixtime":
        # Presto returns a TIMESTAMP; Spark's from_unixtime returns a
        # formatted STRING — timestamp_seconds keeps the Presto type
        if len(args) == 1:
            return f"timestamp_seconds({args[0]})"
        raise SplError(
            "processor_spl: from_unixtime with a time zone argument is not "
            "supported (sessions run in a single fixed zone)"
        )
    if lname == "split_to_map" and len(args) == 3:
        # Presto delimiters are LITERAL; Spark str_to_map's are regex
        ed = (
            f"'{_regex_escape_sql(args[1])}'"
            if _is_str_literal(args[1].strip()) else args[1]
        )
        kd = (
            f"'{_regex_escape_sql(args[2])}'"
            if _is_str_literal(args[2].strip()) else args[2]
        )
        return f"str_to_map({args[0]}, {ed}, {kd})"
    if lname == "truncate" and len(args) == 1:
        # toward zero, result stays double (floor alone rounds negatives down)
        return f"(sign({args[0]}) * floor(abs({args[0]})))"
    if lname == "to_iso8601" and len(args) == 1:
        return f"date_format({args[0]}, 'yyyy-MM-dd''T''HH:mm:ss.SSS')"
    if lname == "millisecond" and len(args) == 1:
        return f"cast(date_format({args[0]}, 'SSS') as int)"
    if lname in ("year_of_week", "yow") and len(args) == 1:
        # ISO week-year = calendar year of that week's Thursday (Spark bans
        # the week-based 'YYYY' pattern; date_trunc('week') is the Monday)
        return f"year(date_add(date_trunc('week', {args[0]}), 3))"
    if lname == "strrpos" and len(args) == 2:
        # position of the LAST occurrence: locate in the reversed string,
        # then mirror the index back (0 stays "not found")
        rev = f"locate(reverse({args[1]}), reverse({args[0]}))"
        return (
            f"(case when {rev} = 0 then 0 else "
            f"length({args[0]}) - {rev} - length({args[1]}) + 2 end)"
        )
    if lname == "from_base" and len(args) == 2:
        return f"cast(conv({args[0]}, {args[1]}, 10) as bigint)"
    if lname == "to_base" and len(args) == 2:
        return f"lower(conv(cast({args[0]} as string), 10, {args[1]}))"
    if lname == "is_infinite" and len(args) == 1:
        return f"(abs({args[0]}) = double('Infinity'))"
    if lname == "is_finite" and len(args) == 1:
        return f"(not (isnan({args[0]}) or abs({args[0]}) = double('Infinity')))"
    if lname == "is_json_scalar" and len(args) == 1:
        return (
            f"(get_json_object({args[0]}, '$') is not null "
            f"and json_array_length({args[0]}) is null "
            f"and json_object_keys({args[0]}) is null)"
        )
    if lname == "json_size" and len(args) == 2:
        v = f"get_json_object({args[0]}, {args[1]})"
        return (
            f"(case when {v} is null then null else "
            f"coalesce(json_array_length({v}), size(json_object_keys({v})), 0) end)"
        )
    if lname == "json_array_contains" and len(args) == 2:
        return (
            f"array_contains(from_json({args[0]}, 'array<string>'), "
            f"cast({args[1]} as string))"
        )
    if lname == "none_match" and len(args) == 2:
        return f"(not exists({inner}))"
    if lname in ("array_max", "array_min") and len(args) == 1:
        # Presto returns NULL when the array CONTAINS a null; Spark's
        # array_max/min skip nulls — guard with an exists() probe.
        return (
            f"(case when exists({args[0]}, __e -> __e is null) then null "
            f"else {lname}({args[0]}) end)"
        )
    if lname == "array_average" and len(args) == 1:
        # Presto averages the non-null elements (NULL if there are none).
        # One struct-fold pass: (sum, count) accumulator, finish divides.
        return (
            f"aggregate({args[0]}, "
            f"named_struct('s', cast(0 as double), 'c', cast(0 as bigint)), "
            f"(__a, __e) -> if(__e is null, __a, "
            f"named_struct('s', __a.s + __e, 'c', __a.c + 1)), "
            f"__a -> if(__a.c = 0, cast(null as double), __a.s / __a.c))"
        )
    if lname == "array_normalize" and len(args) == 2:
        # Presto: divide by the p-norm; NULL when any element is null;
        # the array is returned unchanged when p = 0 or the norm is 0
        # (ArrayNormalizeFunction.java). Arrays here are short config
        # vectors — the norm sub-expression repeating per element is
        # acceptable.
        p = args[1].strip()
        # a strict SQL numeric-literal shape, NOT bare float(): Python also
        # parses 'inf'/'nan'/'1_5', which are not Spark SQL literals and
        # would leak past this plan-time gate into an AnalysisException
        if not re.fullmatch(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?", p):
            # non-literal p can't honor Presto's p=0 identity / negative-p
            # error at plan time — fail per the translator's error contract
            # rather than silently diverging at runtime
            raise SplError(
                "processor_spl: array_normalize needs a literal numeric p "
                "(got {!r})".format(p)
            )
        p_lit = float(p)
        if p_lit < 0:
            raise SplError(
                "processor_spl: array_normalize requires a non-negative p "
                "(got {!r})".format(p)
            )
        if p_lit == 0:
            return f"({args[0]})"
        norm = (
            f"power(aggregate({args[0]}, cast(0 as double), "
            f"(__a, __e) -> __a + power(abs(__e), {args[1]})), 1.0 / ({args[1]}))"
        )
        return (
            f"(case when exists({args[0]}, __e -> __e is null) then null "
            f"when {norm} = 0 then {args[0]} "
            f"else transform({args[0]}, __e -> __e / {norm}) end)"
        )
    if lname == "bit_count" and len(args) == 2:
        # Presto bit_count(x, bits) counts over the bits-bit two's-
        # complement form; Spark's 1-arg form is the 64-bit count.
        # Declared divergence: Presto raises when x doesn't FIT in bits
        # bits (a per-row data error); the columnar form masks instead.
        bits = args[1].strip()
        if bits == "64":
            return f"bit_count({args[0]})"
        if bits.isdigit() and 1 <= int(bits) < 64:
            mask = (1 << int(bits)) - 1
            return f"bit_count(({args[0]}) & {mask})"
        raise SplError(
            "processor_spl: bit_count(x, bits) needs a literal bit width "
            "in 1..64 (got {!r})".format(bits)
        )
    if lname == "width_bucket" and len(args) == 2:
        raise SplError(
            "processor_spl: width_bucket(x, bins_array) 2-arg form has no "
            "Spark mapping (the 4-arg bound form is supported)"
        )
    if lname in _PRESTO_UNMAPPABLE:
        raise SplError(
            f"processor_spl: {lname}() has no faithful Spark mapping "
            "(Spark lacks it, or computes a different value under the "
            "same name)"
        )
    if lname == "json_array_get" and len(args) == 2 and args[1].strip().isdigit():
        return f"get_json_object({args[0]}, '$[{args[1].strip()}]')"
    if lname in ("json_parse", "json_format") and len(args) == 1:
        return f"({args[0]})"  # JSON stays its textual form in Spark
    if lname == "date_parse":
        if len(args) == 2:
            fmt = args[1].strip()
            if _is_str_literal(fmt):
                fmt = _mysql_literal_to_java(fmt)
            return f"to_timestamp({args[0].strip()}, {fmt})"
        return f"to_timestamp({inner})"
    if lname == "parse_datetime" and len(args) == 2:
        return f"to_timestamp({args[0]}, {args[1]})"
    if lname == "date_format" and len(args) == 2:
        fmt = args[1].strip()
        if _is_str_literal(fmt) and "%" in fmt:
            return f"date_format({args[0]}, {_mysql_literal_to_java(fmt)})"
        return f"date_format({inner})"
    if lname == "date_add" and len(args) == 3 and _is_str_literal(args[0].strip()):
        unit = args[0].strip()[1:-1]
        return f"timestampadd({unit}, {args[1].strip()}, {args[2].strip()})"
    if lname == "date_diff" and len(args) == 3 and _is_str_literal(args[0].strip()):
        unit = args[0].strip()[1:-1]
        return f"timestampdiff({unit}, {args[1].strip()}, {args[2].strip()})"
    target = _PRESTO_RENAMES.get(lname)
    if target:
        return f"{target}({inner})"
    return f"{name}({inner})"


def _match_paren(s: str, open_idx: int) -> int:
    """Index of the ')' matching s[open_idx]=='(' — quote-aware."""
    depth = 0
    i = open_idx
    while i < len(s):
        ch = s[i]
        if ch in "'\"":
            i = _scan_quote(s, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise SplError(f"unbalanced parentheses in expression: {s!r}")


_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _translate_calls(expr: str) -> str:
    """Quote-aware scan rewriting every function CALL bottom-up through
    :func:`_rewrite_call`; bare identifiers, operators, and string literals
    pass through untouched. Output is still PRESTO-layer text (string
    literals verbatim) — :func:`_sql_escape_literals` finishes the job."""
    out: list[str] = []
    i, n = 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch in "'\"":
            j = _scan_quote(expr, i)
            out.append(expr[i:j])
            i = j
            continue
        m = _IDENT_RE.match(expr, i)
        if m:
            k = m.end()
            while k < n and expr[k] in " \t":
                k += 1
            if k < n and expr[k] == "(":
                close = _match_paren(expr, k)
                inner = _translate_calls(expr[k + 1 : close])
                args = [] if not inner.strip() else [
                    a.strip() for a in _split_top(inner, ",")
                ]
                out.append(_rewrite_call(m.group(0), args))
                i = close + 1
            else:
                out.append(m.group(0))
                i = m.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _sql_escape_literals(expr: str) -> str:
    """Double every backslash inside single-quoted literals. Presto/ANSI SQL
    literals are VERBATIM (backslash is an ordinary char); Spark's parser
    processes backslash escapes in literals (escapedStringLiterals=false
    default), so '\\d' would silently become 'd' in a regex argument. Runs
    ONCE over the fully rewritten expression — every literal present, user
    or handler-generated, is still at the verbatim layer at this point."""
    out: list[str] = []
    i, n = 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch == "'":
            j = _scan_quote(expr, i)
            body = expr[i + 1 : j - 1] if expr[j - 1 : j] == "'" and j > i + 1 else expr[i + 1 : j]
            # '' doubling stays as-is (valid Spark escape); only backslashes
            # move from the verbatim layer to the escaped layer
            out.append("'" + body.replace("\\", "\\\\") + "'")
            i = j
            continue
        if ch == '"':
            # Presto quoted IDENTIFIER. Spark's default parser
            # (doubleQuotedIdentifiers=false) would read "x" as a string
            # LITERAL — rewrite to the backtick form so it stays a column
            # reference. "" doubling unescapes to a raw quote in the name.
            j = _scan_quote(expr, i)
            body = expr[i + 1 : j - 1] if expr[j - 1 : j] == '"' and j > i + 1 else expr[i + 1 : j]
            ident = body.replace('""', '"')
            out.append("`" + ident.replace("`", "``") + "`")
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _translate_expr(expr: str) -> str:
    """Presto-flavored SPL expression -> Spark SQL expression (see the
    module docstring's translation summary and :func:`_rewrite_call`)."""
    return _sql_escape_literals(_translate_calls(expr))


def _unquote_ident(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == '"' and s[-1] == '"':
        return s[1:-1].replace('""', '"')
    return s


def _unquote_str(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
        return s[1:-1].replace("''", "'")
    return s


def _keys_or_rest(rest: str) -> tuple[str, list[str] | None]:
    """Split a trailing explicit ``as k1, k2`` key list off a stage tail."""
    m = _rsplit_as(rest)
    if not m:
        return rest, None
    return m[0].rstrip(", \t"), [_unquote_ident(k) for k in _split_top(m[1], ",")]


_FLAG_RE = re.compile(
    r"^-([a-z][a-z-]*)(?:\s*=\s*('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|\S+))?\s+"
)


def _parse_flags(rest: str) -> tuple[dict[str, object], str]:
    """Peel leading ``-name[='value']`` flags off a stage tail (the SPL
    option syntax the benchmark corpus core/unittest/spl/spl.txt exercises:
    -prefix/-path/-delim/-quote/-strict/-kv-sep/-mode/-regexp/-delims)."""
    flags: dict[str, object] = {}
    while True:
        m = _FLAG_RE.match(rest)
        if not m:
            return flags, rest
        val = m.group(2)
        if val is None:
            flags[m.group(1)] = True
        else:
            flags[m.group(1)] = _unquote_str(val) if val[0] in "'\"" else val
        rest = rest[m.end() :]


def _decode_esc(s: str) -> str:
    """Decode flag-value escapes ('\\t', '\\x09', octal '\\11'); a value the
    codec rejects (e.g. a lone backslash delimiter) passes through raw."""
    if "\\" not in s:
        return s
    try:
        import codecs

        return codecs.decode(s, "unicode_escape")
    except Exception:
        return s


def _stage_parse_json(
    df: DataFrame, rest: str, sample_rows: int | None = None
) -> tuple[DataFrame, list[str]]:
    from loongcollector_spark.operators.parse_json import json_object_map
    from loongcollector_spark.operators.parse_kv import discover_keys

    rest, keys = _keys_or_rest(rest)
    flags, rest = _parse_flags(rest)
    prefix = str(flags.get("prefix", ""))
    tmp = "__spl_json__"
    df = df.withColumn(tmp, F.col(_unquote_ident(rest)))
    if "path" in flags:
        # ``-path='$.body'``: expand the object AT that member path, each
        # step read from the parsed map of the one before
        steps = str(flags["path"]).split(".")
        if steps[0] != "$" or not all(steps[1:]) or any("[" in p for p in steps):
            raise SplError(f"parse-json -path takes a '$.a.b' member path: {flags['path']!r}")
        for step in steps[1:]:
            df = df.withColumn(tmp, F.try_element_at(json_object_map(F.col(tmp)), F.lit(step)))
    if keys is None:
        keys = discover_keys(df, F.json_object_keys(F.col(tmp)), sample_rows)
    df = df.withColumn(tmp, json_object_map(F.col(tmp)))
    members = {prefix + k: F.try_element_at(F.col(tmp), F.lit(k)) for k in keys}
    return df.withColumns(members).drop(tmp), list(members)


def _stage_parse_regexp(df: DataFrame, rest: str) -> tuple[DataFrame, list[str]]:
    """``parse-regexp col, '<pat>' as a, b`` reads group i into the i-th
    key; without ``as``, the named groups ``(?<name>...)`` (or Python's
    ``(?P<name>...)`` spelling, spl.txt line 4) carry the keys. The JVM
    compiles the pattern here, so a bad one fails the compile; every key
    reads one match per row, '' when the pattern does not match."""
    from loongcollector_spark.operators.parse_regex import group, java_groups, match_parts, matched

    m = _rsplit_as(rest)
    args = _split_top(m[0] if m else rest, ",")
    if len(args) != 2:
        raise SplError(f"parse-regexp needs a column and a pattern: {rest!r}")
    src = F.col(_unquote_ident(args[0]))
    pat = _unquote_str(args[1]).replace("(?P<", "(?<")
    try:
        n_groups, named = java_groups(df.sparkSession, pat)
    except ValueError as e:
        raise SplError(f"parse-regexp: bad pattern {pat!r}: {e}") from None
    if m:
        keys = {_unquote_ident(k): i for i, k in enumerate(_split_top(m[1], ","), start=1)}
    else:
        keys = named
    if not keys:
        raise SplError(f"parse-regexp needs 'as a, b' or (?<name>) groups: {rest!r}")
    n = max(keys.values())
    if n > n_groups:
        raise SplError(f"parse-regexp: {len(keys)} keys but {n_groups} groups in {pat!r}")
    tmp = "__spl_regexp_parts__"
    parts = F.col(tmp)
    hit, miss = matched(parts, n), F.when(src.isNotNull(), F.lit(""))
    values = {k: F.when(hit, group(parts, i)).otherwise(miss) for k, i in keys.items()}
    out = df.withColumn(tmp, match_parts(src, pat, n, full_match=False))
    return out.withColumns(values).drop(tmp), list(values)


def _stage_parse_csv(df: DataFrame, rest: str) -> tuple[DataFrame, list[str]]:
    from loongcollector_spark.operators.parse_delimiter import parse_csv

    m = _rsplit_as(rest)
    if not m:
        raise SplError(f"parse-csv needs 'as a, b': {rest!r}")
    flags, left = _parse_flags(m[0])
    col = _unquote_ident(left.rstrip(", \t"))
    keys = [_unquote_ident(n) for n in _split_top(m[1], ",")]
    if not flags:
        return parse_csv(df, col, keys, keep_source=True), keys
    # flag variants (spl.txt): -delim custom separator (escape decoded),
    # -quote custom quote char, -strict = the split arity must equal the key
    # count or every output stays null (public SLS SPL parse-csv contract)
    sep = _decode_esc(str(flags.get("delim", ",")))[:1] or ","
    quote = _decode_esc(str(flags.get("quote", '"')))[:1] or '"'
    schema = ", ".join(f"`{k}` string" for k in keys)
    parsed = F.from_csv(
        F.col(col), F.lit(schema), {"sep": sep, "quote": quote, "escape": quote}
    )
    ok = None
    if "strict" in flags:
        # quote-aware field count: drop quoted runs, then count separators
        q = re.escape(quote)
        stripped = F.regexp_replace(F.col(col), f"{q}(?:[^{q}]|{q}{q})*{q}", "")
        ok = F.size(F.split(stripped, re.escape(sep), -1)) == F.lit(len(keys))
    for k in keys:
        val = parsed.getField(k)
        df = df.withColumn(k, F.when(ok, val) if ok is not None else val)
    return df, keys


def _stage_parse_kv(
    df: DataFrame, rest: str, sample_rows: int | None = None
) -> tuple[DataFrame, list[str]]:
    from loongcollector_spark.operators.parse_kv import discover_keys

    rest, keys = _keys_or_rest(rest)
    flags, rest = _parse_flags(rest)
    prefix = str(flags.get("prefix", ""))
    mode = str(flags.get("mode", "overwrite"))
    if flags.get("regexp"):
        args = _split_top(rest, ",")
        col = _unquote_ident(args[0])
        pat = _unquote_str(args[1])
        kv = F.map_from_arrays(
            F.regexp_extract_all(F.col(col), F.lit(pat), 1),
            F.regexp_extract_all(F.col(col), F.lit(pat), 2),
        )
    elif "delims" in flags:
        delims = re.escape(_decode_esc(str(flags["delims"])))
        kv_sep = re.escape(_decode_esc(str(flags.get("kv-sep", "="))))
        col = _unquote_ident(rest)
        kv = F.str_to_map(F.col(col), F.lit(f"[{delims}]"), F.lit(kv_sep))
    else:
        raise SplError(f"parse-kv needs -regexp or -delims: {rest!r}")
    tmp = "__spl_kv__"
    df = df.withColumn(tmp, kv)
    if keys is None:
        keys = discover_keys(df, F.map_keys(F.col(tmp)), sample_rows)
    for k in keys:
        out_name = prefix + k
        new = F.col(tmp).getItem(k)
        if out_name in df.columns and out_name != tmp:
            # -mode='preserve' keeps a pre-existing field's value; the
            # default overwrites on a hit but keeps the old value on a miss
            new = (
                F.coalesce(F.col(out_name), new)
                if mode == "preserve"
                else F.coalesce(new, F.col(out_name))
            )
        df = df.withColumn(out_name, new)
    return df.drop(tmp), [prefix + k for k in keys]


def _rsplit_keyword(s: str, word: str) -> tuple[str, str] | None:
    """Split at the LAST top-level ' <word> ' (quote/paren aware)."""
    q, depth = None, 0
    best = None
    probe = re.compile(r"\s" + word + r"\s", re.IGNORECASE)
    for i, ch in enumerate(s):
        if q:
            if ch == q:
                q = None
        elif ch in "'\"":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and q is None and probe.match(s[i : i + len(word) + 2]):
            best = i
    if best is None:
        return None
    return s[:best], s[best + len(word) + 2 :]


def _stage_stats(df: DataFrame, rest: str) -> DataFrame:
    """``stats <agg> as <name>[, ...] by k1, k2`` → groupBy().agg(): partial
    aggregation runs map-side, only (group, partial) rows cross the shuffle.
    Presto-style ``count()`` is translated to ``count(*)``."""
    m = _rsplit_keyword(rest, "by")
    if m:
        aggs_text, by_text = m
        by_cols = [_unquote_ident(c) for c in _split_top(by_text, ",")]
    else:
        aggs_text, by_cols = rest, []
    aggs = []
    for part in _split_top(aggs_text, ","):
        named = _rsplit_as(part)
        if not named:
            raise SplError(f"stats aggregate needs 'as <name>': {part!r}")
        expr, name = named
        expr = re.sub(r"\bcount\s*\(\s*\)", "count(*)", _translate_expr(expr.strip()))
        aggs.append(F.expr(expr).alias(_unquote_ident(name)))
    if not aggs:
        raise SplError("stats needs at least one aggregate")
    return df.groupBy(*by_cols).agg(*aggs) if by_cols else df.agg(*aggs)


def _stage_sort(df: DataFrame, rest: str) -> DataFrame:
    """``sort by c1 [desc][, c2 ...]`` — a TOTAL order (range shuffle)."""
    stripped = re.sub(r"^by\s+", "", rest.strip(), flags=re.IGNORECASE)
    if stripped == rest.strip():
        raise SplError(f"sort needs 'by': sort by c1 [desc], got {rest!r}")
    rest = stripped
    cols = []
    for part in _split_top(rest, ","):
        toks = part.strip().split()
        if not toks:
            continue
        name = _unquote_ident(toks[0])
        desc = len(toks) > 1 and toks[1].lower() == "desc"
        cols.append(F.col(name).desc() if desc else F.col(name).asc())
    if not cols:
        raise SplError("sort needs at least one column")
    return df.orderBy(*cols)


def _renames(rest: str) -> list[tuple[str, str]]:
    """The (new, old) name pairs of ``project-rename new=old[, ...]``."""
    return [
        (_unquote_ident(new), _unquote_ident(old))
        for new, _, old in (part.partition("=") for part in _split_top(rest, ","))
    ]


# a string literal, a quoted identifier, or a bare name that is not a field
_NAME = re.compile(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|`(?:[^`]|``)*`|(?<![\w.])[A-Za-z_]\w*")


def _names_read(expr: str) -> set[str]:
    """The lowercased names an SPL expression reads (function names and
    keywords among them, string literals not)."""
    return {
        _unquote_ident(m.strip("`")).lower() for m in _NAME.findall(expr) if m[0] != "'"
    }


# a string literal, a quoted identifier, a word, or any other character
_TOKEN = re.compile(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|`(?:[^`]|``)*`|\w+|\S")


def _conjuncts(expr: str) -> list[str]:
    """The operands of an SPL predicate's top-level ``and``: outside
    parentheses and CASE ... END, and not the ``and`` of a BETWEEN. A
    predicate with a top-level ``or`` (which binds looser) is one operand."""
    bounds, depth, between = [0], 0, 0
    for m in _TOKEN.finditer(expr):
        word = m.group().lower()
        if word in ("(", "case"):
            depth += 1
        elif word in (")", "end"):
            depth -= 1
        elif depth:
            continue
        elif word == "or":
            return [expr]
        elif word == "between":
            between += 1
        elif word == "and" and between:
            between -= 1
        elif word == "and":
            bounds += m.span()
    bounds.append(len(expr))
    return [expr[i:j] for i, j in zip(bounds[::2], bounds[1::2])]


def _predicate(conjuncts: list[str]) -> Column:
    return F.expr(_translate_expr(" and ".join(f"({c})" for c in conjuncts)))


def _apply_stages(
    out: DataFrame, stages: list[str], sample_rows: int | None, computed: frozenset[str]
) -> tuple[DataFrame, frozenset[str]]:
    """``out`` through ``stages``, and the lowercased names of the columns
    an ``extend`` or a parse stage computed (``computed`` on entry). A
    ``where``'s top-level conjuncts that read none of them are one Filter,
    which reaches the scan. The rest drop their rows with ``keep_where``,
    above the computing projection: a Filter would be pushed below it and
    evaluate the extend's expression or the parse again on the rows that
    pass."""
    from loongcollector_spark.operators.parse_common import keep_where

    for stage in stages:
        if not stage:
            continue
        verb, _, rest = stage.partition(" ")
        rest = rest.strip()
        written: list[str] = []
        if verb == "where":
            early, late = [], []
            for c in _conjuncts(rest):
                (late if _names_read(c) & computed else early).append(c)
            if early:
                out = out.filter(_predicate(early))
            if late:
                out = keep_where(out, _predicate(late))
        elif verb == "extend":
            for part in _split_top(rest, ","):
                name, _, expr = part.partition("=")
                name = _unquote_ident(name)
                out = out.withColumn(name, F.expr(_translate_expr(expr.strip())))
                written.append(name)
        elif verb == "project":
            out = out.select(*[_unquote_ident(c) for c in _split_top(rest, ",")])
        elif verb == "project-away":
            out = out.drop(*[_unquote_ident(c) for c in _split_top(rest, ",")])
        elif verb == "project-rename":
            for new, old in _renames(rest):
                out = out.withColumnRenamed(old, new)
                if old.lower() in computed:
                    computed |= {new.lower()}
        elif verb == "parse-json":
            out, written = _stage_parse_json(out, rest, sample_rows)
        elif verb == "parse-regexp":
            out, written = _stage_parse_regexp(out, rest)
        elif verb == "parse-csv":
            out, written = _stage_parse_csv(out, rest)
        elif verb == "parse-kv":
            out, written = _stage_parse_kv(out, rest, sample_rows)
        elif verb == "stats":
            out = _stage_stats(out, rest)
        elif verb == "sort":
            out = _stage_sort(out, rest)
        elif verb == "limit":
            out = out.limit(int(rest))
        else:
            raise SplError(f"unsupported SPL stage {verb!r}")
        computed |= {k.lower() for k in written}
    return out, computed


def _compile_pipeline(
    df: DataFrame,
    text: str,
    bindings: dict[str, tuple[DataFrame, frozenset[str]]],
    sample_rows: int | None,
) -> tuple[DataFrame, frozenset[str], str | None]:
    """Compile one ``head | stage | ...`` pipeline. The head names the
    source: ``*`` (or empty) = the processor input, ``$name`` = a prior
    ``.let`` binding, with the columns its stages computed. Returns
    (result, its computed columns, referenced-binding-name-or-None)."""
    stages = [s.strip() for s in _split_top(text.strip(), "|")]
    ref = None
    if stages and stages[0].startswith("$"):
        ref = stages[0][1:].strip()
        if ref not in bindings:
            raise SplError(f"undefined SPL dataset ${ref}")
        base, computed = bindings[ref]
        stages = stages[1:]
    else:
        if stages and stages[0] in ("*", ""):
            stages = stages[1:]
        base, computed = df, frozenset()
    return (*_apply_stages(base, stages, sample_rows, computed), ref)


def compile_spl(
    df: DataFrame, script: str, *, sample_rows: int | None = None
) -> DataFrame:
    """Compile one linear SPL pipeline into a DataFrame (see module doc for
    the supported subset). ``sample_rows`` bounds dynamic-key discovery for
    parse-json / parse-kv stages without an explicit ``as`` key list."""
    if len(script.encode()) > SPL_QUERY_MAX_SIZE:
        raise SplError(
            f"spl query too large ({len(script.encode())} > {SPL_QUERY_MAX_SIZE} bytes)"
        )
    script = script.strip()
    statements = [s for s in _split_top(script, ";") if s.strip()]
    if len(statements) > 1:
        raise SplError(
            "multi-statement SPL script: use compile_spl_multi for "
            ".let bindings and $name result branches"
        )
    script = statements[0].strip() if statements else ""
    out, _, _ = _compile_pipeline(df, script, {}, sample_rows)
    return out


def compile_spl_multi(
    df: DataFrame, script: str, *, sample_rows: int | None = None
) -> list[tuple[str, DataFrame]]:
    """Compile a multi-statement SPL script into ordered result branches.

    Grammar (ProcessorSPL contract, core/plugin/processor/ProcessorSPL.cpp:
    30-101; exercised by core/unittest/spl/SplUnittest.cpp TestMultiParse):
    ``;``-separated statements, where ``.let name = <pipeline>`` binds a
    dataset and any other statement EMITS a result branch. Each branch maps
    to one output PipelineEventGroup in the reference; here each is a
    DataFrame the caller routes to its sink. Branch names: the ``$ref``
    head if present (suffixed on re-emission), else ``result<i>``.

    Bindings stay lazy logical plans — emitting N branches re-evaluates the
    shared prefix N times unless the caller persists the input (the routed
    write path in pipeline.py materializes once before fan-out)."""
    if len(script.encode()) > SPL_QUERY_MAX_SIZE:
        raise SplError(
            f"spl query too large ({len(script.encode())} > {SPL_QUERY_MAX_SIZE} bytes)"
        )
    bindings: dict[str, tuple[DataFrame, frozenset[str]]] = {}
    results: list[tuple[str, DataFrame]] = []
    for stmt in (s.strip() for s in _split_top(script.strip(), ";")):
        if not stmt:
            continue
        m = re.match(r"^\.let\s+([A-Za-z_]\w*)\s*=\s*(.*)$", stmt, re.DOTALL)
        if m:
            bound, computed, _ = _compile_pipeline(df, m.group(2), bindings, sample_rows)
            bindings[m.group(1)] = bound, computed
            continue
        out, _, ref = _compile_pipeline(df, stmt, bindings, sample_rows)
        name = ref or f"result{len(results)}"
        if any(n == name for n, _ in results):
            name = f"{name}_{len(results)}"
        results.append((name, out))
    if not results:
        raise SplError("multi-statement SPL script emitted no result branch")
    return results


def spl_fanout(
    df: DataFrame, script: str, *, sample_rows: int | None = None
) -> dict[str, DataFrame]:
    """Named result branches of a multi-statement script, for routing each
    to a sink (the reference hands each result group to the flusher chain)."""
    return dict(compile_spl_multi(df, script, sample_rows=sample_rows))


def spl_processor(
    df: DataFrame, script: str, sample_rows: int | None = None
) -> DataFrame:
    """PROCESSORS-registry entry point (processor_spl Script config key;
    ``sample_rows`` bounds dynamic-key discovery, see compile_spl)."""
    return compile_spl(df, script, sample_rows=sample_rows)
