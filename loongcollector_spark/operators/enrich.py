"""Enrichment / scalar derivation — the reference's add/rename/map/mask family.

Every operator here is a pure Column expression or a broadcast join — zero
shuffles on the fact table, which is what makes the enrich stage free at
100TB (it fuses into the scan/parse stage under whole-stage codegen).

Operators (SURVEY.md §2.4): add_fields, rename, dict_map (THE broadcast
lookup), geoip-style prefix lookup, cloud_meta, appender, string_replace,
desensitize, md5, base64 enc/dec, encrypt (aes), packjson, log_to_metric.
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from loongcollector_spark.operators.parse_json import json_object_map

# --- constants / renames -----------------------------------------------------

def add_fields(
    df: DataFrame, fields: Mapping[str, object], ignore_if_exist: bool = True
) -> DataFrame:
    """processor_add_fields (processor_add_fields.go:29-49)."""
    out = df
    for k, v in fields.items():
        if ignore_if_exist and k in out.columns:
            continue
        out = out.withColumn(k, F.lit(v))
    return out


def rename_fields(
    df: DataFrame, mapping: Mapping[str, str], no_key_error: bool = False
) -> DataFrame:
    """processor_rename (processor_rename.go:31-72)."""
    out = df
    for src, dst in mapping.items():
        if src not in out.columns:
            if no_key_error:
                raise KeyError(f"rename: missing key {src}")
            continue
        out = out.withColumnRenamed(src, dst)
    return out


# --- dict_map: the broadcast lookup join ------------------------------------

# a dictionary of at most this many entries compiles to a literal map
MAX_EXPR_SIZE = 64


def dict_map(
    df: DataFrame,
    source_key: str,
    mapping: Mapping[str, str] | DataFrame,
    dest_key: str,
    missing: str | None = None,
    keep_missing: bool = True,
    mode: str = "overwrite",
) -> DataFrame:
    """processor_dict_map (processor_dict_map.go:33-148): map SourceKey value
    through a dictionary into DestKey. The reference's ``Missing`` fires ONLY
    when the SourceKey field is absent from the event (processLog:148-183 —
    an unmapped non-empty value hits the ``else { return }`` branch and the
    event passes through UNCHANGED); the columnar analogue of an absent key
    is a NULL source column, so ``missing`` replaces DestKey only where
    ``source_key IS NULL`` and a plain lookup miss leaves DestKey as the old
    value (or null when DestKey did not pre-exist, matching the reference
    never appending it). ``mode`` is the reference's Mode (:66,137-144):
    when DestKey already carries a value, 'overwrite' replaces it, 'fill'
    keeps it.

    Physical strategy by dictionary size:
    - tiny (≤``MAX_EXPR_SIZE`` entries): a literal ``map[...]`` expression —
      no join at all, folds into codegen (beats any join);
    - otherwise: explicit ``broadcast()`` hash join — no shuffle of the fact
      side, the Spark twin of the reference's in-memory dict.
    """
    if mode not in ("overwrite", "fill"):
        raise ValueError(
            'invalid mode %r, you can only use "fill" or "overwrite" as Mode '
            "(processor_dict_map.go:66)" % mode
        )
    if isinstance(mapping, Mapping) and len(mapping) <= MAX_EXPR_SIZE:
        kv: list[Column] = []
        for k, v in mapping.items():
            kv += [F.lit(k), F.lit(v)]
        lookup = F.try_element_at(F.create_map(*kv), F.col(source_key))
        return _dict_map_finish(
            df, source_key, lookup, dest_key, missing, keep_missing, mode
        )

    # large dictionary: broadcast hash join through a PRIVATE value column —
    # never named dest_key/source_key, so DestKey == SourceKey (the native
    # default) and pre-existing DestKey columns both survive the join
    val = "__dict_map_val__"
    if isinstance(mapping, Mapping):
        spark = SparkSession.getActiveSession()
        dict_df = spark.createDataFrame(
            [(k, v) for k, v in mapping.items()],
            schema=f"`{source_key}` string, `{val}` string",
        )
    else:
        dict_df = mapping.toDF(source_key, val)
    joined = df.join(broadcast(dict_df), on=source_key, how="left")
    out = _dict_map_finish(
        joined, source_key, F.col(val), dest_key, missing, keep_missing, mode
    )
    return out.drop(val)


def _dict_map_finish(
    df: DataFrame,
    source_key: str,
    lookup: Column,
    dest_key: str,
    missing: str | None,
    keep_missing: bool,
    mode: str,
) -> DataFrame:
    """Shared merge/filter tail for both dict_map strategies so the two
    physical paths produce IDENTICAL results: ``keep_missing=False`` drops
    rows whose LOOKUP missed (before the old value merges back).
    Reference parity (processor_dict_map.go:148-186): ``missing`` replaces
    DestKey only where the source column is NULL (absent key); an unmapped
    non-null value leaves the event untouched (the ``else { return }``
    branch), so DestKey keeps its old value — or stays null when it did not
    pre-exist — under EITHER mode. On a hit or a fired ``missing``, a
    pre-existing DestKey follows Mode: 'fill' keeps the old value,
    'overwrite' replaces it (handleMode :137-145)."""
    if not keep_missing and missing is None:
        df = df.filter(lookup.isNotNull())
    if missing is not None:
        mapped = F.when(F.col(source_key).isNull(), F.lit(missing)).otherwise(lookup)
    else:
        mapped = lookup
    if dest_key in df.columns:
        # DestKey == SourceKey (the native default) never consults Mode: the
        # reference replaces the value in place before the DestKey scan runs
        # (processLog:156-159 `return` without handleMode).
        mapped = (
            F.coalesce(F.col(dest_key), mapped)
            if mode == "fill" and dest_key != source_key
            else F.coalesce(mapped, F.col(dest_key))
        )
    return df.withColumn(dest_key, mapped)


def geo_lookup(
    df: DataFrame,
    ip_key: str,
    geo_df: DataFrame,
    prefix_len: int = 2,
) -> DataFrame:
    """processor_geoip analogue (processor_geoip.go:33-50): broadcast
    equi-join on an IP prefix key (first ``prefix_len`` octets). geo_df must
    carry an ``ip_prefix`` column plus attribute columns."""
    prefix = F.concat_ws(
        ".", *[F.split(F.col(ip_key), r"\.")[i] for i in range(prefix_len)]
    )
    out = df.withColumn("ip_prefix", prefix)
    return out.join(broadcast(geo_df), on="ip_prefix", how="left").drop("ip_prefix")


def ip_to_long(col: Column) -> Column:
    """Dotted-quad IPv4 -> unsigned 32-bit value as a long (null for
    non-IPv4 input, mirroring net.ParseIP == nil -> skip)."""
    o = F.split(col, r"\.")
    val = (
        o[0].cast("long") * 16777216
        + o[1].cast("long") * 65536
        + o[2].cast("long") * 256
        + o[3].cast("long")
    )
    ok = col.rlike(r"^(\d{1,3}\.){3}\d{1,3}$") & F.forall(
        o, lambda x: x.cast("int") <= 255
    )
    return F.when(ok, val)


def geo_cidr_lookup(
    df: DataFrame,
    ip_key: str,
    cidr_df: DataFrame,
    cidr_col: str = "cidr",
    longest_prefix: bool = False,
) -> DataFrame:
    """processor_geoip with real CIDR semantics (processor_geoip.go:120-134:
    the MaxMind db.City(ip) longest-prefix lookup): left-join fact IPs
    against a broadcast interval table of networks.

    ``cidr_df`` carries ``cidr`` ("a.b.c.d/k") plus attribute columns
    (reference naming: ``{SourceKey}_country_``, ``{SourceKey}_city_``, ...).

    Scale design: each network expands to its /8 first-octet bucket(s), the
    fact row's bucket is one arithmetic expression, and the join is an
    EQUI-join on bucket with the interval test as a residual predicate —
    broadcast hash join, no shuffle of the fact table, no BNLJ. GeoIP network
    dumps are non-overlapping, so a row matches at most one network; pass
    ``longest_prefix=True`` for overlapping custom tables (adds one window
    over a synthetic row id to pick the most specific match)."""
    return _cidr_join(df, ip_key, cidr_df, cidr_col, longest_prefix).drop("__geo_ip__")


def _cidr_join(
    df: DataFrame, ip_key: str, cidr_df: DataFrame, cidr_col: str, longest_prefix: bool
) -> DataFrame:
    """``geo_cidr_lookup``'s join, keeping the parsed address as
    ``__geo_ip__`` (NULL for an unparseable one)."""
    k = F.split(F.col(cidr_col), "/")[1].cast("int")
    base = ip_to_long(F.split(F.col(cidr_col), "/")[0])
    mask = F.pow(F.lit(2.0), 32 - k).cast("long")
    start = (F.floor(base / mask) * mask).cast("long")
    end = (start + mask - 1).cast("long")
    nets = (
        cidr_df.withColumn("__geo_start__", start)
        .withColumn("__geo_end__", end)
        .withColumn("__geo_prefix__", k)
        .withColumn(
            "__geo_bucket__",
            F.explode(
                F.sequence(
                    (F.col("__geo_start__") / 16777216).cast("int"),
                    (F.col("__geo_end__") / 16777216).cast("int"),
                )
            ),
        )
        .drop(cidr_col)
    )
    fact = df.withColumn("__geo_ip__", ip_to_long(F.col(ip_key))).withColumn(
        "__geo_bucket__", (F.col("__geo_ip__") / 16777216).cast("int")
    )
    cond = (
        (fact["__geo_bucket__"] == nets["__geo_bucket__"])
        & (F.col("__geo_ip__") >= F.col("__geo_start__"))
        & (F.col("__geo_ip__") <= F.col("__geo_end__"))
    )
    if longest_prefix:
        from pyspark.sql import Window

        fact = fact.withColumn("__geo_uid__", F.monotonically_increasing_id())
        joined = fact.join(broadcast(nets), cond, "left").drop(nets["__geo_bucket__"])
        w = Window.partitionBy("__geo_uid__").orderBy(
            F.col("__geo_prefix__").desc_nulls_last()
        )
        joined = (
            joined.withColumn("__geo_rn__", F.row_number().over(w))
            .filter(F.col("__geo_rn__") == 1)
            .drop("__geo_rn__", "__geo_uid__")
        )
    else:
        joined = fact.join(broadcast(nets), cond, "left").drop(nets["__geo_bucket__"])
    return joined.drop("__geo_bucket__", "__geo_start__", "__geo_end__", "__geo_prefix__")


def geo_mmdb_lookup(
    df: DataFrame,
    ip_key: str,
    db_path: str,
    language: str = "zh-CN",
    no_province: bool = False,
    no_city: bool = False,
    no_country: bool = False,
    no_coordinate: bool = False,
    ip_value_flag: bool = False,
    keep_source: bool = True,
) -> DataFrame:
    """processor_geoip with a real MaxMind database (processor_geoip.go:36-66):
    DBPath is parsed ONCE at plan time by the pure-Python reader
    (sources/mmdb.py) into the /8-bucketed broadcast CIDR interval table of
    geo_cidr_lookup — the per-event db.City(ip) longest-prefix lookup
    becomes a broadcast hash join (leaf networks are non-overlapping, so no
    longest-prefix window is needed).

    Reference parity (ProcessGeoIP :120-171): output keys are
    ``{SourceKey}_city_/_province_/_province_code_/_country_/_country_code_``
    and ``_longitude_/_latitude_`` as %.8f strings; a name missing for the
    configured ``Language`` emits no value; ``NoCountry`` gates BOTH country
    and country_code (the Go code never consults NoCountryCode);
    coordinates default to "0.00000000" for any parseable IP with no match
    (db.City returns the zero record, err == nil), while an unparseable IP
    short-circuits with no fields at all. ``IPValueFlag`` reads the value as
    a network-order uint32 (inetNtoa :109-117 — an unparseable integer
    becomes 0.0.0.0, which IS a valid IP, so coordinates still emit);
    ``KeepSource=false`` drops the source column (:97-101)."""
    from loongcollector_spark.sources.mmdb import mmdb_cidr_rows

    spark = df.sparkSession
    rows = mmdb_cidr_rows(db_path, language)
    attrs = {}  # internal -> reference-prefixed output name
    if not no_city:
        attrs["city"] = f"{ip_key}_city_"
    if not no_province:
        attrs["province"] = f"{ip_key}_province_"
        attrs["province_code"] = f"{ip_key}_province_code_"
    if not no_country:
        attrs["country"] = f"{ip_key}_country_"
        attrs["country_code"] = f"{ip_key}_country_code_"
    if not no_coordinate:
        attrs["longitude"] = f"{ip_key}_longitude_"
        attrs["latitude"] = f"{ip_key}_latitude_"
    nets = spark.createDataFrame(
        rows,
        "cidr string, city string, province string, province_code string, "
        "country string, country_code string, longitude string, latitude string",
    ).select("cidr", *[F.col(src).alias(dst) for src, dst in attrs.items()])

    ip_col = "__geo_dotted__"
    if ip_value_flag:
        v = F.coalesce(F.col(ip_key).try_cast("long"), F.lit(0)).bitwiseAND(
            F.lit(4294967295)
        )
        dotted = F.concat_ws(
            ".",
            (v.bitwiseAND(F.lit(0xFF000000)) / 16777216).cast("int").cast("string"),
            (v.bitwiseAND(F.lit(0x00FF0000)) / 65536).cast("int").cast("string"),
            (v.bitwiseAND(F.lit(0x0000FF00)) / 256).cast("int").cast("string"),
            v.bitwiseAND(F.lit(0x000000FF)).cast("int").cast("string"),
        )
    else:
        dotted = F.col(ip_key)
    out = _cidr_join(df.withColumn(ip_col, dotted), ip_col, nets, "cidr", False)
    if not no_coordinate:
        # the address the join parsed, not a second parse of it
        parseable = F.col("__geo_ip__").isNotNull()
        for c in (f"{ip_key}_longitude_", f"{ip_key}_latitude_"):
            out = out.withColumn(
                c, F.when(parseable, F.coalesce(F.col(c), F.lit("0.00000000")))
            )
    out = out.drop(ip_col, "__geo_ip__")
    return out.drop(ip_key) if not keep_source else out


def cloud_meta(df: DataFrame, metadata: Mapping[str, str]) -> DataFrame:
    """processor_cloud_meta: constant metadata injection (region/zone/...)."""
    return add_fields(df, metadata, ignore_if_exist=False)


# --- string derivations ------------------------------------------------------

def appender(df: DataFrame, key: str, value: str, env: Mapping[str, str] | None = None) -> DataFrame:
    """processor_appender (processor_appender.go:34-44): append value (with
    {{env}} substitution resolved at PLAN time) to an existing key."""
    for name, val in (env or {}).items():
        value = value.replace("{{" + name + "}}", val)
    return df.withColumn(key, F.concat(F.coalesce(F.col(key), F.lit("")), F.lit(value)))


def string_replace(
    df: DataFrame,
    source_key: str,
    pattern: str,
    replacement: str,
    dest_key: str | None = None,
    literal: bool = False,
) -> DataFrame:
    """processor_string_replace (processor_string_replace.go:37-83)."""
    import re as _re

    pat = _re.escape(pattern) if literal else pattern
    out_col = F.regexp_replace(F.col(source_key), pat, replacement)
    return df.withColumn(dest_key or source_key, out_col)


def string_unquote(df: DataFrame, source_key: str, dest_key: str | None = None) -> DataFrame:
    """processor_string_replace Method=unquote
    (processor_string_replace.go:98-105): a value wrapped in double quotes is
    unquoted; otherwise the raw value has its quotes protected as \\x22 and
    its escape sequences interpreted (the reference's strconv.Unquote
    round-trip). Escape decode is not expressible as column functions, so
    this is an Arrow-batched pandas UDF. Fully vectorized: every step is a
    pandas C-level string kernel over the batch — the only Python callback
    is the escape-decode closure, invoked per MATCHED ESCAPE, not per row
    (escape-free values never leave C)."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    escape_re = _re.compile(
        r"\\(x[0-9A-Fa-f]{2}|u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|[0-7]{3}|[abfnrtv\\\"])"
    )
    single = {"a": "\a", "b": "\b", "f": "\f", "n": "\n", "r": "\r",
              "t": "\t", "v": "\v", "\\": "\\", '"': '"'}

    def decode(m: "_re.Match") -> str:
        e = m.group(1)
        if e[0] in "xuU":
            return chr(int(e[1:], 16))
        if e[0] in "01234567":
            return chr(int(e, 8))
        return single[e]

    # escapes the vectorized decode() would mis-handle or crash on: \U
    # (value may exceed U+10FFFF -> chr() ValueError), octal with a 4-7
    # lead digit (> 255 is a Go syntax error), and surrogate-range \u
    # (Go's utf8.EncodeRune emits U+FFFD; Python's chr() makes a lone
    # surrogate that breaks Arrow). Rare in real logs -> per-row fallback.
    suspect_re = _re.compile(r"\\(?:U|[4-7][0-7]{2}|u[dD][89a-fA-F])")

    def decode_row(x: str) -> "str | None":
        # Go strconv.unquoteChar accept/reject rules; None = syntax error
        # (caller keeps the ORIGINAL value, processor_string_replace.go:112-115)
        bad = False

        def rep(m: "_re.Match") -> str:
            nonlocal bad
            e = m.group(1)
            if e[0] in "xuU":
                val = int(e[1:], 16)
                if val > 0x10FFFF:
                    bad = True
                    return ""
                if 0xD800 <= val < 0xE000:
                    return "�"
                return chr(val)
            if e[0] in "01234567":
                val = int(e, 8)
                if val > 255:
                    bad = True
                    return ""
                return chr(val)
            return single[e]

        decoded = escape_re.sub(rep, x)
        return None if bad else decoded

    @pandas_udf("string")
    def unq(s: pd.Series) -> pd.Series:
        nn = s.notna()
        if not nn.any():
            return s
        v = s[nn]
        wrapped = (v.str.len() >= 2) & v.str.startswith('"') & v.str.endswith('"')
        body = v.str.slice(1, -1).where(
            wrapped, v.str.replace('"', "\\x22", regex=False)
        )
        # strconv.Unquote's error path (processor_string_replace.go:112-115
        # err != nil -> keep the ORIGINAL value): any backslash/quote that
        # survives removing the valid escapes, or a raw newline, is a Go
        # syntax error — checked on the residue, vectorized
        residue = body.str.replace(escape_re, "", regex=True)
        bad = residue.str.contains(r'[\\"\n\r]', regex=True)
        suspect = body.str.contains(suspect_re, regex=True)
        decoded = body.where(~suspect, "").str.replace(escape_re, decode, regex=True)
        if suspect.any():
            slow = body[suspect].map(decode_row)
            bad = bad | slow.isna().reindex(body.index, fill_value=False)
            decoded[suspect] = slow.fillna("")
        out = s.copy()
        out[nn] = decoded.where(~bad, v)
        return out

    return df.withColumn(dest_key or source_key, unq(F.col(source_key)))


def desensitize(
    df: DataFrame,
    source_key: str,
    regex_begin: str,
    regex_content: str,
    method: str = "const",
    replacement: str = "********",
    dest_key: str | None = None,
) -> DataFrame:
    """processor_desensitize (+_native): mask the content window that follows
    ``regex_begin`` and matches ``regex_content``. method='const' overwrites
    with ``replacement``; method='md5' replaces each window with the md5 of
    its own span. BOTH are pure JVM column expressions (whole-stage codegen,
    no Python in the hot path): regexp_replace can't call functions in the
    replacement, so the md5 variant is a split-and-rebuild — split the value
    on the full pattern (non-window segments), extract the begin/content of
    every window with regexp_extract_all, and interleave
    ``segment + begin + md5(content)`` back with zip_with/aggregate. One
    projection, applies to ALL windows in the value (re.sub parity)."""
    dest = dest_key or source_key
    if method == "const":
        return df.withColumn(
            dest,
            F.regexp_replace(
                F.col(source_key), f"({regex_begin})(?:{regex_content})", "$1" + replacement
            ),
        )

    import re as _re

    col = F.col(source_key)
    full = f"(?:{regex_begin})(?:{regex_content})"
    # group index of the wrapping capture must skip any capture groups the
    # user's begin-regex itself contains (same leftmost-group contract the
    # reference's FindSubmatchIndex slots rely on)
    content_idx = _re.compile(f"(?:{regex_begin})").groups + 2
    begins = F.regexp_extract_all(col, F.lit(f"(({regex_begin})(?:{regex_content}))"), 2)
    contents = F.regexp_extract_all(
        col, F.lit(f"((?:{regex_begin})({regex_content}))"), content_idx
    )
    segments = F.split(col, full, -1)  # n windows -> n+1 segments
    masked = F.zip_with(
        begins, contents, lambda b, c: F.concat(b, F.md5(c.cast("binary")))
    )
    rebuilt = F.concat(
        F.element_at(segments, 1),
        F.aggregate(
            F.zip_with(
                masked,
                F.slice(segments, 2, F.size(masked)),
                lambda m, seg: F.concat(m, seg),
            ),
            F.lit(""),
            lambda acc, x: F.concat(acc, x),
        ),
    )
    return df.withColumn(dest, rebuilt)


def otel_span_shape(
    df: DataFrame,
    trace_id_key: str,
    span_id_key: str,
    name_key: str,
    start_key: str,
    end_key: str | None = None,
    kind: str = "SPAN_KIND_INTERNAL",
    attr_keys: Sequence[str] = (),
) -> DataFrame:
    """processor_otel_trace (plugins/processor/otel/processor_otel_trace.go:53):
    map k/v log fields into the OTel span shape — pure column projection plus
    an attributes map assembled from the remaining keys."""
    attrs = F.map_from_arrays(
        F.array(*[F.lit(k) for k in attr_keys]),
        F.array(*[F.col(k).cast("string") for k in attr_keys]),
    ) if attr_keys else F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
    out = df.select(
        F.col(trace_id_key).cast("string").alias("trace_id"),
        F.col(span_id_key).cast("string").alias("span_id"),
        F.col(name_key).cast("string").alias("span_name"),
        F.lit(kind).alias("span_kind"),
        F.col(start_key).alias("start_time"),
        (F.col(end_key) if end_key else F.col(start_key)).alias("end_time"),
        attrs.alias("attributes"),
    )
    return out


# --- OTLP metric payload -> SLS metric rows ---------------------------------

_OTLP_ATTRS = (
    "array<struct<key:string,value:struct<stringValue:string,intValue:string,"
    "doubleValue:double,boolValue:boolean>>>"
)
_OTLP_EXEMPLARS = (
    f"array<struct<filteredAttributes:{_OTLP_ATTRS},timeUnixNano:string,"
    "asDouble:double,asInt:string,spanId:string,traceId:string>>"
)
_OTLP_DP = (
    f"array<struct<attributes:{_OTLP_ATTRS},timeUnixNano:string,"
    f"asDouble:double,asInt:string,exemplars:{_OTLP_EXEMPLARS}>>"
)
_OTLP_HDP = (
    f"array<struct<attributes:{_OTLP_ATTRS},timeUnixNano:string,sum:double,"
    "count:string,min:double,max:double,explicitBounds:array<double>,"
    f"bucketCounts:array<string>,exemplars:{_OTLP_EXEMPLARS}>>"
)
_OTLP_BUCKETS = "struct<offset:int,bucketCounts:array<string>>"
_OTLP_EHDP = (
    f"array<struct<attributes:{_OTLP_ATTRS},timeUnixNano:string,sum:double,"
    "count:string,min:double,max:double,scale:int,zeroCount:string,"
    f"positive:{_OTLP_BUCKETS},negative:{_OTLP_BUCKETS},"
    f"exemplars:{_OTLP_EXEMPLARS}>>"
)
_OTLP_SDP = (
    f"array<struct<attributes:{_OTLP_ATTRS},timeUnixNano:string,sum:double,"
    "count:string,quantileValues:array<struct<quantile:double,value:double>>>>"
)
_OTLP_BRANCH_DDL = {
    "gauge": f"gauge:struct<dataPoints:{_OTLP_DP}>",
    "sum": f"sum:struct<dataPoints:{_OTLP_DP},isMonotonic:boolean>",
    "histogram": f"histogram:struct<dataPoints:{_OTLP_HDP}>",
    "summary": f"summary:struct<dataPoints:{_OTLP_SDP}>",
    "exponential_histogram":
        f"exponentialHistogram:struct<dataPoints:{_OTLP_EHDP}>",
}
_OTLP_BRANCHES = tuple(_OTLP_BRANCH_DDL)


def _otlp_metrics_schema(branches: tuple[str, ...]) -> str:
    """Metric-payload DDL narrowed to the requested metric families — the
    from_json JSON tokenizer still scans the whole payload but skips
    materializing (and shredding into Tungsten rows) every family the
    caller doesn't read, which is the bulk of the parse cost for the big
    nested branches."""
    if not branches:
        raise ValueError(
            "branches must name at least one metric family of "
            f"{_OTLP_BRANCHES} — an empty selection would emit malformed DDL"
        )
    fields = ",".join(_OTLP_BRANCH_DDL[b] for b in _OTLP_BRANCHES if b in branches)
    return (
        "struct<resourceMetrics:array<struct<"
        f"resource:struct<attributes:{_OTLP_ATTRS}>,"
        f"scopeMetrics:array<struct<metrics:array<struct<name:string,{fields}"
        ">>>>>>>"  # metric struct, metrics array, scopeMetrics struct+array, resourceMetrics struct+array, outer struct
    )


_OTLP_METRICS_SCHEMA = _otlp_metrics_schema(_OTLP_BRANCHES)
_REC_T = "array<struct<name:string,labels:array<string>,t:long,v:double>>"


def _otlp_num_str(c: Column) -> Column:
    """Go strconv 'g'/'f' -1 rendering for the common cases: integral doubles
    print without the trailing .0 (0.5 -> '0.5', 10.0 -> '10')."""
    return F.when(
        c == c.cast("long").cast("double"), c.cast("long").cast("string")
    ).otherwise(c.cast("string"))


def _otlp_attr_kv(attrs: Column) -> Column:
    """OTLP KeyValue list -> array of 'k#$#v' label entries (anyValueToString
    semantics, otlp_metric_parser.go:26-46, for the scalar kinds). Proto3
    JSON omits empty arrays, so a missing attributes field parses as null —
    coalesced to [] here, else every downstream concat would null out."""
    kv = F.transform(
        attrs,
        lambda a: F.concat(
            a["key"],
            F.lit(METRIC_KV_SEP),
            F.coalesce(
                a["value"]["stringValue"],
                a["value"]["intValue"],
                _otlp_num_str(a["value"]["doubleValue"]),
                a["value"]["boolValue"].cast("string"),
                F.lit(""),
            ),
        ),
    )
    return F.coalesce(kv, F.array().cast("array<string>"))


def otel_metric_shape(
    df: DataFrame,
    source_key: str,
    branches: "tuple[str, ...] | list[str] | None" = None,
) -> DataFrame:
    """processor_otel_metric, 'json' format (processor_otel_metric.go:75-90 →
    ConvertOtlpMetricV1 / otlp_metric_parser.go): one OTLP metrics payload
    expands to one SLS metric row per data point — gauge/sum scalar points,
    histogram sum/min/max (when non-zero) + count + CUMULATIVE 'le' buckets
    (otlpDataToSLSProto.go histogram path), summary sum + count + quantile
    rows. Output: __name__, __labels__ (sorted 'k#$#v' entries joined by
    '|' — helper.MetricLabels.String, log_helper.go:209-225), __time_nano__,
    __value__.

    Also emitted, matching the reference parser: exemplar rows
    (exemplarMetricToLogs — one ``name_exemplars`` row per exemplar on
    gauge/sum/histogram/exponential-histogram points, traceId/spanId/
    filtered attributes as labels) and the full ExponentialHistogram branch
    (sum/min/max-when-nonzero + count + per-bucket ``le=`` rows at base
    2^(2^-scale) with positive.offset / negative.offset / zero.count
    pseudo-buckets). Remaining divergence: non-integral bucket boundaries
    render via Spark's double-to-string, which can differ from Go's %v
    shortest-repr in corner cases.

    Spark-first: ONE from_json + a flatten/explode chain of pure column
    expressions — no Python in the row path; the protobuf Format would ride
    a mapInPandas decode slot instead (gated: no otlp wheel in container).

    ``branches`` narrows the parse to a subset of the five metric families
    (``gauge``/``sum``/``histogram``/``summary``/``exponential_histogram``):
    the from_json schema drops the unrequested branches entirely, so their
    (deeply nested) structs are never materialized, and the corresponding
    record generators are skipped. Default None = all families (the
    reference parser's behavior). Rows whose payload carries only pruned
    families produce no output records — same as the reference seeing an
    unset oneof."""
    if branches is None:
        branches = _OTLP_BRANCHES
    branches = tuple(branches)
    unknown = set(branches) - set(_OTLP_BRANCHES)
    if unknown:
        raise ValueError(
            f"unknown otel metric branches {sorted(unknown)}; "
            f"valid: {list(_OTLP_BRANCHES)}"
        )
    empty = F.array().cast(_REC_T)

    parsed = F.from_json(F.col(source_key), _otlp_metrics_schema(branches))
    rm = df.withColumn("__rm__", F.explode(parsed["resourceMetrics"]))
    rm = rm.withColumn("__res_labels__", _otlp_attr_kv(F.col("__rm__.resource.attributes")))
    m = rm.withColumn("__sm__", F.explode("__rm__.scopeMetrics")).withColumn(
        "__m__", F.explode("__sm__.metrics")
    )

    base = F.col("__res_labels__")
    name = F.col("__m__.name")

    empty_s = F.array().cast("array<string>")

    def rec(nm: Column, labels: Column, t: Column, v: Column) -> Column:
        return F.struct(
            nm.alias("name"), labels.alias("labels"), t.alias("t"), v.alias("v")
        )

    def exemplar_recs(exemplars: Column, labels: Column) -> Column:
        """exemplarMetricToLogs (otlp_metric_parser.go:247-266): one
        name_exemplars row per exemplar — traceId/spanId/filteredAttributes
        appended as labels (final label order is sorted downstream, matching
        the Go map's order-independence), value = asDouble|asInt|0."""

        def one(ex: Column) -> Column:
            exlab = F.concat(
                labels,
                F.when(
                    ex["traceId"].isNotNull() & (ex["traceId"] != ""),
                    F.array(F.concat(F.lit("traceId" + METRIC_KV_SEP), ex["traceId"])),
                ).otherwise(empty_s),
                F.when(
                    ex["spanId"].isNotNull() & (ex["spanId"] != ""),
                    F.array(F.concat(F.lit("spanId" + METRIC_KV_SEP), ex["spanId"])),
                ).otherwise(empty_s),
                _otlp_attr_kv(ex["filteredAttributes"]),
            )
            return rec(
                F.concat(name, F.lit("_exemplars")),
                exlab,
                ex["timeUnixNano"].cast("long"),
                F.coalesce(ex["asDouble"], ex["asInt"].cast("double"), F.lit(0.0)),
            )

        return F.coalesce(F.transform(exemplars, one), empty)

    def scalar_recs(dps: Column, extra: Column | None) -> Column:
        def one(dp: Column) -> Column:
            labels = F.concat(base, _otlp_attr_kv(dp["attributes"]))
            if extra is not None:
                labels = F.concat(labels, F.array(extra))
            point = rec(
                name,
                labels,
                dp["timeUnixNano"].cast("long"),
                F.coalesce(dp["asDouble"], dp["asInt"].cast("double")),
            )
            return F.concat(F.array(point), exemplar_recs(dp["exemplars"], labels))

        return F.coalesce(F.flatten(F.transform(dps, one)), empty)

    gauge = (
        scalar_recs(F.col("__m__.gauge.dataPoints"), None)
        if "gauge" in branches else empty
    )
    if "sum" in branches:
        mono = F.concat(
            F.lit("otlp.metric.ismonotonic" + METRIC_KV_SEP),
            F.coalesce(F.col("__m__.sum.isMonotonic"), F.lit(False)).cast("string"),
        )
        summ = scalar_recs(F.col("__m__.sum.dataPoints"), mono)
    else:
        summ = empty

    def hist_recs(dp: Column) -> Column:
        labels = F.concat(base, _otlp_attr_kv(dp["attributes"]))
        t = dp["timeUnixNano"].cast("long")
        cond_rec = lambda c, suffix, v: F.when(  # noqa: E731
            c.isNotNull() & (c != 0),
            F.array(rec(F.concat(name, F.lit(suffix)), labels, t, v)),
        ).otherwise(empty)
        bounds = F.concat(
            F.transform(dp["explicitBounds"], _otlp_num_str),
            F.array(F.lit("+Inf")),
        )
        bc = dp["bucketCounts"]
        n_buckets = F.least(F.size(bounds), F.size(bc))
        buckets = F.when(
            n_buckets > 0,
            F.transform(
                F.sequence(F.lit(1), n_buckets),
                lambda j: rec(
                    F.concat(name, F.lit("_bucket")),
                    F.concat(
                        labels,
                        F.array(F.concat(F.lit("le" + METRIC_KV_SEP), F.element_at(bounds, j))),
                    ),
                    t,
                    F.aggregate(
                        F.slice(bc, 1, j),
                        F.lit(0.0),
                        lambda acc, x: acc + x.cast("double"),
                    ),
                ),
            ),
        ).otherwise(empty)
        return F.concat(
            cond_rec(dp["sum"], "_sum", dp["sum"]),
            cond_rec(dp["min"], "_min", dp["min"]),
            cond_rec(dp["max"], "_max", dp["max"]),
            F.array(
                rec(F.concat(name, F.lit("_count")), labels, t, dp["count"].cast("double"))
            ),
            exemplar_recs(dp["exemplars"], labels),
            buckets,
        )

    hist = (
        F.coalesce(
            F.flatten(F.transform(F.col("__m__.histogram.dataPoints"), hist_recs)),
            empty,
        )
        if "histogram" in branches else empty
    )

    def exp_hist_recs(dp: Column) -> Column:
        """exponentialHistogram2Logs (otlp_metric_parser.go:78-120): sum/min/
        max when non-zero, count always, exemplars, then one name_bucket row
        per base-2^(2^-scale) bucket with the reference's `le=` keys —
        positive `(lower,upper]`, negative `[-upper,-lower)` — plus the
        positive.offset / negative.offset / zero.count pseudo-buckets.
        Boundary rendering uses the integral-clean formatter; a non-integral
        boundary may differ from Go's %v in shortest-repr corner cases."""
        labels = F.concat(base, _otlp_attr_kv(dp["attributes"]))
        t = dp["timeUnixNano"].cast("long")
        cond_rec = lambda c, suffix, v: F.when(  # noqa: E731
            c.isNotNull() & (c != 0),
            F.array(rec(F.concat(name, F.lit(suffix)), labels, t, v)),
        ).otherwise(empty)
        b = F.pow(F.lit(2.0), F.pow(F.lit(2.0), -dp["scale"].cast("double")))

        def brec(key: Column, v: Column) -> Column:
            return rec(
                F.concat(name, F.lit("_bucket")),
                F.concat(labels, F.array(F.concat(F.lit("le" + METRIC_KV_SEP), key))),
                t,
                v,
            )

        def side(bkts: Column, positive: bool) -> Column:
            off = F.coalesce(bkts["offset"], F.lit(0))
            counts = F.coalesce(bkts["bucketCounts"], empty_s)

            def one(i: Column) -> Column:
                lower = F.pow(b, (off + i).cast("double"))
                upper = lower * b
                if positive:
                    key = F.concat(
                        F.lit("("), _otlp_num_str(lower), F.lit(","),
                        _otlp_num_str(upper), F.lit("]"),
                    )
                else:
                    key = F.concat(
                        F.lit("["), _otlp_num_str(-upper), F.lit(","),
                        _otlp_num_str(-lower), F.lit(")"),
                    )
                return brec(key, F.element_at(counts, i + 1).cast("double"))

            rows = F.when(
                F.size(counts) > 0,
                F.transform(F.sequence(F.lit(0), F.size(counts) - 1), one),
            ).otherwise(empty)
            off_key = "positive.offset" if positive else "negative.offset"
            return F.concat(
                rows, F.array(brec(F.lit(off_key), off.cast("double")))
            )

        return F.concat(
            cond_rec(dp["sum"], "_sum", dp["sum"]),
            cond_rec(dp["min"], "_min", dp["min"]),
            cond_rec(dp["max"], "_max", dp["max"]),
            F.array(
                rec(F.concat(name, F.lit("_count")), labels, t, dp["count"].cast("double"))
            ),
            exemplar_recs(dp["exemplars"], labels),
            side(dp["positive"], True),
            F.array(
                brec(
                    F.lit("zero.count"),
                    F.coalesce(dp["zeroCount"].cast("double"), F.lit(0.0)),
                )
            ),
            side(dp["negative"], False),
        )

    exp_hist = (
        F.coalesce(
            F.flatten(
                F.transform(
                    F.col("__m__.exponentialHistogram.dataPoints"), exp_hist_recs
                )
            ),
            empty,
        )
        if "exponential_histogram" in branches else empty
    )

    def summary_recs(dp: Column) -> Column:
        labels = F.concat(base, _otlp_attr_kv(dp["attributes"]))
        t = dp["timeUnixNano"].cast("long")
        quantiles = F.coalesce(
            F.transform(
                dp["quantileValues"],
                lambda q: rec(
                    name,
                    F.concat(
                        labels,
                        F.array(F.concat(F.lit("quantile" + METRIC_KV_SEP), _otlp_num_str(q["quantile"]))),
                    ),
                    t,
                    q["value"],
                ),
            ),
            empty,
        )
        return F.concat(
            F.array(
                rec(F.concat(name, F.lit("_sum")), labels, t, dp["sum"]),
                rec(F.concat(name, F.lit("_count")), labels, t, dp["count"].cast("double")),
            ),
            quantiles,
        )

    summary = (
        F.coalesce(
            F.flatten(F.transform(F.col("__m__.summary.dataPoints"), summary_recs)),
            empty,
        )
        if "summary" in branches else empty
    )

    out = m.withColumn(
        "__rec__", F.explode(F.concat(gauge, summ, hist, summary, exp_hist))
    )
    return out.select(
        *[c for c in df.columns if c != source_key],
        F.col("__rec__.name").alias("__name__"),
        F.array_join(F.sort_array(F.col("__rec__.labels")), METRIC_LABEL_SEP).alias(
            "__labels__"
        ),
        F.col("__rec__.t").alias("__time_nano__"),
        F.col("__rec__.v").alias("__value__"),
    )


_OTLP_SPANS_SCHEMA = (
    "struct<resourceSpans:array<struct<"
    f"resource:struct<attributes:{_OTLP_ATTRS}>,"
    "scopeSpans:array<struct<scope:struct<name:string,version:string>,"
    "spans:array<struct<"
    "traceId:string,spanId:string,parentSpanId:string,name:string,"
    "kind:string,traceState:string,"
    "startTimeUnixNano:string,endTimeUnixNano:string,"
    f"attributes:{_OTLP_ATTRS},"
    "status:struct<code:string,message:string>"
    ">>>>>>>"  # span struct, spans array, scopeSpans struct+array, resourceSpans struct+array, outer struct
)

_SPAN_KINDS = {
    "1": "internal", "2": "server", "3": "client", "4": "producer", "5": "consumer",
    "SPAN_KIND_INTERNAL": "internal", "SPAN_KIND_SERVER": "server",
    "SPAN_KIND_CLIENT": "client", "SPAN_KIND_PRODUCER": "producer",
    "SPAN_KIND_CONSUMER": "consumer",
}


def _otlp_attr_json(attrs: Column) -> Column:
    """keyValueToString (otlp_trace_parser.go:503-515): attributes as a JSON
    object of stringified scalar values, keys sorted (Go json.Marshal of a
    map sorts keys)."""
    entries = F.coalesce(
        F.transform(
            attrs,
            lambda a: F.struct(
                a["key"].alias("key"),
                F.coalesce(
                    a["value"]["stringValue"],
                    a["value"]["intValue"],
                    _otlp_num_str(a["value"]["doubleValue"]),
                    a["value"]["boolValue"].cast("string"),
                    F.lit(""),
                ).alias("value"),
            ),
        ),
        F.array().cast("array<struct<key:string,value:string>>"),
    )
    # drop null keys and dedupe LAST-wins (the Go map semantics): real OTLP
    # traffic does carry duplicate attribute keys, and map_from_entries would
    # otherwise throw under the default mapKeyDedupPolicy=EXCEPTION
    entries = F.filter(entries, lambda e: e["key"].isNotNull())
    entries = F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + 2, F.size(entries)),
            lambda later: later["key"] == e["key"],
        ),
    )
    return F.to_json(F.map_from_entries(F.array_sort(entries)))


_OTLP_LOGS_SCHEMA = (
    "struct<resourceLogs:array<struct<"
    f"resource:struct<attributes:{_OTLP_ATTRS}>,"
    "scopeLogs:array<struct<logRecords:array<struct<"
    "timeUnixNano:string,severityNumber:string,severityText:string,"
    "body:struct<stringValue:string,intValue:string,doubleValue:double,"
    "boolValue:boolean>,"
    f"attributes:{_OTLP_ATTRS}"
    ">>>>>>>"  # record struct+array, scopeLogs struct+array, resourceLogs struct+array, outer struct
)


def otel_log_parse(df: DataFrame, source_key: str) -> DataFrame:
    """OTLP logs payload (JSON) -> one row per logRecord, the reference's
    decode shape (otlpDataToSLSProto.go ConvertOtlpLogV1:280-338): columns
    time_unix_nano / severity_number / severity_text / content (body as
    string) / attributes / resources — the latter two as sorted-key JSON
    objects of stringified values (Go json.Marshal of a map), null when the
    attribute set is empty (the reference appends the field only when
    non-empty). One from_json + explode chain, pure JVM."""
    parsed = F.from_json(F.col(source_key), _OTLP_LOGS_SCHEMA)
    rl = df.withColumn("__rl__", F.explode(parsed["resourceLogs"]))
    rl = rl.withColumn(
        "__res_json__",
        F.when(
            F.size(
                F.coalesce(
                    F.col("__rl__.resource.attributes"),
                    F.array().cast(_OTLP_ATTRS),
                )
            )
            > 0,
            _otlp_attr_json(F.col("__rl__.resource.attributes")),
        ),
    )
    rec = rl.withColumn("__sl__", F.explode("__rl__.scopeLogs")).withColumn(
        "__lr__", F.explode("__sl__.logRecords")
    )
    r = F.col("__lr__")
    body = F.coalesce(
        r["body"]["stringValue"],
        r["body"]["intValue"],
        _otlp_num_str(r["body"]["doubleValue"]),
        r["body"]["boolValue"].cast("string"),
        F.lit(""),
    )
    attrs_json = F.when(
        F.size(F.coalesce(r["attributes"], F.array().cast(_OTLP_ATTRS))) > 0,
        _otlp_attr_json(r["attributes"]),
    )
    return rec.select(
        *[c for c in df.columns if c != source_key],
        F.coalesce(r["timeUnixNano"], F.lit("0")).alias("time_unix_nano"),
        F.coalesce(r["severityNumber"], F.lit("0")).alias("severity_number"),
        F.coalesce(r["severityText"], F.lit("")).alias("severity_text"),
        body.alias("content"),
        attrs_json.alias("attributes"),
        F.col("__res_json__").alias("resources"),
    )


def otel_trace_parse(df: DataFrame, source_key: str) -> DataFrame:
    """processor_otel_trace, 'json' format (processor_otel_trace.go:140 →
    ConvertResourceSpans / otlp_trace_parser.go:291-470): one OTLP trace
    payload expands to one row per span with the reference's field names —
    traceID/spanID/parentSpanID (hex as carried by OTLP JSON), name, short
    kind, traceState, start/end/duration in MICROseconds, attribute as a
    sorted JSON object, statusCode OK/ERROR/UNSET, statusMessage, plus the
    resource attributes as a JSON object. Divergence: a missing end time
    falls back to start (the reference stamps now(), nondeterministic).

    One from_json + explode chain; no Python in the row path."""
    out_names = {
        "resource", "otlp_name", "otlp_version", "traceID", "spanID",
        "parentSpanID", "name", "kind", "traceState", "start", "end",
        "duration", "attribute", "statusCode", "statusMessage",
    }
    conflicts = [c for c in df.columns if c != source_key and c in out_names]
    if conflicts:
        df = df.drop(*conflicts)  # span fields own these names (overwrite)

    parsed = F.from_json(F.col(source_key), _OTLP_SPANS_SCHEMA)
    rs = df.withColumn("__rs__", F.explode(parsed["resourceSpans"]))
    rs = rs.withColumn("__res_json__", _otlp_attr_json(F.col("__rs__.resource.attributes")))
    sp = rs.withColumn("__ss__", F.explode("__rs__.scopeSpans")).withColumn(
        "__sp__", F.explode("__ss__.spans")
    )
    s = F.col("__sp__")
    kind_expr: Column = F.lit("unknown")
    for raw, short in _SPAN_KINDS.items():
        kind_expr = F.when(s["kind"] == raw, short).otherwise(kind_expr)
    # nano->micro must be INTEGER division: epoch-nanosecond values exceed
    # 2^53, so a double `/ 1000` rounds by up to 256ns before truncation
    sp = sp.withColumn("__start_ns__", s["startTimeUnixNano"].cast("long")).withColumn(
        "__end_ns__",
        F.coalesce(s["endTimeUnixNano"].cast("long"), s["startTimeUnixNano"].cast("long")),
    )
    start_us = F.expr("__start_ns__ div 1000")
    end_us = F.expr("__end_ns__ div 1000")
    code = F.coalesce(s["status"]["code"], F.lit(""))
    status = (
        F.when(code.isin("2", "STATUS_CODE_ERROR"), "ERROR")
        .when(code.isin("1", "STATUS_CODE_OK"), "OK")
        .otherwise("UNSET")
    )
    return sp.select(
        *[c for c in df.columns if c != source_key],
        F.col("__res_json__").alias("resource"),
        F.coalesce(F.col("__ss__.scope.name"), F.lit("")).alias("otlp_name"),
        F.coalesce(F.col("__ss__.scope.version"), F.lit("")).alias("otlp_version"),
        F.lower(F.coalesce(s["traceId"], F.lit(""))).alias("traceID"),
        F.lower(F.coalesce(s["spanId"], F.lit(""))).alias("spanID"),
        F.lower(F.coalesce(s["parentSpanId"], F.lit(""))).alias("parentSpanID"),
        F.coalesce(s["name"], F.lit("")).alias("name"),
        kind_expr.alias("kind"),
        F.coalesce(s["traceState"], F.lit("")).alias("traceState"),
        start_us.cast("string").alias("start"),
        end_us.cast("string").alias("end"),
        (end_us - start_us).cast("string").alias("duration"),
        _otlp_attr_json(s["attributes"]).alias("attribute"),
        status.alias("statusCode"),
        F.coalesce(s["status"]["message"], F.lit("")).alias("statusMessage"),
    )


def anchor(
    df: DataFrame,
    source_key: str,
    start: str,
    stop: str,
    dest_key: str,
    expand_json: bool = False,
    json_keys: Sequence[str] | None = None,
) -> DataFrame:
    """processor_anchor (plugins/processor/anchor/anchor.go:43-66): extract
    the substring between the ``start`` and ``stop`` anchor strings into
    ``dest_key``; optionally expand the extracted span as JSON members, each
    read from one parse of the span (``parse_json.json_object_map``)."""
    pat = f"{re.escape(start)}(.*?){re.escape(stop)}"
    out = df.withColumn(dest_key, F.regexp_extract(F.col(source_key), pat, 1))
    if expand_json and json_keys:
        tmp = "__anchor_json__"
        out = out.withColumn(tmp, json_object_map(F.col(dest_key)))
        members = {k: F.try_element_at(F.col(tmp), F.lit(k)) for k in json_keys}
        out = out.withColumns(members).drop(tmp)
    return out


def anchor_multi(
    df: DataFrame, source_key: str, anchors: Sequence[Mapping[str, Any]]
) -> DataFrame:
    """processor_anchor with its full ``Anchors`` list (anchor.go:30-41):
    each entry extracts one span; entries apply in order."""
    out = df
    for a in anchors:
        out = anchor(
            out, source_key, a["start"], a["stop"], a["dest_key"],
            expand_json=bool(a.get("expand_json", False)),
            json_keys=a.get("json_keys"),
        )
    return out


def md5_field(df: DataFrame, source_key: str, md5_key: str) -> DataFrame:
    """processor_md5 (processor_md5.go:26-32)."""
    return df.withColumn(md5_key, F.md5(F.col(source_key)))


def base64_encode(df: DataFrame, source_key: str, dest_key: str | None = None) -> DataFrame:
    return df.withColumn(dest_key or source_key, F.base64(F.col(source_key).cast("binary")))


def base64_decode(df: DataFrame, source_key: str, dest_key: str | None = None) -> DataFrame:
    """processor_base64_decoding: the decoded bytes as a string, NULL for a
    value that is not base64 (a character outside the alphabet, a length
    that is not whole, wrong padding) and for NULL. Line breaks are skipped,
    as Go's ``base64.StdEncoding`` skips carriage returns and line feeds,
    so a wrapped value decodes whole. One malformed value must not abort the job, as
    ``unbase64`` does under ANSI for some (``"xxxxx"``) while it decodes
    others to ``""`` (``"{"``); ``try_to_binary`` gives NULL for both. Bytes
    that are not UTF-8 read as U+FFFD."""
    unwrapped = F.translate(F.col(source_key), "\r\n", "")
    decoded = F.try_to_binary(unwrapped, F.lit("base64"))
    return df.withColumn(dest_key or source_key, decoded.cast("string"))


def encrypt_fields(
    df: DataFrame,
    keys: Sequence[str],
    key: str,
    mode: str = "GCM",
    iv_hex: str | None = None,
    output: str = "base64",
) -> DataFrame:
    """processor_encrypt — Spark's aes_encrypt builtin.

    Reference parity (processor_encrypt.go:121-151: AES-CBC, PKCS7, hex key
    + hex IV from config, hex-encoded ciphertext, explicit IV NOT prepended):
    call with ``mode='CBC', iv_hex=<32 hex chars>, output='hex'`` and a
    hex-encoded key. Spark's CBC output prepends the 16-byte IV, so the
    reference layout is ``substr(ciphertext, 17)``. The GCM default stays
    for new pipelines (CBC with a fixed IV leaks equal-plaintext equality).

    Key/IV are validated at PLAN time, mirroring the reference Init
    (parseKey/parseIV, processor_encrypt.go:154-201: hex decode, AES key
    length, IV == block size) — a bad key raises here instead of unhex()
    silently nulling every encrypted field at runtime; values reach the plan
    only through bound literals, never interpolated SQL text."""
    out = df
    for k in keys:
        if mode.upper() == "CBC":
            iv = iv_hex if iv_hex is not None else "00" * 16
            key_b = _require_hex("Key", key, lengths=(16, 24, 32))
            _require_hex("IV", iv, lengths=(16,))
            del key_b
            enc = F.aes_encrypt(
                F.col(k).cast("binary"),
                F.unhex(F.lit(key)),
                F.lit("CBC"),
                F.lit("PKCS"),
                F.unhex(F.lit(iv)),
            ).substr(F.lit(17), F.octet_length(F.col(k)) + 32)
            value = F.lower(F.hex(enc)) if output == "hex" else F.base64(enc)
        else:
            enc = F.aes_encrypt(F.col(k).cast("binary"), F.lit(key), F.lit(mode))
            value = F.lower(F.hex(enc)) if output == "hex" else F.base64(enc)
        out = out.withColumn(k, value)
    return out


def _require_hex(what: str, value: str, lengths: tuple[int, ...]) -> bytes:
    """parseKey/parseIV validation (processor_encrypt.go:154-201): the value
    must hex-decode and the decoded byte length must be one of ``lengths``."""
    try:
        raw = bytes.fromhex(value or "")
    except ValueError as e:
        raise ValueError(
            f"processor_encrypt: {what} is not valid hex "
            f"(processor_encrypt.go parseKey/parseIV): {e}"
        ) from None
    if len(raw) not in lengths:
        raise ValueError(
            f"processor_encrypt: {what} decodes to {len(raw)} bytes, "
            f"expected one of {lengths} (processor_encrypt.go:176-199)"
        )
    return raw


def pack_json(df: DataFrame, source_keys: Sequence[str], dest_key: str, drop_packed: bool = False) -> DataFrame:
    """processor_packjson (processor_packjson.go:31-39): pack several keys
    into one JSON object value."""
    out = df.withColumn(dest_key, F.to_json(F.struct(*[F.col(k) for k in source_keys])))
    if drop_packed:
        out = out.drop(*source_keys)
    return out


# --- log -> metric shaping ---------------------------------------------------

# The SLS metric label wire format (helper.MetricLabels.String,
# pkg/helper/log_helper.go:209-225): entries are ``key#$#value`` sorted by
# key and joined by ``|``. Sorting the rendered entry strings equals sorting
# by key because '#' (0x23) precedes every character the label-key regex
# ^[a-zA-Z_][a-zA-Z0-9_]*$ admits.
METRIC_KV_SEP = "#$#"
METRIC_LABEL_SEP = "|"

_METRIC_LABEL_KEY_RE = r"^[a-zA-Z_][a-zA-Z0-9_]*$"
_METRIC_NAME_RE = r"^[a-zA-Z_:][a-zA-Z0-9_:]*$"


def _label_entry(key: str, value: Column) -> Column:
    return F.concat(F.lit(key + METRIC_KV_SEP), value.cast("string"))


def _label_value_ok(value: Column) -> Column:
    """A label value may not contain the entry or k/v separator
    (processor_log_to_sls_metric.go errInvalidMetricLabelValue)."""
    v = value.cast("string")
    return (
        v.isNotNull()
        & ~v.contains(METRIC_LABEL_SEP)
        & ~v.contains(METRIC_KV_SEP)
    )


def log_to_metric(
    df: DataFrame,
    label_keys: Sequence[str],
    name_key: str | None = None,
    value_key: str | None = None,
    time_col: str | None = None,
    *,
    metric_values: Mapping[str, str] | None = None,
    custom_labels: Mapping[str, str] | None = None,
    time_key: str | None = None,
) -> DataFrame:
    """processor_log_to_sls_metric (logtoslsmetric/processor_log_to_sls_metric.go):
    project log fields into the SLS metric shape. ``metric_values`` maps a
    name FIELD to a value FIELD — one metric row is emitted per pair per log
    (go:309-333); the legacy 2-arg form is the single pair
    ``{name_key: value_key}``. ``__labels__`` renders the sorted
    ``key#$#value|...`` wire format; ``custom_labels`` adds constant entries
    (CustomMetricLabels, validated at plan time).

    Reference-faithful drop semantics (the Go skips the WHOLE log on any
    violation, go:175-302): name must match ^[a-zA-Z_:][a-zA-Z0-9_:]*$,
    value must parse as a double, every label field must be present with a
    value free of '|'/'#$#', and ``time_key`` (MetricTimeKey) must be an
    epoch of exactly 10/13/16/19 digits — normalized to nanoseconds by
    zero-padding (go:255-275). ``time_col`` is the fallback log-time source
    (seconds, numeric) used when no MetricTimeKey is configured."""
    if metric_values is None:
        if name_key is None or value_key is None:
            raise ValueError("log_to_metric: metric_values or name_key+value_key required")
        metric_values = {name_key: value_key}
    if not metric_values:
        raise ValueError("log_to_metric: MetricValues must be non-empty")
    if not label_keys and not custom_labels:
        raise ValueError("log_to_metric: MetricLabelKeys and CustomMetricLabels are empty")
    for k in list(label_keys) + list(custom_labels or {}):
        if not re.match(_METRIC_LABEL_KEY_RE, k):
            raise ValueError(f"log_to_metric: invalid label key {k!r}")
    for v in (custom_labels or {}).values():
        if METRIC_LABEL_SEP in v or METRIC_KV_SEP in v:
            raise ValueError(f"log_to_metric: invalid label value {v!r}")
    # errFieldRepeated (go:96-160): every field name across __labels__,
    # label keys, custom labels, and the MetricValues name/value fields
    # must be distinct
    seen = {"__labels__"}
    for fld in (*label_keys, *(custom_labels or {}),
                *metric_values.keys(), *metric_values.values()):
        if fld in seen:
            raise ValueError(f"log_to_metric: the field is repeated: {fld!r} "
                             "(processor_log_to_sls_metric.go errFieldRepeated)")
        seen.add(fld)

    entries = [_label_entry(k, F.col(k)) for k in label_keys] + [
        F.concat(F.lit(k + METRIC_KV_SEP + v)) for k, v in (custom_labels or {}).items()
    ]
    labels_ok = F.lit(True)
    for k in label_keys:
        labels_ok = labels_ok & _label_value_ok(F.col(k))

    entries_arr = F.array(*entries)
    if "__labels__" in df.columns:
        # an incoming __labels__ field merges into the output labels
        # (go:187-215): each 'k#$#v' entry needs exactly one separator, a
        # regex-valid key not already among MetricLabelKeys, and a clean
        # value — any violation drops the whole log
        incoming = F.split(F.col("__labels__"), re.escape(METRIC_LABEL_SEP))
        entry_re = (
            "^[a-zA-Z_][a-zA-Z0-9_]*" + re.escape(METRIC_KV_SEP) + ".*$"
        )
        key_of = lambda e: F.split(e, re.escape(METRIC_KV_SEP))[0]  # noqa: E731
        # only MetricLabelKeys count as repeats — the Go's metricLabelKeysMap
        # (go:100-117) never holds CustomMetricLabels keys, so an incoming
        # key colliding with a custom label passes and BOTH entries land in
        # the wire format (go:304-306 appends custom labels unconditionally,
        # GetLabel does not dedupe) — reference-faithful duplicate keys
        bad_keys = (
            F.array(*[F.lit(k) for k in label_keys])
            if label_keys else F.array().cast("array<string>")
        )
        labels_ok = labels_ok & F.coalesce(
            F.forall(
                incoming,
                lambda e: e.rlike(entry_re)
                & (F.size(F.split(e, re.escape(METRIC_KV_SEP))) == 2)
                & ~F.array_contains(bad_keys, key_of(e)),
            ),
            F.lit(True),  # null/absent incoming labels: nothing to merge
        )
        # no empty-entry filter needed: any row with an empty entry (empty
        # __labels__, trailing '|') already failed the forall above — the
        # Go drops those logs too (split('', '#$#') has len 1, go:191-194)
        entries_arr = F.concat(
            entries_arr,
            F.coalesce(incoming, F.array().cast("array<string>")),
        )
    labels = F.array_join(F.sort_array(entries_arr), METRIC_LABEL_SEP)

    # one output row per (nameField, valueField) pair; a single invalid
    # name/value drops every pair of that log (the Go validates counts
    # BEFORE emitting, go:286-302)
    pair_ok = F.lit(True)
    recs = []
    for name_field, value_field in metric_values.items():
        nm = F.col(name_field).cast("string")
        val = F.col(value_field).cast("string")
        pair_ok = (
            pair_ok
            & nm.isNotNull() & nm.rlike(_METRIC_NAME_RE)
            & val.isNotNull() & val.try_cast("double").isNotNull()
        )
        recs.append(F.struct(nm.alias("n"), val.cast("double").alias("v")))

    if time_key:
        tv = F.col(time_key).cast("string")
        time_ok = tv.rlike(r"^\d{10}(\d{3}){0,3}$")
        time_nano = F.rpad(tv, 19, "0").cast("long")
    else:
        time_ok = F.lit(True)
        time_nano = (
            (F.col(time_col).cast("double") * 1e9).cast("long")
            if time_col else F.lit(None).cast("long")
        )

    out = (
        df.filter(labels_ok & pair_ok & time_ok)
        .withColumn("__labels__", labels)
        .withColumn("__time_nano__", time_nano)
        .withColumn("__rec__", F.explode(F.array(*recs)))
        .withColumn("__name__", F.col("__rec__.n"))
        .withColumn("__value__", F.col("__rec__.v"))
        .drop("__rec__")
    )
    return out
