"""JSON field extraction — ``processor_parse_json_native`` /
``processor_json``.

Native semantics (core/plugin/processor/ProcessorParseJsonNative.cpp:105-202):
parse SourceKey as a JSON object; each TOP-LEVEL member becomes one content,
values restringified (nested objects stay one stringified value — depth-1
only). The Go variant (plugins/processor/json/processor_json.go:38-52) adds
``ExpandDepth``/``ExpandConnector``/``Prefix`` recursive flattening.

Spark-first: ``from_json`` to ``map<string,string>`` reproduces the depth-1
restringify semantics in one JVM expression; known keys are projected to real
columns with ``element_at``. Recursive expand uses a VariantType-free
approach: repeated ``from_json`` over stringified sub-objects up to
``expand_depth`` (plan-time unrolling — depth is a config constant, exactly
like the reference's Init-time config).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loongcollector_spark.operators.parse_common import ParserOptions, apply_parser_options

MAP_SCHEMA = "map<string,string>"

# from_json yields a map only for a JSON object, and an object starts with
# "{" after optional JSON whitespace (RFC 8259: space, tab, LF, CR). Testing
# this first skips the JSON parser on every other row; tests pin that the
# gated and ungated results agree on the edge cases.
_OBJECT_START = r"^[ \t\n\r]*\{"


def _from_json_object(src):
    return F.when(src.rlike(_OBJECT_START), F.from_json(src, MAP_SCHEMA))


def parse_json(
    df: DataFrame,
    source_key: str,
    keys: Sequence[str] | None = None,
    options: ParserOptions | None = None,
    map_column: str | None = None,
) -> DataFrame:
    """Depth-1 native JSON parse. If ``keys`` given, project them to columns;
    the full dynamic bag lands in ``map_column`` when requested (the Spark
    stand-in for the reference's schema-less content list)."""
    options = options or ParserOptions()
    tmp = "__json_map__"
    out = df.withColumn(tmp, _from_json_object(F.col(source_key)))
    success = F.col(tmp).isNotNull()

    extracted = {}
    if keys:
        for k in keys:
            extracted[k] = F.try_element_at(F.col(tmp), F.lit(k))
    if map_column:
        extracted[map_column] = F.col(tmp)

    out = apply_parser_options(out, source_key, success, extracted, options)
    return out.drop(tmp)


def expand_json(
    df: DataFrame,
    source_key: str,
    expand_depth: int = 1,
    connector: str = "_",
    prefix: str = "",
    options: ParserOptions | None = None,
    map_column: str = "expanded",
) -> DataFrame:
    """Go processor_json recursive expansion into a flat map column whose keys
    are connector-joined paths (processor_json.go:38-52). Depth unrolled at
    plan time; each level re-parses only values that look like objects."""
    options = options or ParserOptions()
    out = df.withColumn(map_column, _from_json_object(F.col(source_key)))
    success = F.col(map_column).isNotNull()

    for _ in range(max(0, expand_depth - 1)):
        # split entries into nested-object ones (re-parse) and scalar ones
        entries = F.map_entries(F.col(map_column))
        nested = F.filter(entries, lambda e: e["value"].rlike(r"^\s*\{"))
        scalar = F.filter(entries, lambda e: ~e["value"].rlike(r"^\s*\{"))
        exploded = F.flatten(
            F.transform(
                nested,
                lambda e: F.transform(
                    F.map_entries(F.from_json(e["value"], MAP_SCHEMA)),
                    lambda c: F.struct(
                        F.concat(e["key"], F.lit(connector), c["key"]).alias("key"),
                        c["value"].alias("value"),
                    ),
                ),
            )
        )
        merged = F.concat(scalar, exploded)
        out = out.withColumn(
            map_column,
            F.when(success, F.map_from_entries(merged)).otherwise(F.col(map_column)),
        )

    if prefix:
        out = out.withColumn(
            map_column,
            F.map_from_entries(
                F.transform(
                    F.map_entries(F.col(map_column)),
                    lambda e: F.struct(
                        F.concat(F.lit(prefix), e["key"]).alias("key"),
                        e["value"].alias("value"),
                    ),
                )
            ),
        )

    return apply_parser_options(out, source_key, success, {}, options)
